"""Serving-latency measurement on a large single-segment index.

BASELINE.md tracks top-k BM25 p50 on a 150k-doc single-segment index —
the worst case for the segment-kernel scorers (one segment task, so
one core does all kernel work; multi-segment indexes parallelize).
Round 2 measured 1.4-2.0 s there with the per-doc pivot-walk kernels;
this script re-measures after the round-3 interval-at-a-time rewrite.

Usage: python scripts/serving_latency_bench.py [--docs 150000] [--reps 5]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    ("or", ("def", "return")),
    ("or", ("import", "class")),
    ("or", ("func", "var", "struct")),
    ("and", ("def", "return")),
    ("and", ("import", "if")),
    ("or", ("async", "await")),
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=150_000)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args()

    from quicker_spark.engine import SearchEngine
    from quicker_spark.fixtures import corpus_df
    from quicker_spark.operators.build import IndexConfig, build_index
    from quicker_spark.plans.term_query import And, NewTermQuery, Or
    from quicker_spark.session import get_spark

    spark = get_spark(cores=args.cpus, shuffle_partitions=args.cpus * 2,
                      driver_memory="16g")
    out = tempfile.mkdtemp(prefix="quicker_lat_")
    shutil.rmtree(out, ignore_errors=True)
    # single segment: seg_docs >= docs
    build_index(spark, corpus_df(spark, args.docs, partitions=args.cpus * 2),
                out, IndexConfig(seg_docs=max(args.docs, 200_000)),
                resume=False)
    eng = SearchEngine(spark, out)

    results = {}
    for mode in ("wand", "conj", "taat", "auto"):
        lats = []
        for _ in range(args.reps):
            for kind, terms in QUERIES:
                if mode == "wand" and kind != "or":
                    continue
                if mode == "conj" and kind != "and":
                    continue
                q = (Or if kind == "or" else And)(
                    *[NewTermQuery("content", t) for t in terms])
                t0 = time.time()
                eng.search(q, k=10, mode=mode).collect()
                lats.append(time.time() - t0)
        lats.sort()
        results[mode] = {
            "p50_sec": round(statistics.median(lats), 3),
            "min_sec": round(lats[0], 3),
            "max_sec": round(lats[-1], 3),
            "n": len(lats),
        }
    print(json.dumps({"docs": args.docs, "cpus": args.cpus, **results}))
    shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
