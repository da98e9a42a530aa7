"""Multi-segment serving: 1M-doc p50 + batched throughput (queries/sec).

BENCH.md's serving p50 was measured on a 150k-doc SINGLE-segment index —
the kernel worst case (one segment task = one core does all the
scoring). This script measures the scale shape instead: a 1M-doc,
multi-segment index where segments score in parallel (Spark's stage
execution IS the reference's scatter-gather, sentinel.go:137-187), plus
`SearchEngine.search_many` batch throughput — N heterogeneous queries
answered by one map-only segment stage over one shared pruned read per
segment, the cluster-serving amortization shape.

Usage: python scripts/serving_scale_bench.py [--docs 1000000]
       [--seg-docs 100000] [--reps 5] [--cpus 32] [--batch 24]
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

# single-query latency set (same shapes as serving_latency_bench.py)
QUERIES = [
    ("or", ("def", "return")),
    ("or", ("import", "class")),
    ("or", ("func", "var", "struct")),
    ("and", ("def", "return")),
    ("and", ("import", "if")),
    ("or", ("async", "await")),
]

# term pool for the heterogeneous batch (tokens the fixture corpus emits)
POOL = ["def", "return", "import", "class", "func", "var", "struct", "if",
        "else", "for", "while", "async", "await", "self", "impl", "fn",
        "type", "int", "string", "err", "nil", "true", "false", "match"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--seg-docs", type=int, default=100_000)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--batch", type=int, default=24)
    args = ap.parse_args()

    from quicker_spark.engine import SearchEngine
    from quicker_spark.fixtures import corpus_df
    from quicker_spark.operators.build import IndexConfig, build_index
    from quicker_spark.plans.term_query import And, NewTermQuery, Or
    from quicker_spark.session import get_spark

    spark = get_spark(cores=args.cpus, shuffle_partitions=args.cpus,
                      driver_memory="24g")
    out = tempfile.mkdtemp(prefix="quicker_scale_")
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    rep = build_index(spark, corpus_df(spark, args.docs,
                                       partitions=args.cpus * 2),
                      out, IndexConfig(seg_docs=args.seg_docs),
                      resume=False)
    build_secs = time.time() - t0
    eng = SearchEngine(spark, out)

    def make(kind, terms):
        return (Or if kind == "or" else And)(
            *[NewTermQuery("content", t) for t in terms])

    # -- single-query p50, auto mode (TAAT) vs the pruned scorers ----------
    lat: dict[str, dict] = {}
    for mode in ("auto", "wand", "conj"):
        lats = []
        for r in range(args.reps):
            for kind, terms in QUERIES:
                if mode == "wand" and kind != "or":
                    continue
                if mode == "conj" and kind != "and":
                    continue
                t0 = time.time()
                eng.search(make(kind, terms), k=10, mode=mode).collect()
                lats.append(time.time() - t0)
        lats.sort()
        lat[mode] = {"p50_sec": round(statistics.median(lats), 3),
                     "min_sec": round(lats[0], 3),
                     "max_sec": round(lats[-1], 3), "n": len(lats)}

    # -- batched throughput: N heterogeneous queries in one job ------------
    batch = {}
    for i in range(args.batch):
        kind = "and" if i % 3 == 2 else "or"
        terms = tuple(POOL[(i * 3 + j) % len(POOL)] for j in range(2 + i % 2))
        batch[f"q{i}_{kind}"] = make(kind, terms)
    # sequential baseline (one rep — it is the slow path by construction)
    t0 = time.time()
    for q in batch.values():
        eng.search(q, k=10).collect()
    seq_secs = time.time() - t0
    best_batch = None
    for _ in range(args.reps):
        t0 = time.time()
        n = eng.search_many(batch, k=10).count()
        secs = time.time() - t0
        best_batch = secs if best_batch is None else min(best_batch, secs)
    assert n <= args.batch * 10

    # -- round-4 serving surface at scale -----------------------------------
    # scored must_not, facets, sort-by-field, and a heterogeneous batch
    # (plain + paged + excluded + boosted members in ONE job)
    or_q = make("or", ("def", "return"))
    extras: dict[str, float] = {}

    def best_of(fn, reps=args.reps):
        t = None
        for _ in range(reps):
            t0 = time.time()
            fn()
            dt = time.time() - t0
            t = dt if t is None else min(t, dt)
        return round(t, 3)

    extras["must_not_p50ish"] = best_of(
        lambda: eng.search(or_q, k=10,
                           exclude=NewTermQuery("content", "class"))
        .collect())
    extras["facet_stats"] = best_of(
        lambda: eng.facet_stats(or_q, on_col="doc_len").collect())
    extras["facet_histogram"] = best_of(
        lambda: eng.facet_histogram(or_q, on_col="doc_len",
                                    width=10).collect())
    extras["sorted_top12"] = best_of(
        lambda: eng.search_sorted(or_q, by="doc_len", k=12).collect())
    or3_q = make("or", ("def", "return", "import"))
    extras["msm_2of3"] = best_of(
        lambda: eng.search(or3_q, k=10, min_should_match=2).collect())
    p1 = eng.search(or_q, k=10).collect()
    cursor = (float(p1[-1]["score"]), int(p1[-1]["doc_id"]))
    hetero = {"plain": or_q, "paged": or_q, "not": or_q,
              "boosted": or_q, "quorum": or3_q}
    extras["hetero_batch5"] = best_of(
        lambda: eng.search_many(
            hetero, k=10, after={"paged": cursor},
            excludes={"not": NewTermQuery("content", "class")},
            boosts={"boosted": {"content\x01return": 3.0}},
            min_should_match={"quorum": 2}).count())

    # -- resident local tier at scale (serving.LocalSearcher) ---------------
    # same index bytes, no Spark job: cold = open + first bucket-pruned
    # pyarrow read of the query terms across all segments; warm = resident
    # cache; local_batch = the same heterogeneous batch served from cache
    from quicker_spark.serving import LocalSearcher

    t0 = time.time()
    ls = LocalSearcher(out)
    ls.search(or_q, k=10)
    local_cold_first = time.time() - t0
    loc_lats = []
    for _r in range(args.reps):
        for kind, terms in QUERIES:
            t0 = time.time()
            ls.search(make(kind, terms), k=10)
            loc_lats.append(time.time() - t0)
    loc_lats.sort()
    t0 = time.time()
    ls.search_many(batch, k=10)
    local_batch_warm = time.time() - t0

    print(json.dumps({
        "docs": args.docs, "segments": rep.n_segments, "cpus": args.cpus,
        "build_secs": round(build_secs, 1),
        "single_query": lat,
        "batch_n_queries": args.batch,
        "batch_secs_best": round(best_batch, 3),
        "batch_qps": round(args.batch / best_batch, 1),
        "sequential_secs": round(seq_secs, 3),
        "sequential_qps": round(args.batch / seq_secs, 1),
        "round4_surface": extras,
        "local_tier": {
            "cold_first_sec": round(local_cold_first, 3),
            "warm_p50_sec": round(statistics.median(loc_lats), 4),
            "warm_max_sec": round(loc_lats[-1], 4),
            "batch_warm_sec": round(local_batch_warm, 3),
            "batch_warm_qps": round(args.batch / local_batch_warm, 1),
        },
    }))
    shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
