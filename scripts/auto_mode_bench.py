"""TAAT vs the block-max scorers over cached decoded runs (``mode='auto'``).

Times ``kernels.score_segment_exhaustive`` (TAAT) against
``score_segment_wand`` (flat OR) and ``score_segment_conjunctive`` (flat
AND) on synthetic segment windows, calling the kernels directly with the
decoded runs and their BM25 ``u`` already computed — the state both
serving tiers score from. Each pair of results is checked bitwise equal.
Prints a markdown table of median microseconds per call.

Run on one core to keep the kernels' numpy calls from sharing it:

    taskset -c 0 python scripts/auto_mode_bench.py
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import numpy as np

sys.path.insert(1, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quicker_spark.functions.kernels import (  # noqa: E402
    DEFAULT_BLOCK, bm25_u, encode_postings, score_segment_conjunctive,
    score_segment_exhaustive, score_segment_wand)
from quicker_spark.model import bm25_idf  # noqa: E402
from quicker_spark.plans.term_query import And, NewTermQuery, Or  # noqa: E402

K1, B = 1.2, 0.75
# term document frequencies as fractions of the window
MIXES = {"sparse/sparse": (0.01, 0.024, 0.04), "sparse/dense": (0.02, 0.4),
         "skewed-idf": (0.0005, 0.03, 0.6), "dense/dense": (0.3, 0.6)}


def run(rng, n: int, fracs: tuple, k: int, reps: int) -> dict:
    base = 3 * n                       # the window of segment 3
    dl_all = rng.integers(20, 400, n)
    avgdl = float(dl_all.mean())
    words = [f"w{i}" for i in range(len(fracs))]
    dec, enc, idf = {}, {}, {}
    for w, f in zip(words, fracs):
        key = NewTermQuery("content", w).keyword
        df = max(1, int(n * f))
        loc = np.sort(rng.choice(n, df, replace=False))
        tfs = rng.geometric(0.5, df).astype(np.int64)
        e = encode_postings(base + loc, tfs, dl_all[loc].astype(np.int64),
                            rng.integers(0, 4, df).astype(np.int64), avgdl,
                            K1, B, DEFAULT_BLOCK)
        d = e.decode_all()
        dec[key] = tuple(d) + (bm25_u(d[1], d[2], avgdl, K1, B),)
        enc[key] = e.with_bounds(avgdl, K1, B)
        idf[key] = bm25_idf(n, df)
    out = {}
    for shape, q, pruned in (("or", Or, score_segment_wand),
                             ("and", And, score_segment_conjunctive)):
        tree = q(*[NewTermQuery("content", w) for w in words]).to_dict()
        t_taat, t_pruned = [], []
        for _ in range(reps):
            t = time.perf_counter()
            a = score_segment_exhaustive(tree, dec, idf, avgdl, k, 0, 0, (),
                                         K1, B)
            t_taat.append(time.perf_counter() - t)
            t = time.perf_counter()
            p = pruned(dec, enc, idf, avgdl, k, 0, 0, (), K1, B)
            t_pruned.append(time.perf_counter() - t)
        assert all(np.array_equal(x, y) for x, y in zip(a, p)), shape
        out[shape] = (1e6 * statistics.median(t_taat),
                      1e6 * statistics.median(t_pruned))
    return out


def main() -> None:
    rng = np.random.default_rng(5)
    print("| window | k | mix | OR TAAT | OR WAND | AND TAAT | AND conj |")
    print("|---|---|---|---|---|---|---|")
    for n, reps in ((5_000, 200), (100_000, 30), (1_000_000, 5)):
        for k in (10, 100):
            for name, fracs in MIXES.items():
                r = run(rng, n, fracs, k, reps)
                print(f"| {n} | {k} | {name} {fracs} | {r['or'][0]:.0f} | "
                      f"{r['or'][1]:.0f} | {r['and'][0]:.0f} | "
                      f"{r['and'][1]:.0f} |", flush=True)


if __name__ == "__main__":
    main()
