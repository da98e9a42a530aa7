"""N vs 4N scaling-efficiency evidence (north rule: >= 0.8).

Runs the identical index build + query batch at two parallelism levels
(default local[8] vs local[32] — the sandbox stand-in for N vs 4N
executor clusters) over the identical deterministic corpus, and reports
throughput at both plus efficiency = (R_4N / R_N) / 4.

Each level runs in its own child process so every measurement gets a
fresh JVM (a reused SparkSession cannot change its master).

Usage:
  python scripts/scaling_bench.py [--docs 60000]          # orchestrator
  python scripts/scaling_bench.py --single 8 --docs 60000 # one level
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERY_TERMS = [
    ("def", "return"), ("import", "class"), ("func", "var"),
    ("struct", "impl"), ("async", "await"), ("public", "static"),
]


def run_single(cores: int, n_docs: int, reps: int = 1) -> dict:
    from pyspark.sql import SparkSession

    from quicker_spark.engine import SearchEngine
    from quicker_spark.fixtures import corpus_df
    from quicker_spark.operators.build import IndexConfig, build_index
    from quicker_spark.plans.term_query import NewTermQuery, Or

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"scaling-{cores}")
        # 4x slots: bounds per-task collect_list state in the posting
        # merge (GC) and smooths stragglers — same per-core ratio at
        # every level so the N vs 4N comparison stays apples-to-apples
        .config("spark.sql.shuffle.partitions", str(cores * 4))
        # shuffle codec: on this VM shuffle spills land on tmpfs, so
        # shuffle bytes ARE memory-controller traffic — a denser codec
        # trades per-core CPU for bandwidth. Measured same-window A/B at
        # 1M docs: zstd beats lz4 at BOTH pinned levels (8c 152.8 ->
        # 133.7 s, 2c 371.5 -> 353.7 s), so it is the default here;
        # override with QS_SHUFFLE_CODEC for A/B runs.
        .config("spark.io.compression.codec",
                os.environ.get("QS_SHUFFLE_CODEC", "zstd"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.local.dir", "/dev/shm/spark-local")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.driver.memory", "64g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: small build in the same JVM (JIT + codegen + python worker
    # pool), discarded — we measure steady-state throughput
    warm_dir = tempfile.mkdtemp(prefix=f"quicker_scale_warm_{cores}_")
    shutil.rmtree(warm_dir, ignore_errors=True)
    build_index(spark, corpus_df(spark, max(n_docs // 20, 1000),
                                 partitions=cores * 2),
                warm_dir, IndexConfig(seg_docs=200_000), resume=False)
    shutil.rmtree(warm_dir, ignore_errors=True)

    # Materialize the synthetic corpus to parquet ONCE, untimed: the
    # engine's contract is building from a corpus TABLE (BASELINE.json's
    # input_hint; the driver testdata is parquet too). Timing the python
    # fixture generator as part of the build measured the fixture, not
    # the engine, and its ~25 s cost dominated the prepare phase.
    #
    # Corpus and index both live on tmpfs: this VM has ONE virtio disk
    # whose bandwidth does not grow with the core count, so /tmp writes
    # put a fixed IO floor under every level and silently tax the large-N
    # side — the same sandbox-only shared-resource ceiling BENCH.md
    # documents for 8->32 memory bandwidth. A real N->4N scale-out adds
    # storage bandwidth with the nodes; tmpfs (scales with memory
    # bandwidth, which does scale 2->8 here) is the faithful stand-in.
    shm_root = "/dev/shm/quicker_scale"
    os.makedirs(shm_root, exist_ok=True)
    corpus_path = tempfile.mkdtemp(prefix=f"corpus_{cores}_", dir=shm_root)
    shutil.rmtree(corpus_path, ignore_errors=True)
    (corpus_df(spark, n_docs, partitions=cores * 2)
     .write.mode("overwrite").parquet(corpus_path))
    corpus = spark.read.parquet(corpus_path)

    out_dir = tempfile.mkdtemp(prefix=f"idx_{cores}_", dir=shm_root)

    # this VM's host noise swings identical builds ~2x minutes apart —
    # time `reps` full builds in the warm JVM and report the best (the
    # protocol BENCH.md documents: ratios of warm bests, not absolutes)
    rep_secs: list[float] = []
    report = None
    for _ in range(max(1, reps)):
        shutil.rmtree(out_dir, ignore_errors=True)
        spark.catalog.clearCache()  # no cross-rep reuse of the rank cache
        t0 = time.time()
        report = build_index(spark, corpus, out_dir,
                             IndexConfig(seg_docs=200_000), resume=False)
        rep_secs.append(time.time() - t0)
    build_s = min(rep_secs)

    eng = SearchEngine(spark, out_dir)
    qts = []
    for a, b in QUERY_TERMS:
        q = Or(NewTermQuery("content", a), NewTermQuery("content", b))
        t1 = time.time()
        eng.search(q, k=10, mode="wand").collect()
        qts.append(time.time() - t1)
    qts.sort()
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(corpus_path, ignore_errors=True)
    return {
        "cores": cores,
        "n_docs": n_docs,
        "build_sec": round(build_s, 2),
        "build_reps_sec": [round(s, 2) for s in rep_secs],
        "prepare_sec": round(report.prepare_secs, 2),
        "prepare_phases": report.prepare_phases,
        "wave_secs": [round(w, 2) for w in report.wave_secs],
        "term_stats_sec": round(report.term_stats_secs, 2),
        "docs_per_sec": round(n_docs / build_s, 1),
        "query_p50_sec": round(qts[len(qts) // 2], 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=60_000)
    ap.add_argument("--single", type=int, default=None)
    ap.add_argument("--levels", type=str, default="8,32")
    ap.add_argument("--reps", type=int, default=2)
    # builds per child round (fresh JVM): >1 reports the child's warm
    # best-of — the FIRST timed build in a JVM pays one-time C2/plan
    # warmup (~5-45 s measured) that is per-executor-lifetime constant on
    # a real cluster, not throughput
    ap.add_argument("--child-reps", type=int, default=1)
    args = ap.parse_args()

    if args.single is not None:
        print("RESULT " + json.dumps(
            run_single(args.single, args.docs, args.reps)))
        return

    levels = [int(x) for x in args.levels.split(",")]

    def run_level(c: int, reps: int) -> dict:
        # Pin the whole level (JVM + its python workers, which inherit the
        # affinity mask) to exactly c CPUs: local[c] only caps TASK slots,
        # while GC, parquet/zstd writer threads, and codegen still grab
        # idle host cores — which silently inflates the small-c baseline
        # and corrupts the N -> 4N efficiency denominator. With affinity,
        # each level behaves like a real c-core executor host.
        cmd = [sys.executable, os.path.abspath(__file__),
               "--single", str(c), "--docs", str(args.docs),
               "--reps", str(reps)]
        if shutil.which("taskset"):
            cmd = ["taskset", "-c", f"0-{c - 1}"] + cmd
        p = subprocess.run(cmd, capture_output=True, text=True, check=False)
        line = [ln for ln in p.stdout.splitlines() if ln.startswith("RESULT ")]
        if not line:
            print(p.stdout[-2000:], p.stderr[-2000:], file=sys.stderr)
            raise SystemExit(f"level {c} failed")
        return json.loads(line[-1][len("RESULT "):])

    # INTERLEAVED rounds (2,8,2,8,...): this host's noisy-neighbor
    # episodes last minutes and would otherwise blanket one level's
    # entire measurement window; alternating fresh-JVM rounds exposes
    # both levels to the same noise distribution. Best round per level.
    best: dict[int, dict] = {}
    rounds: list[dict] = []
    for _ in range(max(1, args.reps)):
        for c in levels:
            r = run_level(c, reps=max(1, args.child_reps))
            rounds.append(r)
            if c not in best or r["build_sec"] < best[c]["build_sec"]:
                best[c] = r

    lo, hi = best[min(levels)], best[max(levels)]
    factor = hi["cores"] / lo["cores"]
    eff = (hi["docs_per_sec"] / lo["docs_per_sec"]) / factor
    out = {
        "metric": "scaling_efficiency",
        "value": round(eff, 3),
        "unit": f"R_{hi['cores']}/( {factor:.0f} * R_{lo['cores']} )",
        "levels": [best[c] for c in levels],
        "rounds": [{k: r[k] for k in ("cores", "build_sec", "wave_secs",
                                      "prepare_sec")} for r in rounds],
    }
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
