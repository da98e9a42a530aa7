#!/usr/bin/env python3
"""Benchmark for the quicker_spark index build and BM25 query engine.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. One run starts a local Spark session sized
to this machine, builds an index over a corpus generated from ``--seed``,
measures the workload for ``--seconds`` seconds, checks the answers, and
prints a report line followed, as the last line, by one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics (BENCHMARK.json lists both). A wrong answer or a failed call
counts in ``failed`` and makes the command exit 1; an error before the
result exists exits 1 without printing one. All scratch data lives in one
directory under ``.perfbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

import host  # noqa: E402
import workloads  # noqa: E402
from tracing import Tracer  # noqa: E402

DRIVER_MEMORY = "2g"
WATCHDOG_S = 170


class Bench:
    """One run: its scratch directory, Spark session, tracer and results."""

    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = os.path.join(ROOT, ".perfbench_work",
                                 f"{args.workload}-{os.getpid()}")
        self.tracer = Tracer() if args.trace else None
        self.spark = None
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.info: dict = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def job_group(self, group: str) -> None:
        """Tag the Spark jobs of the next call (traced runs only)."""
        if self.tracer is not None:
            self.spark.sparkContext.setJobGroup(group, group)

    def start_spark(self):
        from quicker_spark.session import get_spark

        tmp = self.path("tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None
        # Spark's Python workers import the engine from this checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
            p for p in (os.environ.get("SPARK_SUBMIT_OPTS"), jvm_opts) if p)
        os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
        }
        if self.tracer is not None:
            os.makedirs(self.path("events"))
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = self.path("events")
            conf["spark.eventLog.compress"] = "false"
        n = host.cores()
        self.spark = get_spark(cores=n, shuffle_partitions=2 * n,
                               app=f"perfbench-{self.args.workload}",
                               driver_memory=DRIVER_MEMORY, extra_conf=conf)
        return self.spark

    def stop_spark(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        procs = host.descendants(os.getpid())
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()   # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while procs and time.monotonic() < deadline:
            procs = [p for p in procs if os.path.exists(f"/proc/{p}")]
            time.sleep(0.05)
        for p in procs:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass

    def close(self) -> None:
        try:
            self.stop_spark()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(self.work))
            except OSError:
                pass

    def result(self) -> dict:
        """The result line: every metric BENCHMARK.json lists for this
        mode. A layer the workload leaves idle reads 0."""
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        if self.tracer is None:
            names = [m["name"] for m in spec["end_to_end"]]
            values = {n: self.metrics[n] for n in names}
        else:
            values = {m["name"]: self.layers.get(m["name"], (0, m["unit"]))
                      for m in spec["per_layer"]}
        return {
            "correct": self.failed == 0,
            "attempted": int(self.attempted),
            "failed": int(self.failed),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in values.items()},
        }


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {WATCHDOG_S} s")


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.ALL))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, _terminate)
    signal.alarm(WATCHDOG_S)
    bench = Bench(args)
    try:
        os.makedirs(bench.work)
        workloads.ALL[args.workload](bench)
    finally:
        bench.close()
        signal.alarm(0)

    if bench.tracer is not None:
        # in-process tracing cost; overhead.py measures the whole
        # difference (event log included) against an untraced run
        cost = bench.tracer.span_cost()
        per_op = len(bench.tracer.spans) / max(1, bench.attempted)
        bench.layers["trace.spans_per_op"] = (per_op, "count")
        bench.layers["trace.span_cost_us"] = (cost * 1e6, "us")
        bench.layers["trace.overhead_ms_per_op"] = (per_op * cost * 1e3, "ms")
    result = bench.result()
    report = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              **bench.info,
              "metrics": {k: v for k, (v, _u) in bench.metrics.items()},
              "layers": {k: v for k, (v, _u) in bench.layers.items()},
              "failures": bench.failures}
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(report, fh, indent=1)
    if bench.tracer is not None:
        bench.tracer.dump(stem + "-spans.jsonl")
    print("report: " + json.dumps(report, sort_keys=True))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
