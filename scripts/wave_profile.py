"""Profile one pinned-core index build: per-stage times from the Spark
event log + 1 Hz CPU-utilization samples of the pinned core set.

Answers "where do the cores go idle?" for the 2->8 scaling gap: the
membw microbenchmark (scripts/membw_bench.py) shows copy bandwidth
scales ~1.0 through 8 pinned cores on this host, so a sub-0.8 wave
ratio must be utilization (stragglers / too-few tasks / serial driver
gaps), not hardware.

Usage: taskset -c 0-7 python scripts/wave_profile.py --cores 8 --docs 1000000
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def cpu_sampler(cores: list[int], stop: threading.Event, out: list) -> None:
    def snap():
        vals = {}
        with open("/proc/stat") as f:
            for line in f:
                if line.startswith("cpu") and line[3].isdigit():
                    p = line.split()
                    idx = int(p[0][3:])
                    if idx in cores:
                        nums = [int(x) for x in p[1:]]
                        idle = nums[3] + nums[4]
                        vals[idx] = (sum(nums), idle)
        return vals

    prev = snap()
    while not stop.wait(1.0):
        cur = snap()
        tot = sum(cur[c][0] - prev[c][0] for c in cur)
        idl = sum(cur[c][1] - prev[c][1] for c in cur)
        out.append(round(100.0 * (tot - idl) / max(tot, 1), 1))
        prev = cur


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--docs", type=int, default=1_000_000)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from quicker_spark.fixtures import corpus_df
    from quicker_spark.operators.build import IndexConfig, build_index

    evdir = tempfile.mkdtemp(prefix="qs_evlog_")
    spark = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .appName(f"profile-{args.cores}")
        .config("spark.sql.shuffle.partitions", str(args.cores * 4))
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.local.dir", "/dev/shm/spark-local")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.driver.memory", "64g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", f"file://{evdir}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    shm = "/dev/shm/quicker_scale"
    os.makedirs(shm, exist_ok=True)
    corpus_path = tempfile.mkdtemp(prefix=f"pcorpus_{args.cores}_", dir=shm)
    shutil.rmtree(corpus_path, ignore_errors=True)
    (corpus_df(spark, args.docs, partitions=args.cores * 2)
     .write.mode("overwrite").parquet(corpus_path))
    corpus = spark.read.parquet(corpus_path)
    out_dir = tempfile.mkdtemp(prefix=f"pidx_{args.cores}_", dir=shm)
    shutil.rmtree(out_dir, ignore_errors=True)

    samples: list[float] = []
    stop = threading.Event()
    thr = threading.Thread(
        target=cpu_sampler,
        args=(list(range(args.cores)), stop, samples), daemon=True)
    thr.start()
    t0 = time.time()
    report = build_index(spark, corpus, out_dir,
                         IndexConfig(seg_docs=200_000),
                         resume=False)
    build_s = time.time() - t0
    stop.set()
    thr.join(2)

    spark.stop()
    time.sleep(1)

    # Spark 4 writes a directory per app (eventlog_v2_<appid>/events_*);
    # older versions write a single file. Glob both shapes.
    paths = [p for p in glob.glob(os.path.join(evdir, "**", "*"), recursive=True)
             if os.path.isfile(p) and "appstatus" not in os.path.basename(p)]
    stages = []
    task_rows: dict[int, list] = {}
    task_agg: dict[int, dict] = {}
    for path in paths:
        if path.endswith(".zstd") or path.endswith(".lz4"):
            continue
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ev.get("Event") == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    tm = ev.get("Task Metrics") or {}
                    ti = ev.get("Task Info") or {}
                    task_rows.setdefault(sid, []).append({
                        "launch": ti.get("Launch Time"),
                        "finish": ti.get("Finish Time"),
                        "run_ms": tm.get("Executor Run Time", 0),
                        "cpu_ms": (tm.get("Executor CPU Time", 0)) // 1_000_000,
                        "in_rec": ((tm.get("Input Metrics") or {})
                                   .get("Records Read", 0)),
                    })
                    a = task_agg.setdefault(sid, {
                        "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                        "deser_ms": 0, "ser_ms": 0,
                        "sh_write_b": 0, "sh_write_ms": 0, "sh_read_b": 0,
                        "sh_fetch_ms": 0, "spill_b": 0, "n": 0,
                        "max_run_ms": 0})
                    a["n"] += 1
                    a["run_ms"] += tm.get("Executor Run Time", 0)
                    a["max_run_ms"] = max(a["max_run_ms"],
                                          tm.get("Executor Run Time", 0))
                    a["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    a["gc_ms"] += tm.get("JVM GC Time", 0)
                    a["deser_ms"] += tm.get("Executor Deserialize Time", 0)
                    a["ser_ms"] += tm.get("Result Serialization Time", 0)
                    swm = tm.get("Shuffle Write Metrics") or {}
                    a["sh_write_b"] += swm.get("Shuffle Bytes Written", 0)
                    a["sh_write_ms"] += swm.get("Shuffle Write Time", 0) // 1_000_000
                    srm = tm.get("Shuffle Read Metrics") or {}
                    a["sh_read_b"] += (srm.get("Local Bytes Read", 0)
                                       + srm.get("Remote Bytes Read", 0))
                    a["sh_fetch_ms"] += srm.get("Fetch Wait Time", 0)
                    a["spill_b"] += tm.get("Disk Bytes Spilled", 0)
                elif ev.get("Event") == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    sub = si.get("Submission Time")
                    comp = si.get("Completion Time")
                    if sub and comp:
                        stages.append({
                            "id": si["Stage ID"],
                            "name": si["Stage Name"].split("\n")[0][:70],
                            "tasks": si["Number of Tasks"],
                            "wall_s": round((comp - sub) / 1000.0, 2),
                            "t_sub": sub, "t_comp": comp,
                        })
    for s in stages:
        a = task_agg.get(s["id"])
        if a:
            s.update({
                "run_s": round(a["run_ms"] / 1000.0, 1),
                "cpu_s": round(a["cpu_ns"] / 1e9, 1),
                "gc_s": round(a["gc_ms"] / 1000.0, 1),
                "deser_s": round(a["deser_ms"] / 1000.0, 1),
                "max_task_s": round(a["max_run_ms"] / 1000.0, 1),
                "sh_write_mb": round(a["sh_write_b"] / 1e6, 1),
                "sh_write_s": round(a["sh_write_ms"] / 1000.0, 1),
                "sh_read_mb": round(a["sh_read_b"] / 1e6, 1),
                "spill_mb": round(a["spill_b"] / 1e6, 1),
            })
    stages.sort(key=lambda s: s["t_sub"])
    if stages:
        t_first = stages[0]["t_sub"]
        covered = 0
        last_end = t_first
        for s in stages:
            a, b = max(s["t_sub"], last_end), s["t_comp"]
            if b > a:
                covered += b - a
                last_end = b
            s["start_s"] = round((s["t_sub"] - t_first) / 1000.0, 2)
            del s["t_sub"], s["t_comp"]
        total_ms = last_end - t_first
        gap_s = round((total_ms - covered) / 1000.0, 2)
    else:
        gap_s = None

    # per-task detail for the three longest stages: task-level run/cpu
    # distributions answer "fixed per-task overhead or skew?" directly
    detail = {}
    for s in sorted(stages, key=lambda x: -x["wall_s"])[:3]:
        rows = sorted(task_rows.get(s["id"], []),
                      key=lambda r: -(r["run_ms"]))
        base = min((r["launch"] for r in rows if r.get("launch")),
                   default=None)
        detail[f"stage_{s['id']}"] = [
            {"run_s": round(r["run_ms"] / 1000.0, 2),
             "cpu_s": round(r["cpu_ms"] / 1000.0, 2),
             "rows": r["in_rec"],
             "start_s": (round((r["launch"] - base) / 1000.0, 1)
                         if r.get("launch") and base else 0.0)}
            for r in rows]
    print(json.dumps({
        "cores": args.cores,
        "docs": args.docs,
        "task_detail": detail,
        "build_sec": round(build_s, 2),
        "prepare_sec": round(report.prepare_secs, 2),
        "prepare_phases": report.prepare_phases,
        "wave_secs": [round(w, 2) for w in report.wave_secs],
        "term_stats_sec": round(report.term_stats_secs, 2),
        "cpu_util_mean": round(sum(samples) / max(len(samples), 1), 1),
        "cpu_util_timeline": samples,
        "inter_stage_gap_sec": gap_s,
        "stages": stages,
    }, indent=1))
    shutil.rmtree(corpus_path, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(evdir, ignore_errors=True)


if __name__ == "__main__":
    main()
