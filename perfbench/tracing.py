"""Tracing for the per-layer report: in-memory spans and the Spark event log.

Spans are recorded from the benchmark's own files, around calls into the
engine's modules (the modules are the layers); nothing inside the program
is changed. Each span records name, start, end, parent and request id.
Spans are kept in memory and written out when the run ends. A span's self
time is its duration minus the part of it that its child spans cover.

Spark work is attributed through job groups: every public call runs under
``sparkContext.setJobGroup(<span id>)``, and the event log maps each stage
to the job, and so to the call, that caused it. Kernels that run inside
Spark's Python workers show up only as stage time.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    qid: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Span recorder. One request is in flight at a time (the serve loop
    is single-threaded), so spans opened on the searcher's pool threads
    take the in-flight request's root span as their parent."""

    def __init__(self):
        self.spans: list[Span] = []
        self.qid: int | None = None
        self._root: int | None = None
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, root: bool = False, **attrs):
        stack = self._tls.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self._root
        sid = next(self._ids)
        stack.append(sid)
        if root:
            self._root = sid
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            stack.pop()
            if root:
                self._root = None
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent,
                                       self.qid, attrs))

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def span_cost(self, n: int = 5000) -> float:
        """Seconds one span adds to the call it wraps, measured in this
        process (the calibration spans are discarded)."""
        keep = len(self.spans)
        t = time.perf_counter()
        for _ in range(n):
            with self.span("trace.calibrate"):
                pass
        cost = (time.perf_counter() - t) / n
        del self.spans[keep:]
        return cost

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        return {s.sid: s.dur - covered(kids.get(s.sid, []), s.start, s.end)
                for s in self.spans}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.sid, "name": s.name, "start": s.start,
                    "end": s.end, "parent": s.parent, "qid": s.qid,
                    **s.attrs}) + "\n")


class _TimedDataset:
    """Forwards to a pyarrow dataset; each ``to_table`` becomes a span
    carrying the rows it returned."""

    def __init__(self, tracer: Tracer, ds, name: str):
        self._tracer, self._ds, self._name = tracer, ds, name

    def to_table(self, *args, **kwargs):
        with self._tracer.span(self._name) as attrs:
            table = self._ds.to_table(*args, **kwargs)
            attrs["rows"] = table.num_rows
        return table

    def __getattr__(self, item):
        return getattr(self._ds, item)


def instrument_searcher(tracer: Tracer, searcher):
    """Wrap the resident tier's seams. Returns a function that undoes the
    module-level patches (instance attributes die with the searcher)."""
    import quicker_spark.engine as engine
    import quicker_spark.serving as serving

    patched = [
        (serving, "resolve_search_spec", "plans.resolve"),
        (serving, "_score_segment_rows", "engine.score_segment"),
        (engine, "score_segment_wand", "functions.kernels.wand"),
        (engine, "score_segment_conjunctive", "functions.kernels.conj"),
        (engine, "score_segment_exhaustive", "functions.kernels.taat"),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patched]
    for mod, attr, name in patched:
        setattr(mod, attr, tracer.wrap(name, getattr(mod, attr)))
    searcher._gather = tracer.wrap("serving.gather", searcher._gather)
    searcher._post_ds = _TimedDataset(tracer, searcher._post_ds,
                                      "serving.read")
    searcher._ts_ds = _TimedDataset(tracer, searcher._ts_ds, "serving.read")
    ensure = searcher._ensure_terms

    def counted(terms):
        with tracer.span("serving.ensure_terms") as attrs:
            attrs["terms"] = len(terms)
            attrs["misses"] = sum(1 for t in terms
                                  if t not in searcher._rows)
            return ensure(terms)
    searcher._ensure_terms = counted

    def restore():
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)
    return restore


def instrument_maintain(tracer: Tracer):
    """Span every posting-wave rewrite an upsert makes, with the number
    of segments it rewrites. Returns the undo function."""
    import quicker_spark.operators.maintain as maintain

    orig = maintain.write_wave

    def traced(spark, docs_df, wave, cfg, avgdl, out_dir, wkey=None,
               rebuild_segs=None):
        segs = rebuild_segs if rebuild_segs is not None else wave
        with tracer.span("operators.maintain.write_wave", segments=len(segs)):
            return orig(spark, docs_df, wave, cfg, avgdl, out_dir,
                        wkey=wkey, rebuild_segs=rebuild_segs)
    maintain.write_wave = traced

    def restore():
        maintain.write_wave = orig
    return restore


# -- Spark event log ----------------------------------------------------------

@dataclass
class StageStats:
    tasks: int = 0
    failed: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_rows: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    task_ms: list = field(default_factory=list)


@dataclass
class JobStats:
    group: str
    submit_ms: float
    end_ms: float = 0.0
    stages: list = field(default_factory=list)


def parse_event_log(log_dir: str) -> tuple[dict[int, JobStats],
                                           dict[int, StageStats]]:
    """Jobs (with their job group and wall interval) and per-stage task
    totals from the event log Spark wrote under ``log_dir``."""
    jobs: dict[int, JobStats] = {}
    stages: dict[int, StageStats] = {}
    # rolling (v2) logs are a directory of events_<n>_<app> files
    paths = sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))
                   + [p for p in glob.glob(os.path.join(log_dir, "*"))
                      if os.path.isfile(p)])
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = JobStats(
                        props.get("spark.jobGroup.id") or "",
                        float(ev["Submission Time"]),
                        stages=list(ev.get("Stage IDs") or []))
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_ms = float(ev["Completion Time"])
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], StageStats())
                    st.tasks += 1
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if reason != "Success":
                        st.failed += 1
                    m = ev.get("Task Metrics") or {}
                    run = float(m.get("Executor Run Time", 0))
                    st.run_ms += run
                    st.task_ms.append(run)
                    st.gc_ms += float(m.get("JVM GC Time", 0))
                    sr = m.get("Shuffle Read Metrics") or {}
                    st.shuffle_read += int(sr.get("Remote Bytes Read", 0)
                                           + sr.get("Local Bytes Read", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.shuffle_write += int(sw.get("Shuffle Bytes Written", 0))
                    st.spill += int(m.get("Memory Bytes Spilled", 0)
                                    + m.get("Disk Bytes Spilled", 0))
                    im = m.get("Input Metrics") or {}
                    st.input_rows += int(im.get("Records Read", 0))
                    st.input_bytes += int(im.get("Bytes Read", 0))
                    om = m.get("Output Metrics") or {}
                    st.output_bytes += int(om.get("Bytes Written", 0))
    return jobs, stages


def group_totals(jobs: dict[int, JobStats], stages: dict[int, StageStats],
                 prefix: str) -> dict:
    """Sums over every job whose group starts with ``prefix``: job count,
    job wall time (union of job intervals), task totals, and the skew
    (max / median task time) of the stage with the most task time."""
    sel = [j for j in jobs.values() if j.group.startswith(prefix)]
    seen: set[int] = set()
    tot = StageStats()
    longest = None
    for j in sel:
        for sid in j.stages:
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            st = stages[sid]
            for f in ("tasks", "failed", "run_ms", "gc_ms", "shuffle_read",
                      "shuffle_write", "spill", "input_rows", "input_bytes",
                      "output_bytes"):
                setattr(tot, f, getattr(tot, f) + getattr(st, f))
            if longest is None or st.run_ms > longest.run_ms:
                longest = st
    skew = 0.0
    if longest is not None and longest.task_ms:
        ts = sorted(longest.task_ms)
        med = ts[len(ts) // 2]
        skew = ts[-1] / med if med > 0 else 0.0
    return {"jobs": len(sel), "stats": tot, "task_skew": skew,
            "job_intervals": [(j.submit_ms / 1e3, j.end_ms / 1e3)
                              for j in sel if j.end_ms]}
