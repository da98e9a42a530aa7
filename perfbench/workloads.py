"""The benchmark's workloads, their correctness checks and their metrics.

Both workloads share the set-up: start a Spark session sized to the
machine, materialize the seeded corpus as parquet, and build the index
with ``operators.build.build_index`` (the build is timed and reported).

- ``serve``: one ``serving.LocalSearcher`` driven open-loop from one
  thread at a fixed rate; no Spark job runs in the loop.
- ``spark_rw``: one closed-loop client on ``engine.SearchEngine``: a
  ``search_many`` batch, single ``search`` calls, an ``upsert_docs``
  write, and a read-your-write probe per round.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np

import host
from inputs import Inputs, Request, content_term
from tracing import (group_totals, covered, instrument_maintain,
                     instrument_searcher, parse_event_log)

N_DOCS = 10_000
SEG_DOCS = 5_000            # 2 segments
K = 10
# Fixed open-loop rate, about 30% of the searcher's capacity measured on
# a 4-core host (mean service time ~12 ms), far enough from saturation
# that queueing stays small and the percentiles repeat.
SERVE_RATE = 24.0
ORACLE_SAMPLE = 6
CROSS_TIER_SAMPLE = 3
BATCH = 24
SINGLES = 7
UPSERT_DOCS = 200
SCORE_TOL = 1e-6


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _dn, fns in os.walk(path) for f in fns)


def _pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def _rows(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def _frame(pdf) -> list[tuple[int, float]]:
    return list(zip(pdf["doc_id"].astype(int).tolist(),
                    pdf["score"].astype(float).tolist()))


def _matches_oracle(got, want) -> bool:
    return ([d for d, _ in got] == [d for d, _ in want]
            and all(abs(a - b) <= SCORE_TOL
                    for (_, a), (_, b) in zip(got, want)))


def _oracle_topk(oracle, req: Request) -> list[tuple[int, float]]:
    return [(h.doc_id, h.score) for h in
            oracle.search_topk(req.oracle_query(), k=K, on=req.on)]


# -- shared set-up: session, corpus, index build ------------------------------

def build(bench) -> tuple[Inputs, str]:
    from quicker_spark.operators.build import (IndexConfig, build_index,
                                               warm_python_workers)

    t = time.perf_counter()
    spark = bench.start_spark()
    bench.layers["session.start_s"] = (time.perf_counter() - t, "s")

    inputs = Inputs(bench.seed, N_DOCS)
    corpus_path = bench.path("corpus.parquet")
    inputs.corpus.to_parquet(corpus_path, index=False)
    corpus = spark.read.parquet(corpus_path)
    index_dir = bench.path("index")
    cfg = IndexConfig(seg_docs=SEG_DOCS)
    # start every Python worker slot first (the engine's own per-executor
    # warm-up; build_index runs it itself only for large corpora), so the
    # timed build does not pay process start-up
    bench.job_group("warmup")
    warm_python_workers(spark, cfg, avgdl=0.0)
    bench.job_group("build")
    t = time.perf_counter()
    report = build_index(spark, corpus, index_dir, cfg, resume=False)
    build_s = time.perf_counter() - t
    index_bytes = sum(_dir_bytes(os.path.join(index_dir, d))
                      for d in ("postings", "docs", "term_stats"))
    bench.metrics["build_docs_per_s"] = (N_DOCS / build_s, "docs/s")
    bench.metrics["index_bytes_per_input_byte"] = (
        index_bytes / inputs.input_bytes, "ratio")
    bench.info["build"] = {"docs": N_DOCS, "segments": report.n_segments,
                           "build_s": build_s, "index_bytes": index_bytes,
                           "input_bytes": inputs.input_bytes}
    phases = report.prepare_phases
    bench.layers.update({
        "operators.docs.rank_s": (float(phases.get("rank", 0.0)), "s"),
        "operators.docs.docs_write_s": (float(phases.get("docs_write", 0.0)),
                                        "s"),
        "operators.build.prepare_s": (report.prepare_secs, "s"),
        "operators.build.wave_s": (float(sum(report.wave_secs)), "s"),
        "operators.build.term_stats_s": (report.term_stats_secs, "s"),
    })
    with open(os.path.join(index_dir, "metrics.json")) as fh:
        m = json.load(fh)
    bench.layers["operators.build.postings_bytes"] = (
        int(m["postings_bytes"]), "bytes")
    bench.layers["operators.build.docs_bytes"] = (int(m["docs_bytes"]), "bytes")
    return inputs, index_dir


def _finish(bench, ticks0, ticks1) -> None:
    """Host noise over the timed region and peak memory, read before the
    checks so the reference index does not count. The end-to-end figure
    is the benchmark process (Spark driver side and resident searcher);
    the JVM's high-water mark follows G1's adaptive heap sizing and its
    quartile spread across seeds was 12-16% of the median on a 4-core
    host, too wide to bound, so it is only reported."""
    bench.info["host"] = {"nproc": host.cores(),
                          "mem_total_kb": host.mem_total_kb(),
                          **host.noise(ticks0, ticks1)}
    python_mb, jvm_mb = host.peak_rss_mb()
    bench.metrics["peak_rss_mb"] = (python_mb, "MB")
    bench.info["memory"] = {"python_mb": python_mb, "jvm_mb": jvm_mb}


def _event_log_layers(bench, prefix_calls: dict[str, list]) -> dict:
    """Stop Spark (the event log is complete only then), record the build's
    task totals, and total the jobs of each recorded call: ``{kind:
    [(group, wall_from, wall_to)]}`` -> ``{kind: [(totals, call_s,
    job_s)]}``."""
    bench.stop_spark()
    jobs, stages = parse_event_log(bench.path("events"))
    build = group_totals(jobs, stages, "build")
    st = build["stats"]
    bench.layers.update({
        "operators.build.task_s": (st.run_ms / 1e3, "s"),
        "operators.build.gc_s": (st.gc_ms / 1e3, "s"),
        "operators.build.shuffle_write_bytes": (st.shuffle_write, "bytes"),
        "operators.build.spill_bytes": (st.spill, "bytes"),
        "operators.build.tasks": (st.tasks, "count"),
        "operators.build.task_skew": (build["task_skew"], "ratio"),
        "operators.build.failed_tasks": (st.failed, "count"),
    })
    out = {}
    for prefix, calls in prefix_calls.items():
        per_call = []
        for group, wall0, wall1 in calls:
            g = group_totals(jobs, stages, group)
            per_call.append((g, wall1 - wall0,
                             covered(g["job_intervals"], wall0, wall1)))
        out[prefix] = per_call
    return out


# -- serve ---------------------------------------------------------------------

def serve(bench) -> None:
    from quicker_spark.engine import SearchEngine
    from quicker_spark.oracle import Oracle
    from quicker_spark.serving import LocalSearcher

    t_setup = time.perf_counter()
    inputs, index_dir = build(bench)
    searcher = LocalSearcher(index_dir)
    for q in inputs.head_set():
        searcher.search(q, k=K)
    bench.metrics["setup_s"] = (time.perf_counter() - t_setup, "s")

    n = max(1, int(bench.seconds * SERVE_RATE))
    queries = [inputs.query() for _ in range(n)]
    rng = np.random.default_rng(bench.seed)
    sample = sorted(rng.choice(n, size=min(ORACLE_SAMPLE, n), replace=False))
    kept: dict[int, list] = {}
    tracer = bench.tracer
    restore = instrument_searcher(tracer, searcher) if tracer else None
    due = np.empty(n)
    start = np.empty(n)
    done = np.empty(n)
    ticks0 = host.cpu_ticks()
    t0 = time.perf_counter() + 0.01
    for i, q in enumerate(queries):
        due[i] = t0 + i / SERVE_RATE
        wait = due[i] - time.perf_counter()
        if wait > 0:
            time.sleep(wait)
        start[i] = time.perf_counter()
        bench.attempted += 1
        try:
            if tracer is not None:
                tracer.qid = i
                with tracer.span("serving.search", root=True):
                    hits = searcher.search(q, k=K)
            else:
                hits = searcher.search(q, k=K)
            if i in sample:
                kept[i] = _frame(hits)
        except Exception as exc:  # a failed request is counted, not fatal
            bench.fail(f"serve query {i}: {exc!r}")
        done[i] = time.perf_counter()
    ticks1 = host.cpu_ticks()
    if restore is not None:
        restore()
    _finish(bench, ticks0, ticks1)

    lat_ms = (done - due) * 1e3
    service_ms = (done - start) * 1e3
    queue_ms = (start - due) * 1e3
    # generator lag: how late a request started when nothing was queued
    # ahead of it (the sleep overshoot of the single sending thread)
    prev_done = np.concatenate([[-np.inf], done[:-1]])
    idle = prev_done <= due
    lag_ms = np.where(idle, queue_ms, 0.0)
    bench.metrics["query_p50_ms"] = (_pct(lat_ms, 50), "ms")
    bench.info["serve"] = {
        "samples": n, "rate_qps": SERVE_RATE,
        "query_p95_ms": _pct(lat_ms, 95),
        "samples_above_p95": int((lat_ms > _pct(lat_ms, 95)).sum()),
        "query_max_ms": float(lat_ms.max()),
        "service_p50_ms": _pct(service_ms, 50),
        "busy_share": float(service_ms.sum() / 1e3
                            / (done[-1] - t0)),
        "generator_lag_max_ms": float(lag_ms.max()),
    }

    # correctness: independent reference + cross-tier bitwise equality
    oracle = Oracle(inputs.corpus)
    engine = SearchEngine(bench.spark, index_dir)
    bench.job_group("check")
    for j, i in enumerate(sample):
        if i not in kept:
            continue
        want = _oracle_topk(oracle, Request(queries[i]))
        if not _matches_oracle(kept[i], want):
            bench.fail(f"serve query {i}: differs from the oracle")
        if j < CROSS_TIER_SAMPLE:
            spark_hits = _rows(engine.search(queries[i], k=K).collect())
            if spark_hits != kept[i]:
                bench.fail(f"serve query {i}: LocalSearcher != SearchEngine")
    bench.info["checks"] = {"oracle": len(sample),
                            "cross_tier": min(CROSS_TIER_SAMPLE, len(sample))}

    if tracer is not None:
        _serve_layers(bench, tracer, n, queue_ms, service_ms, lag_ms)
        _event_log_layers(bench, {})


def _serve_layers(bench, tracer, n, queue_ms, service_ms, lag_ms) -> None:
    self_t = tracer.self_times()
    by_name: dict[str, list] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)

    def total_ms(name, own=False):
        spans = by_name.get(name, [])
        return 1e3 * sum(self_t[s.sid] if own else s.dur for s in spans)

    ensure = by_name.get("serving.ensure_terms", [])
    lookups = sum(s.attrs["terms"] for s in ensure)
    misses = sum(s.attrs["misses"] for s in ensure)
    reads = by_name.get("serving.read", [])
    layers = {
        "serving.service_ms": (float(service_ms.mean()), "ms"),
        "serving.queue_wait_ms": (float(queue_ms.mean()), "ms"),
        "serving.generator_lag_ms": (float(lag_ms.mean()), "ms"),
        "serving.term_hit_ratio": ((lookups - misses) / lookups
                                   if lookups else 0.0, "ratio"),
        "serving.term_lookups": (lookups, "count"),
        "serving.term_misses": (misses, "count"),
        "serving.read_calls_per_query": (len(reads) / n, "count"),
        "serving.read_ms": (total_ms("serving.read") / n, "ms"),
        "serving.rows_read_per_query": (
            sum(s.attrs.get("rows", 0) for s in reads) / n, "count"),
        "serving.self_ms": (total_ms("serving.search", own=True) / n, "ms"),
        "serving.gather_self_ms": (total_ms("serving.gather", own=True) / n,
                                   "ms"),
        "plans.resolve_ms": (total_ms("plans.resolve") / n, "ms"),
        "engine.score_segment_ms": (
            total_ms("engine.score_segment", own=True) / n, "ms"),
        "engine.segments_scored_per_query": (
            len(by_name.get("engine.score_segment", [])) / n, "count"),
    }
    for kern in ("wand", "conj", "taat"):
        name = f"functions.kernels.{kern}"
        layers[f"{name}_ms"] = (total_ms(name) / n, "ms")
        layers[f"{name}_calls"] = (len(by_name.get(name, [])), "count")
    bench.layers.update(layers)


# -- spark_rw ------------------------------------------------------------------

def spark_rw(bench) -> None:
    from quicker_spark.engine import SearchEngine
    from quicker_spark.oracle import Oracle
    from quicker_spark.operators.maintain import upsert_docs

    t_setup = time.perf_counter()
    inputs, index_dir = build(bench)
    spark = bench.spark
    n_rounds = max(1, int(bench.seconds // 5) + 1)
    rounds = []
    for r in range(n_rounds):
        batch = [inputs.request() for _ in range(BATCH)]
        singles = [inputs.request() for _ in range(SINGLES)]
        up = inputs.upsert_batch(r, UPSERT_DOCS)
        path = bench.path(f"upsert-{r}.parquet")
        up.rows.to_parquet(path, index=False)
        rounds.append((batch, singles, up, path))
    engine = SearchEngine(spark, index_dir)
    bench.metrics["setup_s"] = (time.perf_counter() - t_setup, "s")

    tracer = bench.tracer
    restore = instrument_maintain(tracer) if tracer else None
    calls: dict[str, list] = {"search": [], "batch": [], "upsert": [],
                              "probe": []}
    search_s, batch_qps, upsert_s, probe_s = [], [], [], []
    first_reads = None
    upsert_bytes = search_hits = 0
    ticks0 = host.cpu_ticks()
    t0 = time.perf_counter()
    for r, (batch, singles, up, path) in enumerate(rounds):
        if r and time.perf_counter() - t0 >= bench.seconds:
            break
        qids = {f"q{j:02d}": req for j, req in enumerate(batch)}

        def call(kind, fn):
            group = f"{kind}-{len(calls[kind])}/"
            bench.job_group(group)
            w0, c0 = time.time(), time.perf_counter()
            bench.attempted += 1
            try:
                return fn(), time.perf_counter() - c0
            except Exception as exc:  # counted, the round goes on
                bench.fail(f"round {r} {kind}: {exc!r}")
                return None, time.perf_counter() - c0
            finally:
                calls[kind].append((group, w0, time.time()))

        got_batch, dt = call("batch", lambda: engine.search_many(
            {q: req.q for q, req in qids.items()}, k=K,
            flags={q: (req.on, 0, ()) for q, req in qids.items() if req.on},
            excludes={q: req.exclude for q, req in qids.items()
                      if req.exclude is not None}).collect())
        batch_qps.append(BATCH / dt)
        got_singles = []
        for req in singles:
            rows, dt = call("search", lambda req=req: engine.search(
                req.q, k=K, on=req.on, exclude=req.exclude).collect())
            search_s.append(dt)
            search_hits += len(rows or [])
            got_singles.append(rows)
        if first_reads is None:
            first_reads = (qids, got_batch, singles, got_singles)

        spark_up = spark.read.parquet(path)
        upsert_bytes += up.input_bytes
        _, dt = call("upsert", lambda: upsert_docs(spark, index_dir,
                                                   spark_up))
        upsert_s.append(dt)
        # read-your-write: every upserted doc's uniq_<i> query must return
        # exactly its new doc id (so a replaced doc's old id is gone)
        engine = SearchEngine(spark, index_dir)
        probes = {f"u{j:04d}": content_term(f"uniq_{u}")
                  for j, u in enumerate(up.uniq)}
        got, dt = call("probe", lambda: engine.search_many(probes, k=K)
                       .collect())
        probe_s.append(dt)
        _check_probes(bench, r, probes, got, up.expected_ids)
    ticks1 = host.cpu_ticks()
    if restore is not None:
        restore()
    _finish(bench, ticks0, ticks1)

    bench.metrics["query_p50_ms"] = (1e3 * statistics.median(search_s), "ms")
    bench.info["spark_rw"] = {
        "rounds": len(upsert_s), "search_s": search_s,
        "spark_query_p50_s": statistics.median(search_s),
        "batch_qps": statistics.median(batch_qps),
        "upsert_p50_s": statistics.median(upsert_s),
        "probe_p50_s": statistics.median(probe_s),
    }

    # correctness of the pre-write reads against the independent reference
    oracle = Oracle(inputs.corpus)
    qids, got_batch, singles, got_singles = first_reads
    rng = np.random.default_rng(bench.seed)
    sample = sorted(rng.choice(sorted(qids), size=ORACLE_SAMPLE,
                               replace=False))
    by_qid: dict[str, list] = {}
    for row in got_batch or []:
        by_qid.setdefault(row["qid"], []).append(
            (int(row["doc_id"]), float(row["score"])))
    for q in sample:
        if got_batch is not None and not _matches_oracle(
                by_qid.get(q, []), _oracle_topk(oracle, qids[q])):
            bench.fail(f"search_many {q}: differs from the oracle")
    for j, (req, rows) in enumerate(zip(singles, got_singles)):
        if rows is not None and not _matches_oracle(
                _rows(rows), _oracle_topk(oracle, req)):
            bench.fail(f"search {j}: differs from the oracle")
    bench.info["checks"] = {"oracle": len(sample) + len(singles),
                            "probed_docs": len(upsert_s) * UPSERT_DOCS}

    if tracer is not None:
        _spark_layers(bench, tracer, calls, search_s, batch_qps, upsert_s,
                      upsert_bytes, search_hits)


def _check_probes(bench, r, probes, got, expected) -> None:
    if got is None:
        return
    hits: dict[str, list] = {}
    for row in got:
        hits.setdefault(row["qid"], []).append(int(row["doc_id"]))
    bad = sum(1 for j, q in enumerate(probes)
              if hits.get(q) != [expected[j]])
    if bad:
        bench.fail(f"round {r} probe: {bad} of {len(probes)} upserted docs "
                   "not found under their new id")


def _spark_layers(bench, tracer, calls, search_s, batch_qps, upsert_s,
                  upsert_bytes, search_hits) -> None:
    per = _event_log_layers(bench, calls)
    searches = per["search"]
    n_s = max(1, len(searches))
    batches = per["batch"]
    ups = per["upsert"]
    n_u = max(1, len(ups))
    waves = [s for s in tracer.spans
             if s.name == "operators.maintain.write_wave"]
    bench.layers.update({
        "engine.search_s": (statistics.median(search_s), "s"),
        "engine.batch_qps": (statistics.median(batch_qps), "1/s"),
        "engine.jobs_per_search": (sum(g["jobs"] for g, _w, _j in searches)
                                   / n_s, "count"),
        "engine.tasks_per_search": (sum(g["stats"].tasks
                                        for g, _w, _j in searches) / n_s,
                                    "count"),
        "engine.driver_ms_per_search": (
            1e3 * sum(w - j for _g, w, j in searches) / n_s, "ms"),
        "engine.job_ms_per_search": (
            1e3 * sum(j for _g, _w, j in searches) / n_s, "ms"),
        "engine.input_rows_per_hit": (
            sum(g["stats"].input_rows for g, _w, _j in searches)
            / max(1, search_hits), "ratio"),
        "engine.shuffle_bytes_per_batch": (
            sum(g["stats"].shuffle_write for g, _w, _j in batches)
            / max(1, len(batches)), "bytes"),
        "operators.maintain.upsert_s": (statistics.median(upsert_s), "s"),
        "operators.maintain.jobs_per_upsert": (
            sum(g["jobs"] for g, _w, _j in ups) / n_u, "count"),
        "operators.maintain.segments_rewritten": (
            sum(s.attrs["segments"] for s in waves) / n_u, "count"),
        "operators.maintain.bytes_written_per_input_byte": (
            sum(g["stats"].output_bytes for g, _w, _j in ups)
            / max(1, upsert_bytes), "ratio"),
        "operators.maintain.rebuild_s": (
            sum(s.dur for s in waves) / n_u, "s"),
    })


ALL = {"serve": serve, "spark_rw": spark_rw}
