"""Delete/upsert maintenance vs a freshly-built oracle on the edited corpus.

Replicates the reference's indexer_test.go delete -> search -> re-add ->
search cycle (index_service/test/indexer_test.go:119-185) at wave
granularity: after maintenance, BM25 scores and boolean matches must equal
an oracle built from scratch on the post-edit corpus (stats, idf, and WAND
bounds all refreshed), compared by business id (engine ids are stable
across deletes; re-added docs get fresh larger ids).
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from quicker_spark.engine import SearchEngine
from quicker_spark.fixtures import corpus_pdf
from quicker_spark.operators.build import IndexConfig, build_index
from quicker_spark.operators.maintain import delete_docs, upsert_docs
from quicker_spark.oracle import Oracle
from quicker_spark.serving import LocalSearcher
from quicker_spark.plans.term_query import And, NewTermQuery, Or

N_DOCS = 300
CFG = IndexConfig(seg_docs=100, wave_segments=2)

QUERIES = [
    Or(NewTermQuery("content", "def"), NewTermQuery("content", "return")),
    And(NewTermQuery("content", "import"), NewTermQuery("content", "if")),
    Or(NewTermQuery("content", "struct"), NewTermQuery("content", "impl"),
       NewTermQuery("content", "fn")),
]


@pytest.fixture()
def index_dir(spark, tmp_path):
    out = str(tmp_path / "idx")
    shutil.rmtree(out, ignore_errors=True)
    pdf = corpus_pdf(N_DOCS)
    corpus = spark.createDataFrame(pdf)
    build_index(spark, corpus, out, CFG, resume=False)
    return out


def _assert_matches_oracle(spark, index_dir, oracle, k=10):
    eng = SearchEngine(spark, index_dir)
    assert eng.stats["n_docs"] == oracle.n_docs
    assert abs(eng.stats["avgdl"] - oracle.avgdl) < 1e-9
    for q in QUERIES:
        exp = oracle.search_topk(q, k=k)
        got = (eng.search(q, k=k, hydrate=True)
               .orderBy(F.desc("score"), F.asc("doc_id")).collect())
        assert [r["id"] for r in got] == [h.id for h in exp], str(q)
        for r, h in zip(got, exp):
            assert abs(r["score"] - h.score) < 1e-9
        exp_bool = oracle.search_bool(q)
        got_bool = [r["id"]
                    for r in eng.search_bool(q, hydrate=True).collect()]
        assert sorted(got_bool) == sorted(exp_bool)


def test_delete_docs(spark, index_dir):
    pdf = corpus_pdf(N_DOCS)
    full = Oracle(pdf)
    victims = [3, 7, 150, 250]  # spans all three segments / both waves
    victim_keys = {full.docs[d]["id"] for d in victims}

    res = delete_docs(spark, index_dir, victims)
    assert res["n_docs"] == N_DOCS - len(victims)
    assert res["rebuilt_waves"]

    remaining = pdf[~pdf.apply(
        lambda r: f"{r.repo}:{r.path}@{r.commit}" in victim_keys, axis=1)]
    oracle = Oracle(remaining)
    _assert_matches_oracle(spark, index_dir, oracle)

    # deleted docs are gone from the forward index too (S5 semantics)
    eng = SearchEngine(spark, index_dir)
    assert eng.docs.filter(F.col("doc_id").isin(victims)).count() == 0


def _tree_state(root):
    out = {}
    for dp, _dn, fns in __import__("os").walk(root):
        for f in fns:
            p = __import__("os").path.join(dp, f)
            st = __import__("os").stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def test_delete_touches_only_affected_partitions(spark, index_dir):
    """Scale contract: deleting docs from segment 0 must not rewrite the
    OTHER waves' posting files nor the other docs segment dirs (the
    avgdl-dependent block bounds that used to force a full-index metadata
    rewrite are now derived at query time)."""
    import os

    untouched_wave = os.path.join(index_dir, "postings", "wave=2")
    untouched_docs = [os.path.join(index_dir, "docs", f"segment_id={s}")
                      for s in (1, 2)]
    before = {p: _tree_state(p)
              for p in [untouched_wave, *untouched_docs]}
    assert all(before.values())

    delete_docs(spark, index_dir, [3, 7])  # victims only in segment 0
    for p, state in before.items():
        assert _tree_state(p) == state, f"unexpected rewrite under {p}"

    # ...and the index still answers correctly after the pruned rewrite
    pdf = corpus_pdf(N_DOCS)
    full = Oracle(pdf)
    victim_keys = {full.docs[d]["id"] for d in (3, 7)}
    remaining = pdf[~pdf.apply(
        lambda r: f"{r.repo}:{r.path}@{r.commit}" in victim_keys, axis=1)]
    _assert_matches_oracle(spark, index_dir, Oracle(remaining))


def test_delete_empties_whole_segment(spark, index_dir):
    """Deleting every doc of a segment removes its partition dir instead
    of leaving stale rows behind (dynamic overwrite writes no partition
    for an empty segment)."""
    import os

    victims = list(range(100, 200))  # all of segment 1
    res = delete_docs(spark, index_dir, victims)
    assert res["n_docs"] == N_DOCS - 100
    assert not os.path.isdir(os.path.join(index_dir, "docs", "segment_id=1"))

    pdf = corpus_pdf(N_DOCS)
    full = Oracle(pdf)
    victim_keys = {full.docs[d]["id"] for d in victims}
    remaining = pdf[~pdf.apply(
        lambda r: f"{r.repo}:{r.path}@{r.commit}" in victim_keys, axis=1)]
    _assert_matches_oracle(spark, index_dir, Oracle(remaining))


def test_upsert_docs(spark, index_dir):
    pdf = corpus_pdf(N_DOCS)
    old_max = N_DOCS - 1

    replaced = pdf.iloc[[5, 42, 260]].copy()
    replaced["content"] = replaced["content"] + " zebra zebra zebra"
    brand_new = corpus_pdf(4, start=10_000)
    batch = __import__("pandas").concat([replaced, brand_new])

    res = upsert_docs(spark, index_dir, spark.createDataFrame(batch))
    assert res["n_inserted"] == len(batch)
    assert res["n_replaced"] == len(replaced)

    # post-edit corpus: originals minus replaced keys, plus the new batch
    keys = {f"{r.repo}:{r.path}@{r.commit}" for _, r in batch.iterrows()}
    kept = pdf[~pdf.apply(
        lambda r: f"{r.repo}:{r.path}@{r.commit}" in keys, axis=1)]
    oracle = Oracle(__import__("pandas").concat([kept, batch]))
    _assert_matches_oracle(spark, index_dir, oracle)

    # the upserted index spans several waves, rewritten segments and a
    # new one (3); both tiers read it bitwise identically
    eng = SearchEngine(spark, index_dir)
    trees = eng.describe()["trees"]["postings"]
    assert trees["waves"] >= 2 and trees["segments"] == 4
    ls = LocalSearcher(index_dir)
    for q in QUERIES:
        for kw in ({}, {"exclude": NewTermQuery("content", "zebra")}):
            want = [(r["doc_id"], r["score"])
                    for r in eng.search(q, k=10, **kw).collect()]
            got = ls.search(q, k=10, **kw)
            assert want and list(zip(got["doc_id"].tolist(),
                                     got["score"].tolist())) == want

    # fresh-id contract: every upserted doc got an id past the old max
    new_rows = eng.docs.filter(F.col("doc_id") > old_max).count()
    assert new_rows == len(batch)
    # replaced keys exist once: originals out, whole batch in
    assert eng.count() == N_DOCS - len(replaced) + len(batch)

    # per-row ingestion invariant: stored sha == sha256(content)
    bad = eng.docs.filter(
        F.sha2(F.col("content"), 256) != F.col("doc_sha")).count()
    assert bad == 0


def test_crash_recovery_completes_maintenance(spark, index_dir):
    """Two-phase commit: a crash right after the pending marker is
    written (docs swap, stats, wave rebuild, and term stats all still
    pending) must be replayed by recover_pending to the exact
    post-maintenance state."""
    import json
    import os

    from quicker_spark.operators import maintain as M

    victims = [3, 7]
    stats = M._load_stats(index_dir)
    docs = spark.read.parquet(os.path.join(index_dir, "docs"))
    ids_df = M._ids_dataframe(spark, victims)
    segs = {0}
    before = M._before_agg(docs, segs)
    kept = (docs.filter(F.col("segment_id").isin([0]))
            .join(F.broadcast(ids_df), "doc_id", "left_anti"))
    ops, after = M._stage_docs(kept, segs, index_dir)
    new_stats = M._apply_stats_delta(stats, before, after)
    present = {s for s, v in after.items() if v["n"] > 0}
    # simulated crash: marker on disk, no live directory touched yet
    with open(os.path.join(index_dir, M._PENDING), "w") as fh:
        json.dump({"ops": ops, "stats": new_stats,
                   "affected_segments": sorted(segs),
                   "present_segments": sorted(present)}, fh)

    assert M.recover_pending(spark, index_dir)
    assert not os.path.exists(os.path.join(index_dir, M._PENDING))

    pdf = corpus_pdf(N_DOCS)
    full = Oracle(pdf)
    victim_keys = {full.docs[d]["id"] for d in victims}
    remaining = pdf[~pdf.apply(
        lambda r: f"{r.repo}:{r.path}@{r.commit}" in victim_keys, axis=1)]
    _assert_matches_oracle(spark, index_dir, Oracle(remaining))


def test_term_stats_delta_equals_full_recompute(spark, index_dir):
    """The incremental term-stats path (old − affected-before +
    affected-after) must land on exactly the aggregate a full postings
    scan produces."""
    delete_docs(spark, index_dir, [3, 7, 150])
    upsert_docs(spark, index_dir,
                spark.createDataFrame(corpus_pdf(5, start=20_000)))
    ts = spark.read.parquet(index_dir + "/term_stats").alias("ts")
    full = (spark.read.parquet(index_dir + "/postings")
            .groupBy("term").agg(F.sum("df").alias("df_full")).alias("fl"))
    diff = (ts.join(full, "term", "full")
            .filter(F.coalesce(F.col("ts.df_global"), F.lit(0))
                    != F.coalesce(F.col("fl.df_full"), F.lit(0))))
    assert diff.count() == 0, diff.limit(5).collect()


def test_upsert_zebra_searchable(spark, index_dir):
    """Re-added content is immediately searchable (indexer_test.go:119-185
    delete -> re-add -> search cycle)."""
    pdf = corpus_pdf(N_DOCS)
    replaced = pdf.iloc[[5]].copy()
    replaced["content"] = "zebra zebra zebra unique_marker"
    upsert_docs(spark, index_dir, spark.createDataFrame(replaced))
    eng = SearchEngine(spark, index_dir)
    hits = eng.search(NewTermQuery("content", "zebra"), k=5,
                      hydrate=True).collect()
    assert len(hits) == 1
    assert hits[0]["id"] == f"{replaced.iloc[0].repo}:{replaced.iloc[0].path}@{replaced.iloc[0].commit}"
    assert hits[0]["doc_id"] >= N_DOCS  # fresh id past old max


def test_commit_backend_seam(spark, index_dir):
    """Maintenance physically commits through io.commit_partition_ops —
    a deployment-registered backend (e.g. an Iceberg snapshot committer)
    sees every op batch without maintain.py edits."""
    from quicker_spark import io

    calls = []

    def recording_backend(base_dir, ops):
        calls.append(list(ops))
        io.apply_dir_ops(base_dir, ops)

    io.set_commit_backend(recording_backend)
    try:
        delete_docs(spark, index_dir, [3, 7])
    finally:
        io.set_commit_backend(None)
    # docs swap batch + term-stats swap batch, at minimum
    assert len(calls) >= 2
    flat = [op for batch in calls for op in batch]
    assert any(op["dst"].startswith("docs/") for op in flat)
    assert any(op["dst"] == "term_stats" for op in flat)
    pdf = corpus_pdf(N_DOCS)
    full = Oracle(pdf)
    victim_keys = {full.docs[d]["id"] for d in (3, 7)}
    remaining = pdf[~pdf.apply(
        lambda r: f"{r.repo}:{r.path}@{r.commit}" in victim_keys, axis=1)]
    _assert_matches_oracle(spark, index_dir, Oracle(remaining))


def _term_row_group_ranges(index_dir):
    """Sorted (min, max) term statistics of every term_stats row group,
    asserted disjoint: the range-partitioned layout term lookups rely on."""
    import pyarrow.dataset as pads

    ranges = sorted(
        (st["min"], st["max"]) for f in pads.dataset(
            index_dir + "/term_stats").get_fragments()
        for st in (rg.statistics["term"] for rg in f.row_groups))
    assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:])), ranges
    return ranges


def test_df_global_reads_only_query_term_row_groups(spark, index_dir):
    """Build, maintenance delta and full recompute all write term_stats
    in disjoint term ranges, so the df_global lookup's filter lets
    pyarrow keep at most one row group per query term, and it reads the
    same values as a full scan."""
    import pyarrow.dataset as pads

    from quicker_spark.engine import read_df_global, term_filter
    from quicker_spark.operators import maintain as M

    def check():
        ranges = _term_row_group_ranges(index_dir)
        assert len(ranges) >= 4, ranges
        ts = pads.dataset(index_dir + "/term_stats")
        terms = sorted({ranges[0][0], ranges[-1][1], ranges[1][0],
                        "content\x01qs_absent_term"})
        read = sum(len(frag.split_by_row_group(term_filter(ts, terms)))
                   for frag in ts.get_fragments())
        assert 1 <= read <= 3 < len(ranges)
        full = ts.to_table().to_pydict()
        want = dict(zip(full["term"], full["df_global"]))
        assert read_df_global(ts, terms) == {
            t: want.get(t, 0) for t in terms}

    check()
    # the build runs without AQE; keep maintenance's range partitions
    # apart too, so its small table still spans several files
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        upsert_docs(spark, index_dir,
                    spark.createDataFrame(corpus_pdf(5, start=20_000)))
        check()
        M._full_term_stats_recompute(spark, index_dir,
                                     M._load_stats(index_dir))
        check()
    finally:
        spark.conf.set(coalesce, prev)
    _ts_equals_full_recompute(spark, index_dir)


def _ts_equals_full_recompute(spark, index_dir):
    ts = spark.read.parquet(index_dir + "/term_stats").alias("ts")
    full = (spark.read.parquet(index_dir + "/postings")
            .groupBy("term").agg(F.sum("df").alias("df_full")).alias("fl"))
    diff = (ts.join(full, "term", "full")
            .filter(F.coalesce(F.col("ts.df_global"), F.lit(0))
                    != F.coalesce(F.col("fl.df_full"), F.lit(0))))
    assert diff.count() == 0, diff.limit(5).collect()
    _term_row_group_ranges(index_dir)


def _recover_with_spies(spark, index_dir, monkeypatch):
    """Run recover_pending with call-count spies on the delta stage and
    the legacy full recompute; returns (delta_calls, full_calls)."""
    from quicker_spark.operators import maintain as M

    counts = {"delta": 0, "full": 0}
    real_delta = M._stage_delta_term_stats
    real_full = M._full_term_stats_recompute

    def spy_delta(*a, **kw):
        counts["delta"] += 1
        return real_delta(*a, **kw)

    def spy_full(*a, **kw):
        counts["full"] += 1
        return real_full(*a, **kw)

    monkeypatch.setattr(M, "_stage_delta_term_stats", spy_delta)
    monkeypatch.setattr(M, "_full_term_stats_recompute", spy_full)
    assert M.recover_pending(spark, index_dir)
    monkeypatch.undo()
    return counts["delta"], counts["full"]


def _assert_post_delete_state(spark, index_dir, victims):
    import os

    from quicker_spark.operators import maintain as M

    assert not os.path.exists(os.path.join(index_dir, M._PENDING))
    pdf = corpus_pdf(N_DOCS)
    full = Oracle(pdf)
    victim_keys = {full.docs[d]["id"] for d in victims}
    remaining = pdf[~pdf.apply(
        lambda r: f"{r.repo}:{r.path}@{r.commit}" in victim_keys, axis=1)]
    _assert_matches_oracle(spark, index_dir, Oracle(remaining))
    _ts_equals_full_recompute(spark, index_dir)
    # every recovery path publishes the swapped table's vocabulary size
    assert (SearchEngine(spark, index_dir).stats["n_terms"]
            == spark.read.parquet(index_dir + "/term_stats").count())


def test_recovery_pre_freeze_crash_uses_delta(spark, index_dir, monkeypatch):
    """Crash BEFORE the before-aggregate freeze (docs already swapped):
    no posting wave has been overwritten yet, so recovery freezes the
    delta itself — the full postings scan is never taken."""
    from quicker_spark.operators import maintain as M

    victims = [3, 7, 150]

    def boom(*a, **kw):
        raise RuntimeError("injected crash before freeze")

    monkeypatch.setattr(M, "_freeze_old_wave_df", boom)
    with pytest.raises(RuntimeError, match="before freeze"):
        delete_docs(spark, index_dir, victims)
    monkeypatch.undo()

    delta_calls, full_calls = _recover_with_spies(spark, index_dir,
                                                  monkeypatch)
    assert delta_calls == 1 and full_calls == 0
    _assert_post_delete_state(spark, index_dir, victims)


def test_recovery_post_delta_crash_skips_full_scan(spark, index_dir,
                                                   monkeypatch):
    """Crash AFTER the before-aggregate is durably staged (waves not yet
    rebuilt): recovery must replay via the frozen delta — asserting the
    full postings recompute is NOT run (ADVICE round 3 #5)."""
    from quicker_spark.operators import maintain as M

    victims = [3, 7, 150]

    def boom(*a, **kw):
        raise RuntimeError("injected crash after freeze")

    monkeypatch.setattr(M, "_rebuild_waves", boom)
    with pytest.raises(RuntimeError, match="after freeze"):
        delete_docs(spark, index_dir, victims)
    monkeypatch.undo()

    delta_calls, full_calls = _recover_with_spies(spark, index_dir,
                                                  monkeypatch)
    assert delta_calls == 1 and full_calls == 0
    _assert_post_delete_state(spark, index_dir, victims)


def test_recovery_post_swap_crash_no_double_apply(spark, index_dir,
                                                  monkeypatch):
    """Crash AFTER the term-stats swap but before marker removal
    (ts_staged=true, staging gone): replay must leave the committed
    stats alone — applying the delta twice would corrupt df_global."""
    import os

    from quicker_spark.operators import maintain as M

    victims = [3, 7, 150]
    real_remove = os.remove

    def boom(path):
        if path.endswith(M._PENDING):
            raise RuntimeError("injected crash before marker removal")
        return real_remove(path)

    monkeypatch.setattr(M.os, "remove", boom)
    with pytest.raises(RuntimeError, match="marker removal"):
        delete_docs(spark, index_dir, victims)
    monkeypatch.undo()

    assert os.path.exists(os.path.join(index_dir, M._PENDING))
    delta_calls, full_calls = _recover_with_spies(spark, index_dir,
                                                  monkeypatch)
    # delta already swapped: recovery must neither re-stage nor rescan
    assert delta_calls == 0 and full_calls == 0
    _assert_post_delete_state(spark, index_dir, victims)


def test_corrupt_marker_is_phase1_never_completed(spark, index_dir):
    """An unparsable pending marker (pre-atomic legacy / external
    corruption) must not wedge maintenance: treated as 'phase 1 never
    completed' — marker + staging dropped, live index untouched."""
    import os

    from quicker_spark.operators import maintain as M

    marker = os.path.join(index_dir, M._PENDING)
    with open(marker, "w") as fh:
        fh.write('{"ops": [truncated')
    assert M.recover_pending(spark, index_dir) is False
    assert not os.path.exists(marker)
    _assert_matches_oracle(spark, index_dir, Oracle(corpus_pdf(N_DOCS)))
    # and the next real maintenance call goes through cleanly
    delete_docs(spark, index_dir, [3])


def test_rebuild_leaves_sibling_segments_untouched(spark, index_dir):
    """Segment-granular maintenance: deleting a doc in segment 0 must
    rewrite only postings/wave=0/segment_id=0 — segment 1 lives in the
    SAME wave and its posting files must be byte-identical and untouched
    (no mtime change), so a one-doc mutation never pays
    wave_segments x its proportional rebuild cost."""
    import os

    def seg_dir_state(wave, seg):
        d = os.path.join(index_dir, "postings", f"wave={wave}",
                         f"segment_id={seg}")
        out = []
        for dp, _dn, fns in os.walk(d):   # v5: bucket=B subdirs
            for f in fns:
                if f.endswith(".crc"):
                    continue
                p = os.path.join(dp, f)
                st = os.stat(p)
                out.append((os.path.relpath(p, d), st.st_mtime_ns,
                            st.st_size))
        return sorted(out)

    sibling_before = seg_dir_state(0, 1)    # wave 0 covers segments 0+1
    rebuilt_before = seg_dir_state(0, 0)
    res = delete_docs(spark, index_dir, [3])           # doc 3 -> segment 0
    assert res["rebuilt_waves"] == [0]
    assert seg_dir_state(0, 1) == sibling_before        # sibling untouched
    assert seg_dir_state(0, 0) != rebuilt_before        # target rewritten

    pdf = corpus_pdf(N_DOCS)
    full = Oracle(pdf)
    victim_keys = {full.docs[3]["id"]}
    remaining = pdf[~pdf.apply(
        lambda r: f"{r.repo}:{r.path}@{r.commit}" in victim_keys, axis=1)]
    _assert_matches_oracle(spark, index_dir, Oracle(remaining))


def test_n_terms_follows_maintenance(spark, index_dir):
    """stats.json ``n_terms`` (significant_terms' broadcast-vs-shuffle
    gate) tracks the live vocabulary through maintenance: an upsert with
    fresh tokens raises it, and deleting a term's last doc lowers it."""
    import json
    import os

    def n_terms():
        with open(os.path.join(index_dir, "stats.json")) as fh:
            return json.load(fh)["n_terms"]

    def vocabulary():
        return spark.read.parquet(index_dir + "/term_stats").count()

    n0 = n_terms()
    assert n0 == vocabulary()
    fresh = corpus_pdf(2, start=20_000)
    fresh["content"] = ["qsfresh_alpha qsfresh_beta", "qsfresh_gamma"]
    upsert_docs(spark, index_dir, spark.createDataFrame(fresh))
    n1 = n_terms()
    assert n1 == vocabulary() and n1 >= n0 + 3

    gamma = "content\x01qsfresh_gamma"
    eng = SearchEngine(spark, index_dir)
    (victim,) = [r["doc_id"] for r in
                 eng.search(NewTermQuery("content", "qsfresh_gamma"),
                            k=5).collect()]
    delete_docs(spark, index_dir, [victim])
    n2 = n_terms()
    assert n2 == vocabulary() and n2 < n1
    assert spark.read.parquet(index_dir + "/term_stats").filter(
        F.col("term") == gamma).count() == 0
