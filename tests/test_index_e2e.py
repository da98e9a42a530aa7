"""End-to-end goldens: the Spark engine must be rank-identical to the
single-process oracle on the same corpus (SURVEY.md §5) — same doc_ids,
scores to 1e-9, ties by doc_id asc — plus the per-row sha256 ingestion
invariant, doc_id determinism across parallelism, and wave resume."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from quicker_spark.engine import SearchEngine
from quicker_spark.fixtures import corpus_df, corpus_pdf
from quicker_spark.model import LANG_BITS
from quicker_spark.operators.build import IndexConfig, build_index
from quicker_spark.operators.docs import assign_doc_ids
from quicker_spark.oracle import Oracle
from quicker_spark.plans.term_query import And, NewTermQuery, Or

N_DOCS = 400
CFG = IndexConfig(seg_docs=90, wave_segments=2, block_size=32)


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index"))
    build_index(spark, corpus_df(spark, N_DOCS, partitions=6), out, CFG)
    return out


@pytest.fixture(scope="module")
def oracle():
    return Oracle(corpus_pdf(N_DOCS))


@pytest.fixture(scope="module")
def engine(spark, index_dir):
    return SearchEngine(spark, index_dir)


QUERIES = [
    NewTermQuery("content", "def"),                       # hot single term
    NewTermQuery("content", "uniq_17"),                   # singleton
    NewTermQuery("content", "tok250"),                    # mid-frequency
    Or(NewTermQuery("content", "tok100"), NewTermQuery("content", "tok200"),
       NewTermQuery("content", "tok300")),                # flat OR (WAND path)
    And(NewTermQuery("content", "def"), NewTermQuery("content", "tok50")),
    Or(And(NewTermQuery("content", "import"), NewTermQuery("content", "tok30")),
       And(NewTermQuery("content", "return"), NewTermQuery("content", "tok40"))),
    And(NewTermQuery("lang", "python"), NewTermQuery("content", "class")),
    NewTermQuery("content", "zzz_does_not_exist"),
]


def test_count_matches(engine, oracle):
    assert engine.count() == oracle.n_docs == N_DOCS


def test_ingestion_invariant_sha256(engine, oracle):
    rows = engine.docs.select("id", "doc_sha", "content").collect()
    assert len(rows) == N_DOCS
    by_id = {o["id"]: o for o in oracle.docs.values()}
    for r in rows:
        assert hashlib.sha256(r["content"].encode()).hexdigest() == r["doc_sha"]
        assert by_id[r["id"]]["content_sha"] == r["doc_sha"]


def test_doc_ids_deterministic_across_parallelism(spark):
    a = assign_doc_ids(corpus_df(spark, 150, partitions=3), n_parts=2)
    b = assign_doc_ids(corpus_df(spark, 150, partitions=8), n_parts=7)
    pa = a.select("repo", "path", "commit", "doc_id").orderBy("doc_id").toPandas()
    pb = b.select("repo", "path", "commit", "doc_id").orderBy("doc_id").toPandas()
    assert pa.equals(pb)
    assert sorted(pa["doc_id"]) == list(range(150))


def test_doc_ids_match_oracle(engine, oracle):
    got = {r["id"]: r["doc_id"] for r in engine.docs.select("id", "doc_id").collect()}
    want = {d["id"]: i for i, d in oracle.docs.items()}
    assert got == want


@pytest.mark.parametrize("qi", range(len(QUERIES)))
def test_boolean_rank_identity(engine, oracle, qi):
    q = QUERIES[qi]
    got = [r["doc_id"] for r in engine.search_bool(q).collect()]
    want = oracle.eval_bool(q)
    assert got == want, f"query {q}"


@pytest.mark.parametrize("qi", range(len(QUERIES)))
@pytest.mark.parametrize("mode", ["taat", "auto"])
def test_topk_rank_identity(engine, oracle, qi, mode):
    q = QUERIES[qi]
    k = 10
    got = engine.search(q, k=k, mode=mode).collect()
    want = oracle.search_topk(q, k=k)
    assert [r["doc_id"] for r in got] == [h.doc_id for h in want], f"query {q}"
    np.testing.assert_allclose(
        [r["score"] for r in got], [h.score for h in want], atol=1e-9)


def test_conjunctive_engine_path_matches_taat(engine, oracle):
    """Flat AND queries: the pruned conj scorer (auto-selected) and the
    exhaustive taat path must produce identical ranks AND scores — the
    hashes the driver compares are computed from either path."""
    and_queries = [
        And(NewTermQuery("content", "def"), NewTermQuery("content", "tok50")),
        And(NewTermQuery("lang", "python"), NewTermQuery("content", "class")),
        And(NewTermQuery("content", "def"), NewTermQuery("content", "import"),
            NewTermQuery("content", "return")),
        And(NewTermQuery("content", "def"),
            NewTermQuery("content", "zzz_does_not_exist")),
    ]
    for q in and_queries:
        conj = engine.search(q, k=10, mode="conj").collect()
        taat = engine.search(q, k=10, mode="taat").collect()
        assert [r["doc_id"] for r in conj] == [r["doc_id"] for r in taat], str(q)
        np.testing.assert_allclose([r["score"] for r in conj],
                                   [r["score"] for r in taat], atol=1e-12)
        want = oracle.search_topk(q, k=10)
        assert [r["doc_id"] for r in conj] == [h.doc_id for h in want], str(q)


def test_topk_with_flags_matches_oracle(engine, oracle):
    q = Or(NewTermQuery("content", "def"), NewTermQuery("content", "tok80"))
    for kw in ({"on": LANG_BITS["python"]}, {"off": LANG_BITS["go"]},
               {"or_flags": (LANG_BITS["python"] | LANG_BITS["go"],)}):
        got = engine.search(q, k=8, **kw).collect()
        want = oracle.search_topk(q, k=8, **kw)
        assert [r["doc_id"] for r in got] == [h.doc_id for h in want], kw
        np.testing.assert_allclose(
            [r["score"] for r in got], [h.score for h in want], atol=1e-9)


def test_hydration_returns_business_payload(engine, oracle):
    q = NewTermQuery("content", "uniq_5")
    row = engine.search(q, k=1, hydrate=True).collect()
    assert len(row) == 1
    assert row[0]["id"] == oracle.docs[oracle.eval_bool(q)[0]]["id"]
    assert row[0]["doc_sha"]


def test_resume_skips_finished_waves(spark, tmp_path):
    out = str(tmp_path / "idx")
    corpus = corpus_df(spark, 200, partitions=4)
    cfg = IndexConfig(seg_docs=50, wave_segments=1, block_size=32)
    # killed build: only 2 of 4 waves complete
    r1 = build_index(spark, corpus, out, cfg, max_waves=2)
    assert r1.waves_run == 2
    # resumed build: remaining waves only
    r2 = build_index(spark, corpus, out, cfg)
    assert r2.waves_run == 2  # not 4 — finished segments were skipped
    # resumed-from-kill index equals a fresh uninterrupted build
    out2 = str(tmp_path / "idx_fresh")
    build_index(spark, corpus, out2, cfg)
    a = spark.read.parquet(f"{out}/postings").select(
        "segment_id", "term", "df", "ids", "tfs", "dls", "bits").orderBy(
        "segment_id", "term").toPandas()
    b = spark.read.parquet(f"{out2}/postings").select(
        "segment_id", "term", "df", "ids", "tfs", "dls", "bits").orderBy(
        "segment_id", "term").toPandas()
    assert a.equals(b)
    # idempotent no-op on a complete index
    r3 = build_index(spark, corpus, out, cfg)
    assert r3.waves_run == 0


def test_postings_are_sorted_and_compressed(spark, index_dir):
    posts = spark.read.parquet(f"{index_dir}/postings")
    row = posts.filter(F.col("term") == "content\x01def").limit(1).collect()[0]
    from quicker_spark.engine import _row_to_encoded
    import pandas as pd

    enc = _row_to_encoded(pd.Series(row.asDict()), CFG.block_size)
    ids, tfs, dls, bits = enc.decode_all()
    assert (np.diff(ids) > 0).all()          # strictly ascending doc_ids
    assert enc.df == len(ids)
    assert len(enc.ids) < 8 * len(ids)       # compressed vs raw int64


def test_lookup_and_has(engine):
    """Forward-index point ops (reference: kvdb BatchGet/Has)."""
    eng = engine
    got = eng.lookup([0, 1, 10_000_000]).collect()
    assert sorted(r["doc_id"] for r in got) == [0, 1]
    assert eng.has(0) and not eng.has(10_000_000)


def test_build_releases_id_cache(spark, tmp_path):
    """The doc-id fence cache is released once the docs table is
    written — repeated builds in one session (streaming compactions)
    must not accumulate corpus-sized cache entries."""
    import shutil

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    for i in range(2):
        out = str(tmp_path / f"leak{i}")
        shutil.rmtree(out, ignore_errors=True)
        build_index(spark, corpus_df(spark, 80, partitions=3), out,
                    IndexConfig(seg_docs=50), resume=False)
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after <= before, f"leaked {after - before} persisted RDDs"


def test_doc_ids_recompute_identically(spark):
    """Executor-loss safety: doc_id is a pure function of the data, so
    re-executing the SAME plan (nothing is cached — each collect replays
    the full lineage, which is exactly what Spark does for partitions
    lost to executor failure) must reproduce byte-identical ids. The
    round-3 design failed this property at cluster scale: a cached
    nondeterministic expression recomputed through fresh range-sampling
    could silently renumber ids."""
    ids = assign_doc_ids(corpus_df(spark, 200, partitions=5), n_parts=3)
    first = sorted(map(tuple, ids.select("path", "doc_id").collect()))
    spark.catalog.clearCache()
    second = sorted(map(tuple, ids.select("path", "doc_id").collect()))
    assert first == second
    assert sorted(i for _p, i in first) == list(range(200))


def test_doc_ids_duplicate_keys_stay_distinct_and_stable(spark):
    """Duplicate (repo, path, commit) keys share the key hash; the
    full-row tie-break must still hand out distinct contiguous ids, and
    fully identical rows are interchangeable — the (key, id-set) mapping
    is stable across runs."""
    import pandas as pd

    from quicker_spark.fixtures import corpus_pdf

    pdf = corpus_pdf(40)
    dup = pd.concat([pdf, pdf.iloc[:5]], ignore_index=True)  # 5 exact dups
    ids1 = assign_doc_ids(spark.createDataFrame(dup), n_parts=4)
    ids2 = assign_doc_ids(spark.createDataFrame(dup), n_parts=2)
    rows1 = [(r["path"], r["doc_id"]) for r in ids1.collect()]
    rows2 = [(r["path"], r["doc_id"]) for r in ids2.collect()]
    assert sorted(i for _p, i in rows1) == list(range(45))
    assert sorted(rows1) == sorted(rows2)  # same (key, id) multiset


def test_describe_reports_topology(spark, tmp_path):
    import shutil as _sh

    from quicker_spark.engine import SearchEngine
    from quicker_spark.fixtures import corpus_pdf as _pdf
    from quicker_spark.operators.build import (
        IndexConfig as _Cfg,
        build_index as _build,
    )

    out = str(tmp_path / "desc_idx")
    _sh.rmtree(out, ignore_errors=True)
    _build(spark, spark.createDataFrame(_pdf(250)), out,
           _Cfg(seg_docs=100, wave_segments=2), resume=False)
    d = SearchEngine(spark, out).describe()
    assert d["n_docs"] == 250 and d["seg_docs"] == 100
    assert d["n_segments"] == 3 and d["wave_segments"] == 2
    assert d["vocabulary"] > 0 and d["avgdl"] > 0
    assert d["trees"]["postings"]["waves"] == 2
    assert d["trees"]["postings"]["bytes"] > 0
    assert d["trees"]["docs"]["files"] > 0
    assert "term_stats" in d["trees"]
