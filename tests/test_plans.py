"""Physical-plan assertions: the plans we designed are the plans we get.

Scale behavior is decided by the plan shape (SURVEY.md §4): term filters
must reach the postings parquet scan as pushed filters, hydration must be
a broadcast join, and the scan must prune to the queried columns. These
tests freeze that contract so a regression shows up as a failed assert,
not as a 10x slowdown at the next scale-up.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from quicker_spark.engine import SearchEngine
from quicker_spark.fixtures import corpus_pdf
from quicker_spark.operators.build import IndexConfig, build_index
from quicker_spark.plans.term_query import NewTermQuery, Or


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("plans") / "idx")
    shutil.rmtree(out, ignore_errors=True)
    build_index(spark, spark.createDataFrame(corpus_pdf(200)), out,
                IndexConfig(seg_docs=100), resume=False)
    return SearchEngine(spark, out)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_term_filter_pushed_to_postings_scan(eng):
    df = eng._postings_for({"content\x01def", "content\x01return"})
    plan = _formatted(df)
    assert "PushedFilters" in plan
    # the IN-filter on term must reach the parquet reader
    assert "In(term" in plan or "term IN" in plan


def test_postings_scan_is_bucket_partition_pruned(eng):
    """v5 layout contract: the term-pruned scan must carry
    PartitionFilters on the terms' md5 buckets — the scan reads
    1/term_buckets of every segment directory, not the whole tree.
    Directory-level pruning is what holds at 10^12 docs, where row-group
    stats alone cannot skip files holding hash-random term subsets."""
    from quicker_spark.functions.buckets import term_bucket

    terms = {"content\x01def", "content\x01return"}
    nb = int(eng.stats["term_buckets"])
    assert nb > 1
    plan = _formatted(eng._postings_for(terms))
    scan = [ln for ln in plan.splitlines()
            if "PartitionFilters" in ln and "bucket" in ln]
    assert scan, plan
    # the pruned bucket set is exactly the query terms' buckets
    expect = sorted({term_bucket(t, nb) for t in terms})
    assert any(str(b) in scan[0] for b in expect), (expect, scan)


def test_postings_scan_prunes_columns(eng):
    df = eng.postings.select("term", "df")
    plan = _formatted(df)
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "ids" not in read_schema[0]


def test_hydration_join_is_broadcast(eng):
    hits = eng.search(Or(NewTermQuery("content", "def")), k=5, hydrate=True)
    plan = _plan(hits)
    assert "BroadcastHashJoin" in plan


def test_hydration_scan_is_partition_pruned(eng):
    """hydrate must behave like a point BatchGet (reference kv_db.go:27):
    the docs scan carries PartitionFilters on the hits' segment set, so
    only the affected segment directories are read — never the whole
    forward index."""
    hits = eng.search(Or(NewTermQuery("content", "def")), k=5, hydrate=True)
    plan = _formatted(hits)
    scan = [ln for ln in plan.splitlines()
            if "PartitionFilters" in ln and "segment_id" in ln]
    assert scan, plan


def test_hydrate_join_keys_include_segment(eng):
    """hydrate_join (unbounded boolean hydration) must join on
    (segment_id, doc_id): the composite key makes the docs scan prunable
    — dynamic partition pruning drops hit-free segment directories when
    the hits side broadcasts — and it costs nothing when the join
    shuffles. Also certifies the derived key is the id→partition law:
    the join must not drop or duplicate any boolean match."""
    bool_hits = eng.search_bool(Or(NewTermQuery("content", "def")))
    hydrated = eng.hydrate_join(bool_hits)
    plan = _plan(hydrated)
    join_lines = [ln for ln in plan.splitlines()
                  if "Join" in ln and "segment_id" in ln and "doc_id" in ln]
    assert join_lines, plan
    n_bool = bool_hits.count()
    assert n_bool > 0
    assert hydrated.count() == n_bool
    assert "segment_id" not in hydrated.columns


def test_lookup_scan_is_partition_pruned(eng):
    plan = _formatted(eng.lookup([3, 7, 150]))
    scan = [ln for ln in plan.splitlines()
            if "PartitionFilters" in ln and "segment_id" in ln]
    assert scan, plan


def test_topk_is_take_ordered(eng):
    hits = eng.search(Or(NewTermQuery("content", "def")), k=5)
    assert "TakeOrderedAndProject" in _plan(hits)


def test_docs_scan_prunes_for_count(eng):
    plan = _formatted(eng.docs.select("doc_id"))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "content" not in read_schema[0]


def test_jaccard_window_is_equi_join(spark):
    """The windowed-Jaccard gap join must plan as an equi-join (sort-merge
    or hash), never BroadcastNestedLoopJoin/Cartesian — the raw range
    predicate form is an O(n^2) scale-killer."""
    from quicker_spark.operators.textops import jaccard_window_pairs

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc{i} epsilon zeta eta") for i in range(30)],
        "doc_id long, text string")
    plan = _plan(jaccard_window_pairs(df, max_gap=2))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


def test_simhash_is_shuffle_free(spark):
    """SimHash is a pure per-row function — its plan must be a single
    map stage with no Exchange (the round-2 formulation shuffled one row
    per (doc, term), pure waste at corpus scale)."""
    from quicker_spark.operators.textops import simhash

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i}") for i in range(20)],
        "doc_id long, text string")
    plan = _plan(simhash(df, bits=16))
    assert "Exchange" not in plan
    # the md5 term-hash pass is evaluated once, not once per output bit
    assert plan.count("md5") == 1


def test_winnow_is_shuffle_free_and_local(spark):
    """Winnowing fingerprints are a per-row function: the plan must be a
    single map stage (no Exchange), with the k-gram md5 pass staged once
    (not re-hashed per window). Also certifies the winnowing guarantee:
    two docs sharing a substring of length >= k + w - 1 (= 8) share at
    least one fingerprint, and disjoint-alphabet docs share none."""
    from quicker_spark.operators.textops import winnow_fingerprints

    df = spark.createDataFrame(
        [(0, "qwjdkz SHAREDBLOCK vmxpfu"),
         (1, "rtylgh SHAREDBLOCK nbcoea"),
         (2, "zzzzzzzzzzzzzzzzzzzzzzzzz")],
        "doc_id long, text string")
    plan = _plan(winnow_fingerprints(df))
    assert "Exchange" not in plan
    assert plan.count("md5") == 1
    fps = {}
    for r in winnow_fingerprints(df).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[0] & fps[1]          # shared >= k+w-1 substring -> shared fp
    assert not (fps[0] & fps[2])    # disjoint content -> disjoint fps


def test_lsh_candidates_is_equi_join(spark):
    """LSH band candidate generation must also stay an equi-join."""
    from quicker_spark.operators.textops import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    df = spark.createDataFrame(
        [(i, f"one two three four five doc{i % 5} six seven") for i in range(20)],
        "doc_id long, text string")
    sigs = minhash_signatures(df, k=8)
    plan = _plan(lsh_candidate_pairs(sigs, k=8, bands=4))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_explain_scan_is_term_and_segment_pruned(eng):
    ex = eng.explain(Or(NewTermQuery("content", "def"),
                        NewTermQuery("content", "return")), k=5)
    plan = _formatted(ex)
    # winners' postings re-read: term IN-filter pushed, and the scan is
    # restricted to the winners' segment DIRECTORIES
    assert "In(term" in plan or "term IN" in plan
    pf = [ln for ln in plan.splitlines()
          if "PartitionFilters" in ln and "segment_id" in ln]
    assert pf, "explain postings scan lost its segment partition filter"


def test_sig_terms_foreground_scan_is_column_pruned(eng):
    from quicker_spark.plans.term_query import And

    out = eng.significant_terms(
        And(NewTermQuery("content", "def"),
            NewTermQuery("content", "return")), size=5, min_doc_count=1)
    plan = _formatted(out)
    # the foreground hydration reads ONLY the tokenized field (+ join
    # keys) from the forward index — never the full payload
    reads = [ln for ln in plan.splitlines()
             if "ReadSchema" in ln and "content" in ln]
    assert reads and all("repo" not in ln and "doc_sha" not in ln
                         for ln in reads)
    # background stats broadcast (vocabulary-sized dimension)
    assert "BroadcastHashJoin" in _plan(out)


def test_collapse_hydration_is_column_pruned(eng):
    out = eng.search_collapse(Or(NewTermQuery("content", "def")),
                              by="lang", k=5)
    plan = _formatted(out)
    reads = [ln for ln in plan.splitlines()
             if "ReadSchema" in ln and "lang" in ln]
    assert reads and all("content" not in ln for ln in reads)


def test_topk_plans_read_no_term_stats(eng):
    """df_global comes from one driver read of the query terms, carried
    in the kernel closure: no top-k verb scans ``term_stats`` or
    broadcasts it (the join cost one extra Spark job per call)."""
    from quicker_spark.operators.positions import build_positions

    build_positions(eng.spark, eng.index_dir)
    q = Or(NewTermQuery("content", "def"), NewTermQuery("content", "return"))
    plans = {
        "search": eng.search(q, k=5),
        "search_many": eng.search_many({"a": q, "b": NewTermQuery(
            "content", "import")}, k=5),
        "search_phrase": eng.search_phrase(["return", "self"], k=5),
        "_scored_matches": eng._scored_matches(q),
    }
    for verb, df in plans.items():
        plan = _formatted(df)
        assert "term_stats" not in plan, (verb, plan)
        assert "BroadcastExchange" not in plan, (verb, plan)
        assert "FlatMapGroupsInPandas" in plan, (verb, plan)  # the kernel
