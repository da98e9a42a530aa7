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


def test_postings_scan_is_bucket_partition_pruned(eng):
    """v5 layout contract: a search selects, for every segment, exactly
    the files in its query terms' md5-bucket directories — a segment task
    reads len(buckets)/term_buckets of its directory, never the whole
    tree. Directory-level pruning is what holds at 10^12 docs, where
    row-group stats alone cannot skip files holding hash-random term
    subsets."""
    import glob
    import os
    import re

    from quicker_spark.functions.buckets import term_bucket

    terms = {"content\x01def", "content\x01return"}
    nb = int(eng.stats["term_buckets"])
    assert nb > 1
    buckets = {term_bucket(t, nb) for t in terms}
    want: dict = {}
    for path in glob.glob(os.path.join(eng.index_dir, "postings", "*", "*",
                                       "*", "*.parquet")):
        seg, bk = re.search(r"segment_id=(\d+)/bucket=(\d+)/", path).groups()
        if int(bk) in buckets:
            want.setdefault(int(seg), set()).add(os.path.abspath(path))
    assert set(want) == {0, 1}   # every segment holds the terms
    got = eng._segment_files(eng._post_files, terms)
    assert {s: set(fs) for s, fs in got.items()} == want
    assert {s: set(fs) for s, fs in eng._segment_files(
        eng._post_files, terms, segments={1}).items()} == {1: want[1]}


def test_term_filter_pushed_to_postings_scan(eng, tmp_path, monkeypatch):
    """A segment task reads its files through ``engine.term_filter``
    (row-group spans AND ``term IN``): on a term-sorted file of many row
    groups the filter keeps at most one row group per query term, and the
    frame holds exactly the query terms' rows."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    from quicker_spark import engine as E

    rows = (pads.dataset(eng.index_dir + "/postings", partitioning="hive")
            .to_table(filter=pc.field("segment_id") == 0)
            .drop_columns(["wave", "segment_id", "bucket"])
            .sort_by("term"))
    path = str(tmp_path / "seg0.parquet")
    pq.write_table(rows, path, row_group_size=32)
    n_groups = pq.ParquetFile(path).num_row_groups
    assert n_groups >= 8
    vocab = rows.column("term").to_pylist()
    terms = sorted({vocab[0], vocab[len(vocab) // 2], vocab[-1],
                    "content\x01qs_absent_term"})
    seen = []
    term_filter = E.term_filter

    def spy(ds, want):
        seen.append(list(want))
        f = term_filter(ds, want)
        seen.append(sum(len(frag.split_by_row_group(f))
                        for frag in ds.get_fragments()))
        return f

    monkeypatch.setattr(E, "term_filter", spy)
    pdf = E._read_segment([path], terms, [], [])
    assert seen[0] == terms
    assert 1 <= seen[1] <= len(terms) < n_groups
    assert sorted(pdf["term"]) == sorted(t for t in vocab if t in terms)


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


def test_explain_scan_is_term_and_segment_pruned(eng, monkeypatch):
    """explain re-reads ONLY the winners' postings: its file selection is
    the scored terms' bucket files of the winners' segments, and its
    plan is one map-only stage (no exchange) under the final order."""
    q = Or(NewTermQuery("content", "def"), NewTermQuery("content", "return"))
    hits = eng.search(q, k=3).collect()
    seg_docs = int(eng.stats["seg_docs"])
    winners = {r["doc_id"] // seg_docs for r in hits}
    calls = []
    select = eng._segment_files

    def spy(tree, terms, segments=None):
        out = select(tree, terms, segments)
        calls.append((sorted(terms), segments, set(out)))
        return out

    monkeypatch.setattr(eng, "_segment_files", spy)
    ex = eng.explain(q, k=3)
    # the winners' search, then the re-read of the winners' segments
    assert [c[1] for c in calls] == [None, winners]
    assert calls[1] == (["content\x01def", "content\x01return"], winners,
                        winners)
    plan = _formatted(ex)
    tree = _tree(plan)
    at_map = [i for i, ln in enumerate(tree) if "MapInPandas" in ln]
    assert len(at_map) == 1, plan
    assert all(i < at_map[0] for i, ln in enumerate(tree)
               if "Exchange" in ln), plan   # only the final order's
    assert {r["doc_id"] for r in ex.collect()} == {r["doc_id"] for r in hits}


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
        assert "MapInPandas" in plan, (verb, plan)  # the segment kernel
        assert "FlatMapGroupsInPandas" not in plan, (verb, plan)


def _tree(plan: str) -> list[str]:
    """The operator-tree lines of a formatted plan (root first)."""
    return plan.split("\n\n", 1)[0].splitlines()


def test_search_plans_have_no_exchange(eng):
    """Segment kernels run in one map-only stage over the segment list:
    no top-k verb's plan (nor the full match set's) shuffles — a
    groupBy(segment_id) would add an exchange and a second job."""
    from quicker_spark.operators.positions import build_positions

    build_positions(eng.spark, eng.index_dir)
    q = Or(NewTermQuery("content", "def"), NewTermQuery("content", "return"))
    for verb, df in {
            "search": eng.search(q, k=5),
            "search_exclude": eng.search(
                q, k=5, exclude=NewTermQuery("content", "import")),
            "search_phrase": eng.search_phrase(["return", "self"], k=5),
            "search_dismax": eng.search_dismax(["def", "return"], k=5),
            "search_synonyms": eng.search_synonyms(
                {"fn": ["def", "func"]}, k=5),
            "_scored_matches": eng._scored_matches(q)}.items():
        plan = _formatted(df)
        assert "MapInPandas" in plan, (verb, plan)
        assert "Exchange" not in plan, (verb, plan)


def test_search_runs_one_spark_job(eng):
    """One ``search(...).collect()`` is ONE Spark job: the segment tasks
    and the TakeOrdered merge share it."""
    sc = eng.spark.sparkContext
    q = Or(NewTermQuery("content", "def"), NewTermQuery("content", "return"))
    for i, run in enumerate((lambda: eng.search(q, k=5).collect(),
                             lambda: eng.search(q, k=5, exclude=NewTermQuery(
                                 "content", "qs_absent")).collect())):
        group = f"one-job-{i}"
        sc.setJobGroup(group, group)
        try:
            assert run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_search_many_exchanges_sit_above_the_map(eng):
    """``search_many`` scores every query in the same map-only segment
    stage; its exchanges are the per-qid window and the global order,
    both above the map node — none is keyed on segment_id."""
    q = Or(NewTermQuery("content", "def"), NewTermQuery("content", "return"))
    plan = _formatted(eng.search_many(
        {"a": q, "b": NewTermQuery("content", "import")}, k=5))
    tree = _tree(plan)
    at_map = [i for i, ln in enumerate(tree) if "MapInPandas" in ln]
    exchanges = [i for i, ln in enumerate(tree) if "Exchange" in ln]
    assert len(at_map) == 1 and exchanges, plan
    assert max(exchanges) < at_map[0], plan   # root first: above the map
    parts = [ln for ln in plan.splitlines() if "partitioning(" in ln]
    assert sum("hashpartitioning(qid" in ln for ln in parts) == 1, plan
    assert not any("segment_id" in ln for ln in parts), plan
