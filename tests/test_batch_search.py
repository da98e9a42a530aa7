"""Batch multi-query serving (`SearchEngine.search_many`).

The batch path must be rank- AND score-identical to one-at-a-time
`search` calls (it runs the same per-segment code per query), while
planning ONE postings read per segment for the whole batch — the
property that makes it the cluster serving shape (reference multiplexes
concurrent RPCs over one resident index the same way,
index_service/sentinel.go:137-187).
"""

from __future__ import annotations

import shutil

import pytest

from quicker_spark.engine import SearchEngine
from quicker_spark.fixtures import corpus_pdf
from quicker_spark.operators.build import IndexConfig, build_index
from quicker_spark.plans.term_query import And, NewTermQuery, Or


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("batch") / "idx")
    shutil.rmtree(out, ignore_errors=True)
    build_index(spark, spark.createDataFrame(corpus_pdf(300)), out,
                IndexConfig(seg_docs=100), resume=False)
    return SearchEngine(spark, out)


def _queries():
    return {
        "or2": Or(NewTermQuery("content", "def"),
                  NewTermQuery("content", "return")),
        "and2": And(NewTermQuery("content", "def"),
                    NewTermQuery("content", "import")),
        "one": Or(NewTermQuery("content", "class")),
        "nested": And(Or(NewTermQuery("content", "def"),
                         NewTermQuery("content", "class")),
                      NewTermQuery("content", "return")),
    }


def test_batch_matches_single_exactly(eng):
    """Every query's batch rows == its solo search rows, bitwise."""
    batch = {(r["qid"], r["doc_id"]): r["score"]
             for r in eng.search_many(_queries(), k=7).collect()}
    n = 0
    for qid, q in _queries().items():
        solo = eng.search(q, k=7).collect()
        assert solo, qid  # fixture guarantees hits for every query
        for r in solo:
            assert batch[(qid, r["doc_id"])] == r["score"], (qid, r)
            n += 1
    assert len(batch) == n  # no extra rows either


def test_batch_respects_filters(eng):
    qs = {"a": Or(NewTermQuery("content", "def"))}
    got = eng.search_many(qs, k=5, on=1)
    want = eng.search(Or(NewTermQuery("content", "def")), k=5, on=1)
    assert ([(r["doc_id"], r["score"]) for r in got.collect()]
            == [(r["doc_id"], r["score"]) for r in want.collect()])


def test_batch_per_query_flags(eng):
    """`flags` multiplexes heterogeneous bit-filters in one batch: each
    query's rows equal its solo search under the same (on, off,
    or_flags), even when batchmates use different filters."""
    q = Or(NewTermQuery("content", "def"))
    per_q = {"strict": (1, 0, ()), "anyof": (0, 0, (1, 2)), "plain": (0, 0, ())}
    batch = eng.search_many({qid: q for qid in per_q}, k=5, flags=per_q)
    rows = [(r["qid"], r["doc_id"], r["score"]) for r in batch.collect()]
    want = []
    for qid, (on, off, orf) in per_q.items():
        want += [(qid, r["doc_id"], r["score"])
                 for r in eng.search(q, k=5, on=on, off=off,
                                     or_flags=orf).collect()]
    assert sorted(rows) == sorted(want)
    # the filters genuinely differ (strict is a strict subset of plain)
    by_q = {qid: {d for qq, d, _ in rows if qq == qid} for qid in per_q}
    assert by_q["strict"] != by_q["plain"]


def test_batch_per_query_boosts(eng):
    """`boosts` multiplexes boosted and unboosted requests in one
    batch: each query's rows equal its solo boosted search, bitwise."""
    q = Or(NewTermQuery("content", "def"), NewTermQuery("content", "return"))
    per_q = {"up": {"content\x01return": 5.0},
             "down": {"content\x01return": 0.2},
             "plain": None}
    batch = eng.search_many({qid: q for qid in per_q}, k=5,
                            boosts={k: v for k, v in per_q.items() if v})
    rows = [(r["qid"], r["doc_id"], r["score"]) for r in batch.collect()]
    want = []
    for qid, bst in per_q.items():
        want += [(qid, r["doc_id"], r["score"])
                 for r in eng.search(q, k=5, boosts=bst).collect()]
    assert sorted(rows) == sorted(want)
    # the boosts genuinely change ranking between batchmates
    by_q = {qid: [d for qq, d, _ in sorted(rows, key=lambda x: (x[0], -x[2], x[1]))
                  if qq == qid] for qid in per_q}
    assert by_q["up"] != by_q["down"]


def test_batch_boosts_must_be_positive(eng):
    q = Or(NewTermQuery("content", "def"))
    with pytest.raises(ValueError, match="must be > 0"):
        eng.search_many({"bad": q}, k=5,
                        boosts={"bad": {"content\x01def": -1.0}})


def test_batch_per_query_after_cursor(eng):
    """`after` multiplexes page-2 requests with fresh queries: the paged
    batchmate's rows equal its solo search_after page, bitwise."""
    q = Or(NewTermQuery("content", "def"), NewTermQuery("content", "return"))
    page1 = eng.search(q, k=5).collect()
    cursor = (float(page1[-1]["score"]), int(page1[-1]["doc_id"]))
    batch = eng.search_many({"p1": q, "p2": q}, k=5,
                            after={"p2": cursor})
    rows = [(r["qid"], r["doc_id"], r["score"]) for r in batch.collect()]
    want = [("p1", r["doc_id"], r["score"]) for r in page1]
    want += [("p2", r["doc_id"], r["score"])
             for r in eng.search(q, k=5, after=cursor).collect()]
    assert sorted(rows) == sorted(want)
    p1 = {d for qq, d, _ in rows if qq == "p1"}
    p2 = {d for qq, d, _ in rows if qq == "p2"}
    assert not (p1 & p2)  # pages are disjoint


def test_batch_per_query_exclude(eng):
    """`excludes` multiplexes must_not requests: the excluded
    batchmate's rows equal its solo search(exclude=...), bitwise."""
    q = Or(NewTermQuery("content", "def"), NewTermQuery("content", "return"))
    neg = NewTermQuery("content", "import")
    batch = eng.search_many({"plain": q, "not": q}, k=5,
                            excludes={"not": neg})
    rows = [(r["qid"], r["doc_id"], r["score"]) for r in batch.collect()]
    want = [("plain", r["doc_id"], r["score"])
            for r in eng.search(q, k=5).collect()]
    want += [("not", r["doc_id"], r["score"])
             for r in eng.search(q, k=5, exclude=neg).collect()]
    assert sorted(rows) == sorted(want)
    assert ({d for qq, d, _ in rows if qq == "plain"}
            != {d for qq, d, _ in rows if qq == "not"})


def test_batch_orders_by_qid_then_rank(eng):
    rows = eng.search_many(_queries(), k=5).collect()
    keys = [(r["qid"], -r["score"], r["doc_id"]) for r in rows]
    assert keys == sorted(keys)


def test_batch_k_cap_per_query(eng):
    rows = eng.search_many(_queries(), k=3).collect()
    per = {}
    for r in rows:
        per[r["qid"]] = per.get(r["qid"], 0) + 1
    assert per and all(v <= 3 for v in per.values())


def test_batch_empty_inputs(eng):
    assert eng.search_many({}, k=5).count() == 0
    # a no-terms query contributes nothing; others still answer
    qs = {"empty": Or(), "ok": Or(NewTermQuery("content", "def"))}
    got = {r["qid"] for r in eng.search_many(qs, k=5).collect()}
    assert got == {"ok"}


def test_batch_plans_one_postings_scan(eng, monkeypatch):
    """The whole batch must read the postings ONCE (that single shared
    read is the point of batching): one file selection for the union of
    every query's terms, and one segment stage (map node) in the plan."""
    calls = []
    select = eng._segment_files

    def spy(tree, terms, segments=None):
        calls.append(set(terms))
        return select(tree, terms, segments)

    monkeypatch.setattr(eng, "_segment_files", spy)
    qs = _queries()
    plan = eng.search_many(qs, k=5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert calls == [set().union(*(q.terms() for q in qs.values()))]
    assert plan.count("MapInPandas") == 1, plan
    assert "Scan parquet" not in plan, plan


def test_batch_nested_must_not_matches_single(eng):
    """A nested-must_not tree multiplexed in a batch must equal the solo
    search bitwise — the batch spec builder does the same pos/neg term
    split (negated terms scanned, never scored) and forces TAAT."""
    from quicker_spark.plans.term_query import AndNot

    tree = Or(NewTermQuery("content", "def"),
              AndNot(NewTermQuery("content", "return"),
                     NewTermQuery("content", "tok50")))
    qs = {"nn": tree, "plain": Or(NewTermQuery("content", "class"))}
    batch = eng.search_many(qs, k=10).collect()
    got = [(r["doc_id"], r["score"]) for r in batch if r["qid"] == "nn"]
    want = [(r["doc_id"], r["score"])
            for r in eng.search(tree, k=10).collect()]
    assert got == want and got


def test_batch_refuses_phrase_pseudo_leaves(eng):
    from quicker_spark.plans.term_query import TermQuery

    with pytest.raises(ValueError, match="pseudo"):
        eng.search_many({"p": TermQuery(keyword="\x02p0")}, k=5)


def test_batch_validates_excludes_like_search(eng):
    # a pseudo-leaf exclude has no PhraseSpec: solo search raises, and so
    # must the batch (scanning the missing pseudo-term excludes nothing)
    from quicker_spark.plans.term_query import TermQuery

    q = NewTermQuery("content", "def")
    x = TermQuery(keyword="\x02p0")
    with pytest.raises(ValueError) as solo:
        eng.search(q, k=5, exclude=x)
    with pytest.raises(ValueError) as batch:
        eng.search_many({"x": q}, k=5, excludes={"x": x})
    assert str(batch.value) == f"queries['x']: {solo.value}"
