"""Score explanation (`SearchEngine.explain`).

Contract: one row per (top-k hit, matching positive query term);
``contrib`` is the exact float64 ``idf_w * u`` product every scorer
accumulates, so summing a doc's contribs in ascending word order
reproduces its search score BITWISE (the scorers add terms in
lexicographic order, kernels.score_segment_exhaustive).
"""

from __future__ import annotations

import math
import shutil

import pytest

from quicker_spark.engine import SearchEngine
from quicker_spark.fixtures import corpus_pdf
from quicker_spark.operators.build import IndexConfig, build_index
from quicker_spark.plans.term_query import And, NewTermQuery, Or

TERMS = ("def", "return", "import")


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("explain") / "idx")
    shutil.rmtree(out, ignore_errors=True)
    build_index(spark, spark.createDataFrame(corpus_pdf(300)), out,
                IndexConfig(seg_docs=100), resume=False)
    return SearchEngine(spark, out)


def _q(terms=TERMS):
    return Or(*[NewTermQuery("content", t) for t in terms])


def _by_doc(ex_rows):
    out: dict[int, list] = {}
    for r in ex_rows:
        out.setdefault(r["doc_id"], []).append(r)
    return out


def test_contribs_sum_to_score_bitwise(eng):
    hits = {r["doc_id"]: r["score"]
            for r in eng.search(_q(), k=10).collect()}
    ex = _by_doc(eng.explain(_q(), k=10).collect())
    assert set(ex) == set(hits)
    for d, rows in ex.items():
        s = 0.0
        for r in sorted(rows, key=lambda r: r["word"]):
            s += r["contrib"]  # scorer's add order: ascending term
        assert s == hits[d], (d, s, hits[d])


def test_contrib_is_idf_times_u(eng):
    stats = eng.stats
    for r in eng.explain(_q(), k=5).collect():
        u = (r["tf"] * (stats["k1"] + 1.0)) / (
            r["tf"] + stats["k1"] * (1.0 - stats["b"] + stats["b"]
                                     * r["dl"] / stats["avgdl"]))
        assert math.isclose(r["contrib"], r["idf_w"] * u, rel_tol=0,
                            abs_tol=0.0)
        assert r["field"] == "content" and r["word"] in TERMS


def test_explain_passes_search_kwargs_through(eng):
    # boosted: idf_w scales, winners come from the boosted search
    w = {"content\x01return": 3.0}
    plain_idf = {r["word"]: r["idf_w"]
                 for r in eng.explain(_q(), k=5).collect()}
    boosted = eng.explain(_q(), k=5, boosts=w).collect()
    hits = [r["doc_id"] for r in eng.search(_q(), k=5, boosts=w).collect()]
    assert {r["doc_id"] for r in boosted} == set(hits)
    for r in boosted:
        want = plain_idf[r["word"]] * (3.0 if r["word"] == "return" else 1.0)
        assert math.isclose(r["idf_w"], want, rel_tol=1e-12)
    # min_should_match: winners come from the quorum-constrained search
    msm_hits = {r["doc_id"] for r in
                eng.search(_q(), k=5, min_should_match=2).collect()}
    ex = _by_doc(eng.explain(_q(), k=5, min_should_match=2).collect())
    assert set(ex) == msm_hits
    assert all(len(rows) >= 2 for rows in ex.values())


def test_explain_covers_and_and_nested(eng):
    for q in (And(NewTermQuery("content", "def"),
                  NewTermQuery("content", "import")),
              And(Or(NewTermQuery("content", "def"),
                     NewTermQuery("content", "class")),
                  NewTermQuery("content", "return"))):
        hits = {r["doc_id"]: r["score"] for r in eng.search(q, k=5).collect()}
        ex = _by_doc(eng.explain(q, k=5).collect())
        assert set(ex) == set(hits)
        for d, rows in ex.items():
            s = 0.0
            for r in sorted(rows, key=lambda r: r["word"]):
                s += r["contrib"]
            assert s == hits[d]


def test_explain_empty_query_and_no_hits(eng):
    none = eng.explain(Or(NewTermQuery("content", "zzzznothere")), k=5)
    assert none.count() == 0
    assert none.columns == ["doc_id", "field", "word", "tf", "dl",
                            "idf_w", "contrib"]
