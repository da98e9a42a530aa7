"""Boosting query (ES ``boosting`` query: positive + ``negative`` /
``negative_boost``): candidates matching the demote tree KEEP their
place in the result but their BM25 score is multiplied by
``demote_factor`` in [0, 1] — demotion, not exclusion.

Contract: one float64 multiply after the fixed-order score summation,
applied before the paging cursor and the top-k; demote-only terms are
scanned (to evaluate the match) but never scored; ``demote_factor=1``
is bitwise-identical to the plain query; ``demote_factor=0`` zeroes the
score but — unlike ``exclude`` — keeps the doc in the candidate set.
Beyond the reference (its boolean tree has only must/should,
api/term_query.proto:9-13) — standard Lucene/ES serving surface.
"""

from __future__ import annotations

import shutil

import pytest

from quicker_spark.engine import SearchEngine
from quicker_spark.fixtures import corpus_pdf
from quicker_spark.operators.build import IndexConfig, build_index
from quicker_spark.oracle import Oracle
from quicker_spark.plans.term_query import And, NewTermQuery, Or

N_DOCS = 300
FACTOR = 0.5


@pytest.fixture(scope="module")
def pdf():
    return corpus_pdf(N_DOCS)


@pytest.fixture(scope="module")
def eng(spark, pdf, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("demote") / "idx")
    shutil.rmtree(out, ignore_errors=True)
    build_index(spark, spark.createDataFrame(pdf), out,
                IndexConfig(seg_docs=100), resume=False)
    return SearchEngine(spark, out)


def _q():
    return Or(NewTermQuery("content", "def"),
              NewTermQuery("content", "return"))


def _dem():
    return NewTermQuery("content", "import")


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _brute(eng, factor, k):
    """Reference result: plain full scores, demotion applied driver-side
    with the same single float64 multiply, re-sorted."""
    full = _rows(eng.search(_q(), k=10 ** 6, mode="taat"))
    dem = {r["doc_id"]
           for r in eng.search(Or(_dem()), k=10 ** 6).collect()}
    out = [(d, s * factor if d in dem else s) for d, s in full]
    out.sort(key=lambda r: (-r[1], r[0]))
    return out[:k]


def test_factor_one_is_plain_query(eng):
    plain = _rows(eng.search(_q(), k=10, mode="taat"))
    got = _rows(eng.search(_q(), k=10, demote=_dem(), demote_factor=1.0))
    assert got == plain  # bitwise


def test_demotes_and_resorts(eng):
    got = _rows(eng.search(_q(), k=10, demote=_dem(),
                           demote_factor=FACTOR))
    assert got == _brute(eng, FACTOR, 10)
    assert got != _rows(eng.search(_q(), k=10, mode="taat"))


def test_factor_zero_keeps_docs_exclude_removes(eng):
    dem0 = _rows(eng.search(_q(), k=10 ** 6, demote=_dem(),
                            demote_factor=0.0))
    exc = _rows(eng.search(_q(), k=10 ** 6, exclude=_dem()))
    plain = _rows(eng.search(_q(), k=10 ** 6, mode="taat"))
    assert len(dem0) == len(plain)      # demotion never drops a doc
    assert len(exc) < len(plain)        # exclusion does
    zeroed = {d for d, s in dem0 if s == 0.0}
    assert zeroed and all(d not in {e for e, _ in exc} for d in zeroed)


def test_nested_demote_tree_with_exclude(eng):
    dem = And(NewTermQuery("content", "import"),
              NewTermQuery("content", "class"))
    exc = NewTermQuery("content", "while")
    got = _rows(eng.search(_q(), k=10, demote=dem, demote_factor=0.25,
                           exclude=exc))
    full = _rows(eng.search(_q(), k=10 ** 6, mode="taat"))
    dem_docs = {r["doc_id"] for r in eng.search(dem, k=10 ** 6).collect()}
    exc_docs = {r["doc_id"] for r in eng.search(Or(exc), k=10 ** 6).collect()}
    want = [(d, s * 0.25 if d in dem_docs else s) for d, s in full
            if d not in exc_docs]
    want.sort(key=lambda r: (-r[1], r[0]))
    assert got == want[:10]


def test_python_oracle_identity(eng, pdf):
    orc = Oracle(pdf, k1=1.2, b=0.75)
    got = _rows(eng.search(_q(), k=10, demote=_dem(),
                           demote_factor=FACTOR))
    want = orc.search_topk(_q(), k=10, demote=_dem(),
                           demote_factor=FACTOR)
    assert [d for d, _ in got] == [h.doc_id for h in want]
    for (_, s), h in zip(got, want):
        assert abs(s - h.score) < 1e-12


def test_local_tier_bitwise_identity(eng):
    serving = pytest.importorskip("quicker_spark.serving")
    ls = serving.LocalSearcher(eng.index_dir)
    spark_rows = _rows(eng.search(_q(), k=10, demote=_dem(),
                                  demote_factor=FACTOR))
    local_rows = list(ls.search(_q(), k=10, demote=_dem(),
                                demote_factor=FACTOR)
                      .itertuples(index=False, name=None))
    assert local_rows == spark_rows  # bitwise


def test_paging_cursor_respects_demoted_order(eng):
    full = _rows(eng.search(_q(), k=8, demote=_dem(),
                            demote_factor=FACTOR))
    head, (cdoc, cscore) = full[:4], full[3]
    tail = _rows(eng.search(_q(), k=4, demote=_dem(),
                            demote_factor=FACTOR, after=(cscore, cdoc)))
    assert head + tail == full


def test_validation_errors(eng):
    with pytest.raises(ValueError, match="demote_factor"):
        eng.search(_q(), k=5, demote=_dem(), demote_factor=1.5)
    with pytest.raises(ValueError, match="demote_factor"):
        eng.search(_q(), k=5, demote=_dem(), demote_factor=-0.1)
    with pytest.raises(ValueError, match="mode"):
        eng.search(_q(), k=5, demote=_dem(), mode="wand")
    from quicker_spark.engine import PSEUDO_PREFIX
    from quicker_spark.plans.term_query import TermQuery
    with pytest.raises(ValueError, match="pseudo-leaves"):
        eng.search(_q(), k=5,
                   demote=TermQuery(keyword=PSEUDO_PREFIX + "p0"))
    # the factor is validated even when the demote tree is empty
    from quicker_spark.serving import LocalSearcher
    for tier in (eng, LocalSearcher(eng.index_dir)):
        with pytest.raises(ValueError, match="demote_factor"):
            tier.search(_q(), k=5, demote=TermQuery(), demote_factor=5.0)
