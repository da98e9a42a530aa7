"""Two-phase ranking (ES ``rescore``, score_mode=total; Lucene
``QueryRescorer``): phase 1 ranks with the cheap primary query and
keeps the global top ``window_size``; phase 2 re-ranks ONLY the window
as query_weight * primary + rescore_weight * secondary, where secondary
is the rescore query's BM25 score and 0 where it doesn't match (a
partial match of an AND rescorer is no match).

Contract: the window is k-bounded driver/broadcast state; the rescorer
runs once over ITS match set (never the corpus, never per-candidate);
weights combine in one fixed float64 expression so both serving tiers
are bitwise identical. Beyond the reference (single-phase ranking only)
— standard Lucene/ES serving surface.
"""

from __future__ import annotations

import shutil

import pytest

from quicker_spark.engine import SearchEngine
from quicker_spark.fixtures import corpus_pdf
from quicker_spark.operators.build import IndexConfig, build_index
from quicker_spark.plans.term_query import And, NewTermQuery, Or

WINDOW = 30
RW = 2.0


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("rescore") / "idx")
    shutil.rmtree(out, ignore_errors=True)
    build_index(spark, spark.createDataFrame(corpus_pdf(300)), out,
                IndexConfig(seg_docs=100), resume=False)
    return SearchEngine(spark, out)


def _q():
    return Or(NewTermQuery("content", "def"),
              NewTermQuery("content", "return"))


def _rq():
    return And(NewTermQuery("content", "import"),
               NewTermQuery("content", "class"))


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _brute(eng, k):
    """Reference: primary top-window + the same weighted combine,
    driver-side."""
    win = _rows(eng.search(_q(), k=WINDOW))
    sec = {r["doc_id"]: r["score"]
           for r in eng._scored_matches(_rq()).collect()}
    out = [(d, 1.0 * s + (RW * sec[d] if d in sec else 0.0))
           for d, s in win]
    out.sort(key=lambda r: (-r[1], r[0]))
    return out[:k]


def test_rescore_matches_brute(eng):
    got = _rows(eng.search_rescore(_q(), _rq(), k=10, window_size=WINDOW,
                                   rescore_weight=RW))
    assert got == _brute(eng, 10)
    assert got != _rows(eng.search(_q(), k=10, mode="taat"))


def test_zero_rescore_weight_is_window_head(eng):
    got = _rows(eng.search_rescore(_q(), _rq(), k=10, window_size=WINDOW,
                                   rescore_weight=0.0))
    assert got == _rows(eng.search(_q(), k=10, mode="taat"))


def test_nonmatching_rescorer_keeps_primary_scores(eng):
    # rescorer matching nothing: combined == 1.0 * primary, same order
    rq = NewTermQuery("content", "zzznope")
    got = _rows(eng.search_rescore(_q(), rq, k=10, window_size=WINDOW))
    assert got == _rows(eng.search(_q(), k=10, mode="taat"))


def test_local_tier_bitwise_identity(eng):
    serving = pytest.importorskip("quicker_spark.serving")
    ls = serving.LocalSearcher(eng.index_dir)
    spark_rows = _rows(eng.search_rescore(_q(), _rq(), k=10,
                                          window_size=WINDOW,
                                          rescore_weight=RW))
    local_rows = list(ls.search_rescore(_q(), _rq(), k=10,
                                        window_size=WINDOW,
                                        rescore_weight=RW)
                      .itertuples(index=False, name=None))
    assert local_rows == spark_rows  # bitwise


def test_window_guard(eng):
    with pytest.raises(ValueError, match="window_size"):
        eng.search_rescore(_q(), _rq(), k=10, window_size=5)


def test_pseudo_leaf_rescorer_rejected_on_both_tiers(eng):
    from quicker_spark.engine import PSEUDO_PREFIX
    from quicker_spark.plans.term_query import TermQuery
    from quicker_spark.serving import LocalSearcher

    rq = Or(TermQuery(keyword=PSEUDO_PREFIX + "p0"))
    for tier in (eng, LocalSearcher(eng.index_dir)):
        with pytest.raises(ValueError, match="full-match-set"):
            tier.search_rescore(_q(), rq, k=10, window_size=WINDOW)
