"""search_after deep paging (Elasticsearch search_after semantics).

Certifies, per strategy path (WAND / conj / TAAT):

- page 2 via an (score, doc_id) cursor == rows k..2k-1 of a single
  k=2k search (the global rank order is one total order, so cursor
  paging must tile it exactly)
- walking the whole match set page-by-page reconstructs the full
  ordering with no duplicates and no gaps
- the cursor filter happens BEFORE the per-segment heap, so a page is
  correct even when every doc of the page lives in one segment whose
  page-1 hits filled the heap (the per-segment-top-k-then-filter
  shortcut would drop them)
"""

import numpy as np
import pytest

from quicker_spark.engine import SearchEngine
from quicker_spark.fixtures import corpus_df
from quicker_spark.operators.build import IndexConfig, build_index
from quicker_spark.plans.term_query import And, NewTermQuery, Or

N_DOCS = 300
CFG = IndexConfig(seg_docs=80, wave_segments=2, block_size=32)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("paging_index"))
    build_index(spark, corpus_df(spark, N_DOCS, partitions=4), out, CFG)
    return SearchEngine(spark, out)


OR_Q = Or(NewTermQuery("content", "def"), NewTermQuery("content", "tok100"),
          NewTermQuery("content", "tok200"))
AND_Q = And(NewTermQuery("content", "def"),
            NewTermQuery("content", "return"))


def _rows(df):
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


@pytest.mark.parametrize("q,mode", [
    (OR_Q, "wand"), (OR_Q, "taat"), (AND_Q, "conj"), (AND_Q, "taat"),
])
def test_page2_tiles_the_full_order(engine, q, mode):
    k = 10
    full = _rows(engine.search(q, k=3 * k, mode=mode))
    assert len(full) == 3 * k, "query too selective for this test"
    page1 = _rows(engine.search(q, k=k, mode=mode))
    assert page1 == full[:k]
    cursor = (page1[-1][1], page1[-1][0])
    page2 = _rows(engine.search(q, k=k, mode=mode, after=cursor))
    assert page2 == full[k:2 * k]
    cursor3 = (page2[-1][1], page2[-1][0])
    page3 = _rows(engine.search(q, k=k, mode=mode, after=cursor3))
    assert page3 == full[2 * k:3 * k]


def test_full_walk_no_dups_no_gaps(engine):
    """Page through the ENTIRE match set; the concatenation must equal
    the one-shot full ordering exactly."""
    full = _rows(engine.search(OR_Q, k=100_000, mode="taat"))
    walked, cursor = [], None
    while True:
        page = _rows(engine.search(OR_Q, k=37, after=cursor))
        if not page:
            break
        walked.extend(page)
        cursor = (page[-1][1], page[-1][0])
    assert walked == full


def test_cursor_is_exclusive(engine):
    page1 = _rows(engine.search(OR_Q, k=5))
    cursor = (page1[-1][1], page1[-1][0])
    page2 = _rows(engine.search(OR_Q, k=5, after=cursor))
    assert set(d for d, _ in page1).isdisjoint(d for d, _ in page2)


def test_after_with_boosts(engine):
    boosts = {"content\x01tok100": 4.0}
    full = _rows(engine.search(OR_Q, k=20, boosts=boosts))
    p1 = _rows(engine.search(OR_Q, k=10, boosts=boosts))
    cursor = (p1[-1][1], p1[-1][0])
    p2 = _rows(engine.search(OR_Q, k=10, boosts=boosts, after=cursor))
    assert p1 + p2 == full


def test_page_beyond_end_is_empty(engine):
    full = _rows(engine.search(OR_Q, k=100_000, mode="taat"))
    cursor = (full[-1][1], full[-1][0])
    assert _rows(engine.search(OR_Q, k=10, after=cursor)) == []
