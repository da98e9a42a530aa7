"""Oracle identity on a large build (>= 100k docs), both tiers.

The tier-1 suites check rank and score identity on builds of a few
hundred docs, where a segment holds few blocks and WAND/conj pruning
rarely skips anything. Here each segment spans hundreds of postings
blocks, so the pruned scorers really skip. Every strategy must still
return the Oracle's top-k: the same doc ids in the same order, scores
within 1e-6.

Covered: a flat OR (WAND), a flat AND (conj), ``And(Or(a, b), c)``
(TAAT), one nested-NOT query, an exact three-word phrase and an
ordered-proximity phrase, on ``SearchEngine`` and ``LocalSearcher``.

Skipped unless ``QS_LARGE_ORACLE=1``: the build plus the pure-Python
Oracle take minutes and a few GB of driver memory.
"""

from __future__ import annotations

import os

import pytest

from quicker_spark.engine import SearchEngine
from quicker_spark.fixtures import corpus_df, corpus_pdf
from quicker_spark.operators.build import IndexConfig, build_index
from quicker_spark.operators.positions import build_positions
from quicker_spark.oracle import Oracle
from quicker_spark.plans.term_query import And, AndNot, NewTermQuery, Or
from quicker_spark.serving import LocalSearcher

pytestmark = [
    pytest.mark.slow,
    pytest.mark.skipif(os.environ.get("QS_LARGE_ORACLE") != "1",
                       reason="large-build Oracle identity; set "
                              "QS_LARGE_ORACLE=1 to run"),
]

N_DOCS = 100_000
K = 20


def _t(word: str):
    return NewTermQuery("content", word)


QUERIES = {
    "wand": (Or(_t("def"), _t("tok100"), _t("tok2000"), _t("uniq_77")),
             "wand"),
    "conj": (And(_t("import"), _t("tok50"), _t("tok300")), "conj"),
    "taat": (And(Or(_t("tok40"), _t("tok400")), _t("return")), "taat"),
    "nested_not": (Or(AndNot(_t("tok60"), _t("def")),
                      And(_t("tok700"), _t("class"))), "auto"),
}

# (words, gap): three distinct words make the score a sum whose order
# matters (both sides sum in sorted-term order)
PHRASES = {
    "exact": (("self", "import", "return"), 0),
    "near": (("def", "tok50"), 3),
}


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("large") / "idx")
    build_index(spark, corpus_df(spark, N_DOCS), out,
                IndexConfig(seg_docs=25_000), resume=False)
    build_positions(spark, out, fields=("content",))
    return out


@pytest.fixture(scope="module")
def oracle():
    return Oracle(corpus_pdf(N_DOCS))


def _assert_same(got, want, name):
    assert [d for d, _ in got] == [h.doc_id for h in want], name
    for (_, s), h in zip(got, want):
        assert abs(s - h.score) < 1e-6, (name, s, h.score)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_large_build_matches_oracle(spark, built, oracle, name):
    q, mode = QUERIES[name]
    want = oracle.search_topk(q, k=K)
    assert len(want) == K, name   # every query has a full page
    eng = SearchEngine(spark, built)
    assert eng.stats["n_docs"] == oracle.n_docs
    got = [(r["doc_id"], r["score"])
           for r in eng.search(q, k=K, mode=mode).collect()]
    _assert_same(got, want, f"spark/{name}")
    local = LocalSearcher(built).search(q, k=K, mode=mode)
    _assert_same(list(zip(local["doc_id"].tolist(),
                          local["score"].tolist())), want, f"local/{name}")


@pytest.mark.parametrize("name", sorted(PHRASES))
def test_large_build_phrase_matches_oracle(spark, built, oracle, name):
    words, gap = PHRASES[name]
    want = oracle.search_phrase(words, k=K, gap=gap)
    assert len(want) == K, name
    got = [(r["doc_id"], r["score"]) for r in SearchEngine(spark, built)
           .search_phrase(words, k=K, gap=gap).collect()]
    _assert_same(got, want, f"spark/{name}")
    local = LocalSearcher(built).search_phrase(words, k=K, gap=gap)
    _assert_same(list(zip(local["doc_id"].tolist(),
                          local["score"].tolist())), want, f"local/{name}")
