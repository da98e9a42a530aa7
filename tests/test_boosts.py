"""Per-term boosts / weighted multi-field search (Lucene boost
semantics: contribution = boost * idf * u). Certifies:

- boost == 1.0 is a no-op on every strategy path
- boosted WAND / conj / TAAT are rank- AND score-identical (the pruned
  paths scale their block-max bounds by the boost, so pruning stays
  lossless under weighting)
- scores match a brute-force python computation over the Oracle's
  postings (the trusted tf/df/dl source)
- search_fields weights terms per-field across field-namespaced keys
- non-positive boosts are rejected (they would break bound admissibility)
"""

import math

import numpy as np
import pytest

from quicker_spark.engine import SearchEngine
from quicker_spark.fixtures import corpus_df, corpus_pdf
from quicker_spark.model import bm25_idf
from quicker_spark.operators.build import IndexConfig, build_index
from quicker_spark.oracle import Oracle
from quicker_spark.plans.term_query import And, NewTermQuery, Or

N_DOCS = 300
CFG = IndexConfig(seg_docs=80, wave_segments=2, block_size=32)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("boost_index"))
    build_index(spark, corpus_df(spark, N_DOCS, partitions=4), out, CFG)
    return SearchEngine(spark, out)


@pytest.fixture(scope="module")
def oracle():
    return Oracle(corpus_pdf(N_DOCS))


def brute_boosted_topk(oracle: Oracle, q, boosts, k=10, conj=False):
    """(doc_id, score) top-k with per-term boosts, same candidate and
    float-op order contract as the engine (sorted terms, ties id asc)."""
    cands = oracle.eval_bool(q)
    terms = sorted(q.terms())
    out = []
    for d in cands:
        s = 0.0
        for t in terms:
            plist = oracle.postings.get(t)
            if not plist or d not in plist:
                continue
            w = boosts.get(t, 1.0) * bm25_idf(oracle.n_docs, len(plist))
            tf, dl = plist[d], oracle.doc_len[d]
            s += w * (tf * (oracle.k1 + 1.0)) / (
                tf + oracle.k1 * (1.0 - oracle.b
                                  + oracle.b * dl / oracle.avgdl))
        out.append((d, s))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


def _rows(df):
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


OR_Q = Or(NewTermQuery("content", "def"), NewTermQuery("content", "tok100"),
          NewTermQuery("content", "tok200"))
AND_Q = And(NewTermQuery("content", "def"), NewTermQuery("content", "tok50"))
BOOSTS_OR = {"content\x01def": 0.3, "content\x01tok100": 5.0}
BOOSTS_AND = {"content\x01def": 2.0, "content\x01tok50": 0.5}


def test_boost_one_is_noop(engine):
    ones = {t: 1.0 for t in OR_Q.terms()}
    plain = _rows(engine.search(OR_Q, k=15))
    boosted = _rows(engine.search(OR_Q, k=15, boosts=ones))
    assert plain == boosted


def test_boosted_paths_identical(engine):
    taat = _rows(engine.search(OR_Q, k=15, mode="taat", boosts=BOOSTS_OR))
    wand = _rows(engine.search(OR_Q, k=15, mode="wand", boosts=BOOSTS_OR))
    assert [d for d, _ in taat] == [d for d, _ in wand]
    np.testing.assert_array_equal([s for _, s in taat],
                                  [s for _, s in wand])

    taat_a = _rows(engine.search(AND_Q, k=15, mode="taat",
                                 boosts=BOOSTS_AND))
    conj = _rows(engine.search(AND_Q, k=15, mode="conj",
                               boosts=BOOSTS_AND))
    assert [d for d, _ in taat_a] == [d for d, _ in conj]
    np.testing.assert_array_equal([s for _, s in taat_a],
                                  [s for _, s in conj])


def test_boosted_matches_brute_force(engine, oracle):
    for q, boosts in ((OR_Q, BOOSTS_OR), (AND_Q, BOOSTS_AND)):
        got = _rows(engine.search(q, k=12, boosts=boosts))
        exp = brute_boosted_topk(oracle, q, boosts, k=12)
        assert [d for d, _ in got] == [d for d, _ in exp]
        np.testing.assert_allclose([s for _, s in got],
                                   [s for _, s in exp], rtol=1e-12)


def test_boost_changes_scores(engine):
    """A boost must reach the reported score (guards against a silently
    dropped kwarg): suppressing the rare terms to ~0 leaves a top-k
    scored by 'def' alone, which can't equal the plain scores."""
    plain = dict(_rows(engine.search(OR_Q, k=10)))
    boosted = dict(_rows(engine.search(
        OR_Q, k=10, boosts={"content\x01tok100": 1e-9,
                            "content\x01tok200": 1e-9})))
    assert plain != boosted


def test_search_fields(engine, oracle):
    fb = {"content": 1.0, "lang": 0.25}
    got = _rows(engine.search_fields("python", fb, k=12))
    q = Or(NewTermQuery("content", "python"), NewTermQuery("lang", "python"))
    boosts = {"content\x01python": 1.0, "lang\x01python": 0.25}
    exp = brute_boosted_topk(oracle, q, boosts, k=12)
    assert [d for d, _ in got] == [d for d, _ in exp]
    np.testing.assert_allclose([s for _, s in got],
                               [s for _, s in exp], rtol=1e-12)


def test_nonpositive_boost_raises(engine):
    for bad in (0.0, -1.0, math.nan):
        with pytest.raises(ValueError):
            engine.search(OR_Q, boosts={"content\x01def": bad})
