"""Phrase search (positional sidecar), prefix queries, and facets.

The positional index is a beyond-the-reference capability (the reference
stores no positions, skiplist_reverse_index.go:23-36); its contract here
is pinned against the brute-force ``oracle.Oracle.search_phrase`` over
the same tokenizer spec: a phrase matches docs whose
token stream contains the words adjacently in order, scored by the SAME
per-term BM25 sum the AND path uses."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from quicker_spark.engine import SearchEngine
from quicker_spark.fixtures import corpus_df, corpus_pdf
from quicker_spark.functions.tokenize import tokenize_py
from quicker_spark.operators.build import IndexConfig, build_index
from quicker_spark.operators.positions import build_positions
from quicker_spark.oracle import Oracle
from quicker_spark.plans.term_query import And, NewTermQuery

N_DOCS = 300
CFG = IndexConfig(seg_docs=70, wave_segments=2, block_size=32)


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("phrase_idx"))
    build_index(spark, corpus_df(spark, N_DOCS, partitions=4), out, CFG)
    build_positions(spark, out, fields=("content",))
    return out


@pytest.fixture(scope="module")
def engine(spark, index_dir):
    return SearchEngine(spark, index_dir)


@pytest.fixture(scope="module")
def toks_by_doc(engine):
    rows = engine.docs.select("doc_id", "content").collect()
    return {int(r["doc_id"]): tokenize_py(r["content"]) for r in rows}


@pytest.fixture(scope="module")
def oracle():
    return Oracle(corpus_pdf(N_DOCS))


def _oracle_hits(oracle, phrase, gap=0, k=10):
    return [(h.doc_id, h.score)
            for h in oracle.search_phrase(phrase, k=k, gap=gap)]


def _pick_phrase(toks_by_doc, min_docs=3):
    """A bigram that actually occurs in several fixture docs."""
    from collections import Counter
    c = Counter()
    for toks in toks_by_doc.values():
        for a, b2 in set(zip(toks, toks[1:])):
            c[(a, b2)] += 1
    (a, b2), nd = c.most_common(1)[0]
    assert nd >= min_docs, "fixture corpus has no repeated bigram"
    return [a, b2]


def test_phrase_matches_brute_force(engine, toks_by_doc, oracle):
    phrase = _pick_phrase(toks_by_doc)
    got = [(int(r["doc_id"]), float(r["score"]))
           for r in engine.search_phrase(phrase, k=10).collect()]
    exp = _oracle_hits(oracle, phrase)
    assert [d for d, _ in got] == [d for d, _ in exp]
    np.testing.assert_allclose([s for _, s in got], [s for _, s in exp],
                               rtol=1e-9)


def test_phrase_is_stricter_than_and(engine, toks_by_doc):
    phrase = _pick_phrase(toks_by_doc)
    ph_docs = {int(r["doc_id"])
               for r in engine.search_phrase(phrase, k=1000).collect()}
    and_docs = {int(r["doc_id"]) for r in engine.search_bool(
        And(*[NewTermQuery("content", w) for w in phrase])).collect()}
    assert ph_docs and ph_docs <= and_docs
    # and at least one fixture doc has both words but not adjacent
    non_adjacent = and_docs - ph_docs
    for d in list(non_adjacent)[:3]:
        toks = toks_by_doc[d]
        assert not any(toks[i:i + 2] == phrase
                       for i in range(len(toks) - 1))


def test_phrase_repeated_word(engine, toks_by_doc, oracle):
    # any token that appears twice in a row somewhere; if none, the
    # kernel path is still covered by the unit test in functions/phrase
    for toks in toks_by_doc.values():
        dup = next((a for a, b2 in zip(toks, toks[1:]) if a == b2), None)
        if dup:
            break
    if not dup:
        pytest.skip("fixture corpus has no doubled token")
    got = [(int(r["doc_id"]), float(r["score"]))
           for r in engine.search_phrase([dup, dup], k=10).collect()]
    exp = _oracle_hits(oracle, [dup, dup])
    assert [d for d, _ in got] == [d for d, _ in exp]


def test_phrase_no_sidecar_raises(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("bare_idx"))
    build_index(spark, corpus_df(spark, 40, partitions=2), out,
                IndexConfig(seg_docs=20, wave_segments=2))
    eng = SearchEngine(spark, out)
    with pytest.raises(ValueError, match="positional sidecar"):
        eng.search_phrase(["def", "return"])


def test_proximity_matches_brute_force(engine, toks_by_doc, oracle):
    phrase = _pick_phrase(toks_by_doc)
    for gap in (1, 3):
        got = [(int(r["doc_id"]), float(r["score"])) for r in
               engine.search_phrase(phrase, k=10, gap=gap).collect()]
        exp = _oracle_hits(oracle, phrase, gap=gap)
        assert [d for d, _ in got] == [d for d, _ in exp], gap
        np.testing.assert_allclose([s for _, s in got],
                                   [s for _, s in exp], rtol=1e-9)


def test_proximity_widens_with_gap(engine, toks_by_doc):
    phrase = _pick_phrase(toks_by_doc)
    sets = []
    for gap in (0, 2, 8):
        sets.append({int(r["doc_id"]) for r in
                     engine.search_phrase(phrase, k=10_000,
                                          gap=gap).collect()})
    assert sets[0] <= sets[1] <= sets[2]
    # and gap=0 equals the default (exact-phrase) call
    exact = {int(r["doc_id"])
             for r in engine.search_phrase(phrase, k=10_000).collect()}
    assert sets[0] == exact


def test_phrase_scan_is_term_pruned(engine):
    from quicker_spark.plans.term_query import FIELD_SEP
    df = (engine.spark.read
          .parquet(engine.index_dir + "/positions")
          .filter(F.col("term").isin([f"content{FIELD_SEP}def"])))
    jvm = df.sparkSession._jvm
    plan = jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "PushedFilters" in plan
    assert "In(term" in plan or "EqualTo(term" in plan or "term IN" in plan


def test_prefix_expansion_and_search(engine, toks_by_doc):
    vocab = {t for toks in toks_by_doc.values() for t in toks
             if t.startswith("tok")}
    cap = len(vocab) + 10
    terms = engine.expand_prefix("content", "tok", max_expansions=cap)
    assert {t.split("\x01", 1)[1] for t in terms} == vocab
    hits = engine.search_prefix("content", "tok", k=5,
                                max_expansions=cap).collect()
    assert len(hits) == 5
    top_docs = [int(r["doc_id"]) for r in hits]
    # every hit really contains a 'tok'-prefixed token
    for d in top_docs:
        assert any(t.startswith("tok") for t in toks_by_doc[d])


def test_prefix_no_match_is_empty(engine):
    assert engine.search_prefix("content", "zzzzz_nothing").count() == 0


def test_facet_counts_match_forward_index(engine, spark):
    q = NewTermQuery("content", "def")
    got = {tuple(r[:-1]): r["n"]
           for r in engine.facet_counts(q, by=("lang",)).collect()}
    match_ids = [int(r["doc_id"]) for r in engine.search_bool(q).collect()]
    exp_rows = (engine.docs.filter(F.col("doc_id").isin(match_ids))
                .groupBy("lang").count().collect())
    exp = {(r["lang"],): r["count"] for r in exp_rows}
    assert got == exp and sum(got.values()) == len(match_ids)



# -- highlight / snippets -----------------------------------------------------


def test_highlight_matches_brute_force(engine, toks_by_doc):
    from quicker_spark.plans.term_query import NewTermQuery, Or

    words = ["def", "tok100"]
    hits = engine.search(
        Or(*[NewTermQuery("content", w) for w in words]), k=10)
    got = {int(r["doc_id"]): (int(r["first_tok"]), r["snippet"])
           for r in engine.highlight(hits, words, window=3).collect()}
    assert len(got) == 10
    for d, (ft, snippet) in got.items():
        toks = toks_by_doc[d]
        firsts = [toks.index(w) for w in words if w in toks]
        j = min(firsts)
        assert ft == j, d
        assert snippet == " ".join(toks[max(0, j - 3): j + 4]), d


def test_highlight_scores_survive(engine):
    from quicker_spark.plans.term_query import NewTermQuery

    hits = engine.search(NewTermQuery("content", "def"), k=5)
    want = {int(r["doc_id"]): float(r["score"]) for r in hits.collect()}
    got = {int(r["doc_id"]): float(r["score"])
           for r in engine.highlight(hits, ["def"]).collect()}
    assert got == want


def test_highlight_absent_word_keeps_hit(engine):
    from quicker_spark.plans.term_query import NewTermQuery

    hits = engine.search(NewTermQuery("content", "def"), k=5)
    rows = engine.highlight(hits, ["zzz_not_a_token"]).collect()
    assert len(rows) == 5
    assert all(int(r["first_tok"]) == -1 and r["snippet"] == ""
               for r in rows)


def test_highlight_unindexed_field_raises(engine):
    from quicker_spark.plans.term_query import NewTermQuery

    hits = engine.search(NewTermQuery("content", "def"), k=3)
    with pytest.raises(ValueError):
        engine.highlight(hits, ["def"], field="repo")

# LAST in the module: mutates the shared index, so the module-scoped
# engine's cached DataFrames point at rewritten files afterwards
def test_phrase_survives_maintenance(spark, engine, index_dir,
                                     toks_by_doc, oracle):
    from quicker_spark.operators.maintain import delete_docs
    phrase = _pick_phrase(toks_by_doc)
    before = [int(r["doc_id"])
              for r in engine.search_phrase(phrase, k=10).collect()]
    victim = before[0]
    delete_docs(spark, index_dir, [victim])
    eng2 = SearchEngine(spark, index_dir)
    after = [int(r["doc_id"])
             for r in eng2.search_phrase(phrase, k=10).collect()]
    assert victim not in after
    # remaining ranking equals the Oracle over the post-delete corpus;
    # its dense doc ids skip the victim's, the engine's keep their value
    key = tuple(oracle.docs[victim][c] for c in ("repo", "path", "commit"))
    pdf = corpus_pdf(N_DOCS)
    pdf = pdf[[r != key for r in zip(pdf["repo"], pdf["path"],
                                     pdf["commit"])]]
    exp = [d + (d >= victim) for d, _ in _oracle_hits(Oracle(pdf), phrase)]
    assert after == exp[:len(after)]
