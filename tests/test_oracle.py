"""Oracle unit tests.

Set-op fixtures ported verbatim (as real assertions) from the reference's
internal/reverse_index/test/skiplist_reverse_index_test.go:13-37, and
boolean/bit-filter scenarios mirroring index_service/test/indexer_test.go.
"""

import hashlib
import math

from quicker_spark.fixtures import corpus_pdf, edge_corpus_pdf
from quicker_spark.model import LANG_BITS, bm25_idf, bm25_term_score, filter_by_bits
from quicker_spark.oracle import Oracle, intersect_sorted, union_sorted
from quicker_spark.plans.term_query import And, NewTermQuery, Or

L1 = [1, 4, 5, 7, 9, 11]
L2 = [2, 4, 5, 8, 9]
L3 = [3, 5, 7, 9]


def test_reference_set_op_fixtures():
    assert intersect_sorted([L1, L2]) == [4, 5, 9]
    assert intersect_sorted([L1, L2, L3]) == [5, 9]
    assert union_sorted([L1, L2, L3]) == [1, 2, 3, 4, 5, 7, 8, 9, 11]
    assert intersect_sorted([]) == []          # 0 lists -> empty
    assert intersect_sorted([L1]) == L1        # 1 list -> itself
    assert union_sorted([]) == []
    assert union_sorted([L3]) == sorted(L3)


def test_filter_by_bits_semantics():
    # reference: skiplist_reverse_index.go:158-171
    assert filter_by_bits(0b1011, on=0b0011)
    assert not filter_by_bits(0b1011, on=0b0100)
    assert not filter_by_bits(0b1011, off=0b0010)
    assert filter_by_bits(0b1011, or_flags=[0b1000, 0b0001])
    assert not filter_by_bits(0b1011, or_flags=[0b0100])
    assert filter_by_bits(0b1011)  # no constraints


def _tiny_oracle(n=60):
    return Oracle(corpus_pdf(n))


def test_oracle_boolean_and_semantics():
    o = _tiny_oracle()
    qa = NewTermQuery("content", "def")
    qb = NewTermQuery("content", "import")
    a = set(o.eval_bool(qa))
    b = set(o.eval_bool(qb))
    assert set(o.eval_bool(And(qa, qb))) == (a & b)
    assert set(o.eval_bool(Or(qa, qb))) == (a | b)
    nested = Or(And(qa, qb), NewTermQuery("content", "uniq_0"))
    got = set(o.eval_bool(nested))
    assert got == (a & b) | set(o.eval_bool(NewTermQuery("content", "uniq_0")))


def test_oracle_unique_token_is_singleton():
    o = _tiny_oracle()
    hits = o.eval_bool(NewTermQuery("content", "uniq_3"))
    assert len(hits) == 1


def test_oracle_bit_filter_restricts_lang():
    o = _tiny_oracle()
    q = NewTermQuery("content", "def")
    py = o.eval_bool(q, on=LANG_BITS["python"])
    assert all(o.docs[d]["lang"] == "python" for d in py)
    assert set(py) <= set(o.eval_bool(q))
    off = o.eval_bool(q, off=LANG_BITS["python"])
    assert set(off).isdisjoint(py)
    assert sorted(set(py) | set(off)) == o.eval_bool(q)

    # edge corpus: the engine's NULL-field contract — a NULL or empty lang
    # emits no lang term and sets no lang bit; NULL content indexes as ''
    e = Oracle(edge_corpus_pdf())
    assert {t for t in e.postings if t.startswith("lang\x01")} == {
        "lang\x01" + lang for lang in ("python", "go", "java", "js", "rust",
                                        "c")}
    no_lang = [d for d, doc in e.docs.items() if not doc["lang"]]
    assert len(no_lang) == 2
    assert all(e.docs[d]["bits"] == 0 for d in no_lang)
    assert all(e.doc_len[d] == 4 for d in no_lang)
    py = e.eval_bool(NewTermQuery("lang", "python"))
    assert len(py) == 2
    assert e.eval_bool(NewTermQuery("content", "indexed"),
                       off=LANG_BITS["python"]) == no_lang
    (null_content,) = [d for d, doc in e.docs.items() if doc["repo"] == "r9"]
    assert e.doc_len[null_content] == 0
    assert e.docs[null_content]["content_sha"] == hashlib.sha256(
        b"").hexdigest()
    assert null_content in e.eval_bool(NewTermQuery("repo", "r9"))


def test_oracle_topk_scores_sane():
    o = _tiny_oracle(120)
    q = Or(NewTermQuery("content", "def"), NewTermQuery("content", "tok100"))
    hits = o.search_topk(q, k=10)
    assert 0 < len(hits) <= 10
    scores = [h.score for h in hits]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)
    # a doc containing both terms should outscore one with only the rare term's
    # idf if tf/dl comparable — just sanity-check the formula directly
    idf = bm25_idf(100, 10)
    assert idf == math.log((100 - 10 + 0.5) / (10 + 0.5) + 1)
    s1 = bm25_term_score(2, 100, 100, idf)
    s2 = bm25_term_score(1, 100, 100, idf)
    assert s1 > s2


def test_oracle_topk_tie_break_doc_id_asc():
    o = _tiny_oracle()
    q = NewTermQuery("lang", "python")  # same tf=1 for every python doc
    hits = o.search_topk(q, k=5)
    same = [h for h in hits if abs(h.score - hits[0].score) < 1e-12]
    assert [h.doc_id for h in same] == sorted(h.doc_id for h in same)


def test_oracle_nested_must_not():
    from quicker_spark.plans.term_query import AndNot

    o = _tiny_oracle()
    t = lambda w: NewTermQuery("content", w)
    tree = Or(t("def"), AndNot(t("return"), t("tok5")))
    got = o.eval_bool(tree)
    d = set(o.eval_bool(t("def")))
    r = set(o.eval_bool(t("return")))
    x = set(o.eval_bool(t("tok5")))
    assert got == sorted(d | (r - x))
    # negated terms never score: hits score identically to the
    # positive-terms-only sum
    hits = o.search_topk(tree, k=5)
    for h in hits:
        assert math.isclose(
            h.score, o.score(h.doc_id, {"content\x01def",
                                        "content\x01return"}),
            rel_tol=0, abs_tol=0)
