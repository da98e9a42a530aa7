"""Fuzzy term search (Lucene FuzzyQuery shape: dictionary expansion
within a Levenshtein budget, anchored by a required common prefix,
served as a scored OR through WAND)."""

import pytest

from quicker_spark.engine import SearchEngine
from quicker_spark.fixtures import corpus_df, corpus_pdf
from quicker_spark.operators.build import IndexConfig, build_index
from quicker_spark.oracle import Oracle
from quicker_spark.plans.term_query import NewTermQuery, Or

N_DOCS = 300
CFG = IndexConfig(seg_docs=80, wave_segments=2, block_size=32)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fuzzy_index"))
    build_index(spark, corpus_df(spark, N_DOCS, partitions=4), out, CFG)
    return SearchEngine(spark, out)


@pytest.fixture(scope="module")
def oracle():
    return Oracle(corpus_pdf(N_DOCS))


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _vocab(oracle, field="content"):
    pre = field + "\x01"
    return {t[len(pre):] for t in oracle.postings if t.startswith(pre)}


def test_expansion_matches_brute_force(engine, oracle):
    word, d, p = "tok50", 1, 3
    got = set(engine.expand_fuzzy("content", word, max_edits=d,
                                  prefix_len=p, max_expansions=10_000))
    exp = {f"content\x01{t}" for t in _vocab(oracle)
           if t.startswith(word[:p]) and _lev(t, word) <= d}
    assert got == exp and len(exp) >= 3


def test_expansion_cap_is_deterministic(engine, oracle):
    word = "tok50"
    full = engine.expand_fuzzy("content", word, max_edits=1,
                               prefix_len=3, max_expansions=10_000)
    capped = engine.expand_fuzzy("content", word, max_edits=1,
                                 prefix_len=3, max_expansions=4)
    # cap keeps the (distance asc, df desc, term asc) head of the order
    pre = "content\x01"
    dfm = {t: len(oracle.postings[t]) for t in full}
    key = lambda t: (_lev(t[len(pre):], word), -dfm[t], t)
    assert capped == sorted(full, key=key)[:4]


def test_prefix_anchor(engine):
    for t in engine.expand_fuzzy("content", "tok50", max_edits=2,
                                 prefix_len=3, max_expansions=10_000):
        assert t.startswith("content\x01tok")


def test_fuzzy_search_matches_expanded_or(engine, oracle):
    terms = engine.expand_fuzzy("content", "tok50", max_edits=1,
                                prefix_len=3, max_expansions=10_000)
    got = [(int(r["doc_id"]), float(r["score"])) for r in
           engine.search_fuzzy("content", "tok50", k=10, max_edits=1,
                               prefix_len=3,
                               max_expansions=10_000).collect()]
    q = Or(*[NewTermQuery("content", t.split("\x01", 1)[1])
             for t in terms])
    exp = [(h.doc_id, h.score) for h in oracle.search_topk(q, k=10)]
    assert [d for d, _ in got] == [d for d, _ in exp]
    assert all(abs(a - b) < 1e-9 for (_, a), (_, b) in zip(got, exp))


def test_zero_edits_is_exact(engine):
    fz = [(int(r["doc_id"]), float(r["score"])) for r in
          engine.search_fuzzy("content", "tok50", k=10,
                              max_edits=0).collect()]
    ex = [(int(r["doc_id"]), float(r["score"])) for r in
          engine.search(NewTermQuery("content", "tok50"), k=10).collect()]
    assert fz == ex


def test_no_match_is_empty(engine):
    assert engine.search_fuzzy("content", "zzzzzzz", k=10).count() == 0


# -- regexp / wildcard queries ------------------------------------------------


def test_regexp_expansion_matches_brute_force(engine, oracle):
    import re

    pat = "tok1[0-9]"
    got = set(engine.expand_regexp("content", pat, max_expansions=10_000))
    exp = {f"content\x01{t}" for t in _vocab(oracle)
           if re.fullmatch(pat, t)}
    assert got == exp and len(exp) >= 2


def test_regexp_whole_term_semantics(engine, oracle):
    # 'de.' must match 'def' but NOT e.g. 'def'-prefixed longer tokens
    import re

    got = {t.split("\x01", 1)[1]
           for t in engine.expand_regexp("content", "de.",
                                         max_expansions=10_000)}
    exp = {t for t in _vocab(oracle) if re.fullmatch("de.", t)}
    assert got == exp


def test_regexp_search_matches_expanded_or(engine, oracle):
    terms = engine.expand_regexp("content", "tok1[0-9]",
                                 max_expansions=10_000)
    got = [(int(r["doc_id"]), float(r["score"])) for r in
           engine.search_regexp("content", "tok1[0-9]", k=10,
                                max_expansions=10_000).collect()]
    q = Or(*[NewTermQuery("content", t.split("\x01", 1)[1])
             for t in terms])
    exp = [(h.doc_id, h.score) for h in oracle.search_topk(q, k=10)]
    assert [d for d, _ in got] == [d for d, _ in exp]
    assert all(abs(a - b) < 1e-9 for (_, a), (_, b) in zip(got, exp))


# -- wildcard queries ----------------------------------------------------------


def test_wildcard_translation():
    w2r = SearchEngine.wildcard_to_regexp
    assert w2r("tab*") == "tab[a-z0-9_]*"
    assert w2r("t?k") == "t[a-z0-9_]k"
    assert w2r("a.b") == "a\\.b"


def test_wildcard_expansion_matches_fnmatch(engine, oracle):
    import fnmatch

    got = {t.split("\x01", 1)[1]
           for t in engine.expand_regexp(
               "content", SearchEngine.wildcard_to_regexp("tok1*"),
               max_expansions=10_000)}
    exp = {t for t in _vocab(oracle) if fnmatch.fnmatchcase(t, "tok1*")}
    assert got == exp and len(exp) >= 2


def test_wildcard_search_matches_expanded_or(engine, oracle):
    terms = engine.expand_regexp(
        "content", SearchEngine.wildcard_to_regexp("tok?5"),
        max_expansions=10_000)
    got = [(int(r["doc_id"]), float(r["score"])) for r in
           engine.search_wildcard("content", "tok?5", k=10,
                                  max_expansions=10_000).collect()]
    q = Or(*[NewTermQuery("content", t.split("\x01", 1)[1])
             for t in terms])
    exp = [(h.doc_id, h.score) for h in oracle.search_topk(q, k=10)]
    assert [d for d, _ in got] == [d for d, _ in exp]
    assert all(abs(a - b) < 1e-9 for (_, a), (_, b) in zip(got, exp))


# -- boolean must_not ----------------------------------------------------------


def test_bool_not_matches_brute_force(engine, oracle):
    pos = Or(NewTermQuery("content", "def"), NewTermQuery("content", "tok50"))
    neg = NewTermQuery("content", "tok7")
    got = [int(r["doc_id"])
           for r in engine.search_bool_not(pos, neg).collect()]
    exp = sorted(set(oracle.eval_bool(pos)) - set(oracle.eval_bool(neg)))
    assert got == exp
    assert 0 < len(exp) < len(oracle.eval_bool(pos))  # exclusion did work


def test_bool_not_self_exclusion_is_empty(engine):
    q = NewTermQuery("content", "def")
    assert engine.search_bool_not(q, q).count() == 0


def test_bool_not_refuses_phrase_pseudo_leaves(engine):
    # a pseudo-leaf has no postings: in either tree it would silently
    # subtract nothing or match nothing, so search_bool_not refuses it
    # with search_bool's error
    from quicker_spark.plans.term_query import TermQuery

    p = TermQuery(keyword="\x02p0")
    q = NewTermQuery("content", "def")
    with pytest.raises(ValueError) as want:
        engine.search_bool(p)
    for pos, neg in ((q, p), (p, q)):
        with pytest.raises(ValueError) as got:
            engine.search_bool_not(pos, neg)
        assert str(got.value) == str(want.value)


def test_scored_must_not_matches_brute_force(engine, oracle):
    pos = Or(NewTermQuery("content", "def"), NewTermQuery("content", "tok50"))
    neg = NewTermQuery("content", "tok7")
    got = [(int(r["doc_id"]), float(r["score"])) for r in
           engine.search(pos, k=10, exclude=neg).collect()]
    banned = set(oracle.eval_bool(neg))
    exp = [(h.doc_id, h.score) for h in oracle.search_topk(pos, k=10_000)
           if h.doc_id not in banned][:10]
    assert [d for d, _ in got] == [d for d, _ in exp]
    assert all(abs(a - b) < 1e-9 for (_, a), (_, b) in zip(got, exp))
    # survivors' scores identical to the un-excluded query's scores
    base = {h.doc_id: h.score for h in oracle.search_topk(pos, k=10_000)}
    assert all(abs(s - base[d]) < 1e-12 for d, s in got)


def test_scored_must_not_rejects_pruned_modes(engine):
    import pytest as _pytest

    pos = Or(NewTermQuery("content", "def"), NewTermQuery("content", "tok50"))
    with _pytest.raises(ValueError, match="exclude requires"):
        engine.search(pos, k=10, exclude=NewTermQuery("content", "tok7"),
                      mode="wand")


# -- sort-by-field and stats facets -------------------------------------------


def test_search_sorted_matches_brute_force(engine, oracle):
    q = Or(NewTermQuery("content", "def"), NewTermQuery("content", "tok50"))
    for asc in (False, True):
        got = [(int(r["doc_id"]), int(r["doc_len"])) for r in
               engine.search_sorted(q, by="doc_len", ascending=asc,
                                    k=12).collect()]
        cands = oracle.eval_bool(q)
        exp = sorted(((d, oracle.doc_len[d]) for d in cands),
                     key=lambda x: (x[1] if asc else -x[1], x[0]))[:12]
        assert got == exp, asc


def test_facet_histogram_matches_brute_force(engine, oracle):
    q = NewTermQuery("content", "def")
    got = {int(r["bucket"]): int(r["n"]) for r in
           engine.facet_histogram(q, on_col="doc_len", width=7).collect()}
    exp: dict = {}
    for d in oracle.eval_bool(q):
        b = oracle.doc_len[d] // 7 * 7
        exp[b] = exp.get(b, 0) + 1
    assert got == exp and len(exp) >= 2


def test_facet_histogram_rejects_bad_width(engine):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="width"):
        engine.facet_histogram(NewTermQuery("content", "def"), width=0)


def test_facet_stats_matches_brute_force(engine, oracle):
    q = NewTermQuery("content", "def")
    got = {r["lang"]: (int(r["n"]), int(r["min_v"]), int(r["max_v"]),
                       int(r["sum_v"]))
           for r in engine.facet_stats(q, on_col="doc_len").collect()}
    exp: dict = {}
    for d in oracle.eval_bool(q):
        lang = oracle.docs[d]["lang"]
        dl = oracle.doc_len[d]
        n, mn, mx, sm = exp.get(lang, (0, 10**9, -1, 0))
        exp[lang] = (n + 1, min(mn, dl), max(mx, dl), sm + dl)
    assert got == exp


def test_facet_percentiles_matches_brute_force(engine, oracle):
    q = NewTermQuery("content", "def")
    pcts = (0.25, 0.5, 0.75, 0.875)
    got = {float(r["pct"]): float(r["value"]) for r in
           engine.facet_percentiles(q, on_col="doc_len",
                                    percentiles=pcts).collect()}
    vals = sorted(oracle.doc_len[d] for d in oracle.eval_bool(q))
    assert len(got) == len(pcts) and len(vals) >= 4
    for p in pcts:
        rank = p * (len(vals) - 1)
        lo, frac = int(rank), rank - int(rank)
        exp = vals[lo] + (vals[min(lo + 1, len(vals) - 1)] - vals[lo]) * frac
        assert got[p] == exp, p   # dyadic p + int values -> bit-exact


def test_facet_percentiles_grouped_and_approx(engine, oracle):
    q = NewTermQuery("content", "def")
    rows = engine.facet_percentiles(q, on_col="doc_len", by=("lang",),
                                    percentiles=(0.5,)).collect()
    langs = {oracle.docs[d]["lang"] for d in oracle.eval_bool(q)}
    assert {r["lang"] for r in rows} == langs
    for r in rows:
        vals = sorted(oracle.doc_len[d] for d in oracle.eval_bool(q)
                      if oracle.docs[d]["lang"] == r["lang"])
        rank = 0.5 * (len(vals) - 1)
        lo, frac = int(rank), rank - int(rank)
        exp = vals[lo] + (vals[min(lo + 1, len(vals) - 1)] - vals[lo]) * frac
        assert float(r["value"]) == exp, r["lang"]
    # approx path: same row shape, values within the sketch tolerance
    ap = {float(r["pct"]): float(r["value"]) for r in
          engine.facet_percentiles(q, percentiles=(0.25, 0.75),
                                   exact=False).collect()}
    vals = sorted(oracle.doc_len[d] for d in oracle.eval_bool(q))
    assert set(ap) == {0.25, 0.75}
    assert all(vals[0] <= v <= vals[-1] for v in ap.values())


def test_facet_cardinality_matches_brute_force(engine, oracle):
    q = NewTermQuery("content", "def")
    got = {r["lang"]: int(r["n_distinct"]) for r in
           engine.facet_cardinality(q, on_col="repo",
                                    by=("lang",)).collect()}
    exp: dict = {}
    for d in oracle.eval_bool(q):
        exp.setdefault(oracle.docs[d]["lang"], set()).add(
            oracle.docs[d]["repo"])
    assert got == {k: len(v) for k, v in exp.items()}
    # HLL path: same buckets, values within the sketch's rsd envelope
    ap = {r["lang"]: int(r["n_distinct"]) for r in
          engine.facet_cardinality(q, on_col="repo", by=("lang",),
                                   exact=False, rsd=0.02).collect()}
    assert set(ap) == set(got)
    assert all(abs(ap[k] - got[k]) <= max(2, 0.1 * got[k]) for k in got)


def test_facet_percentiles_rejects_bad_pct(engine):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="percentiles"):
        engine.facet_percentiles(NewTermQuery("content", "def"),
                                 percentiles=(1.5,))


# -- spell suggestion ("did you mean") ----------------------------------------

def _brute_suggest(oracle, word, max_edits, prefix_len, n):
    pre = "content\x01"
    cands = []
    for t, tfm in oracle.postings.items():
        if not t.startswith(pre):
            continue
        w = t[len(pre):]
        if prefix_len and not w.startswith(word[:prefix_len]):
            continue
        if w == word:
            continue
        d = _lev(w, word)
        if d <= max_edits:
            cands.append((d, -len(tfm), w))
    cands.sort()
    return [(w, d, -neg_df) for d, neg_df, w in cands[:n]]


def test_suggest_matches_brute_force(engine, oracle):
    got = [(r["word"], r["distance"], r["df"])
           for r in engine.suggest("content", "tok5x", max_edits=2,
                                   prefix_len=1, n=5).collect()]
    assert got == _brute_suggest(oracle, "tok5x", 2, 1, 5)
    assert got  # the fixture vocabulary has tokNN neighbors


def test_suggest_excludes_the_word_itself(engine, oracle):
    word = next(iter(_vocab(oracle)))  # a word that IS in the vocabulary
    got = [r["word"] for r in engine.suggest("content", word, max_edits=1,
                                             n=50).collect()]
    assert word not in got


def test_suggest_lowercases_input(engine):
    lo = [tuple(r) for r in engine.suggest("content", "tok5x", n=5).collect()]
    up = [tuple(r) for r in engine.suggest("content", "TOK5X", n=5).collect()]
    assert lo == up and lo
