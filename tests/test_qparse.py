"""Query-string parser: syntax -> AST -> exact engine-call equivalence.

The compiler must add NO semantics of its own — every string maps onto
an engine request whose primitives are already oracle-certified, so the
tests here assert (a) AST shapes and loud errors, (b) rank identity
between `search_string` and the hand-built direct engine call."""

import pytest

from quicker_spark.engine import SearchEngine
from quicker_spark.fixtures import corpus_df
from quicker_spark.operators.build import IndexConfig, build_index
from quicker_spark.operators.positions import build_positions
from quicker_spark.plans.qparse import (Bool, Leaf, QueryParseError,
                                        compile_string, parse,
                                        search_string)
from quicker_spark.plans.term_query import And, NewTermQuery, Or, TermQuery

N_DOCS = 300
CFG = IndexConfig(seg_docs=80, wave_segments=2, block_size=32)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("qparse_index"))
    build_index(spark, corpus_df(spark, N_DOCS, partitions=4), out, CFG)
    build_positions(spark, out, fields=("content",))
    return SearchEngine(spark, out)


def _hits(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


# -- parse-only ----------------------------------------------------------


def test_parse_shapes():
    n = parse("a b")
    assert isinstance(n, Bool) and n.op == "OR" and len(n.clauses) == 2
    assert all(o == "SHOULD" for o, _ in n.clauses)

    n = parse("a AND b OR c")
    assert n.op == "OR" and len(n.clauses) == 2
    (o1, left), (o2, right) = n.clauses
    assert isinstance(left, Bool) and left.op == "AND"
    assert [o for o, _ in left.clauses] == ["MUST", "MUST"]
    assert isinstance(right, Leaf) and right.text == ("c",)

    n = parse("+a b -c")
    assert [o for o, _ in n.clauses] == ["MUST", "SHOULD", "MUST_NOT"]

    n = parse("a AND -b")
    assert n.op == "AND"
    assert [o for o, _ in n.clauses] == ["MUST", "MUST_NOT"]


def test_parse_leaf_kinds():
    leaves = [c for _, c in parse(
        'term pre* wi?ld* fuzz~1 /s[ct]x/ lang:py "a b"~3').clauses]
    assert [c.kind for c in leaves] == ["term", "prefix", "wildcard",
                                        "fuzzy", "regexp", "term",
                                        "phrase"]
    assert leaves[3].param == 1
    assert leaves[6].text == ("a", "b") and leaves[6].param == 3
    assert leaves[0].field is None
    assert leaves[5].field == "lang" and leaves[5].text == ("py",)


def test_parse_field_regex_and_phrase():
    n = parse('content:/s[ct][a-z]+/')
    _, leaf = n.clauses[0] if isinstance(n, Bool) else (None, n)
    assert leaf.kind == "regexp" and leaf.field == "content"
    n2 = parse('content:"hash table"~2^1.5')
    leaf2 = n2 if isinstance(n2, Leaf) else n2.clauses[0][1]
    assert leaf2.kind == "phrase" and leaf2.field == "content"
    assert leaf2.param == 2 and leaf2.boost == 1.5


def test_parse_boost_and_defaults():
    n = parse("a^2.5 b~")
    (_, a), (_, b) = n.clauses
    assert a.boost == 2.5
    assert b.kind == "fuzzy" and b.param == 2  # bare ~ = Lucene default


def test_parse_errors():
    for bad in ("", "  ", "(a", 'a"b', "*", "a^x", "a^-1", "a^0",
                "foo-bar", "field:"):
        with pytest.raises(QueryParseError):
            parse(bad)


# -- compile + execute equivalence ----------------------------------------


def t(w):
    return NewTermQuery("content", w)


def test_default_or(engine):
    got = _hits(search_string(engine, "def return", k=10))
    want = _hits(engine.search(Or(t("def"), t("return")), k=10))
    assert got == want and got


def test_explicit_and(engine):
    got = _hits(search_string(engine, "def AND return", k=10))
    want = _hits(engine.search(And(t("def"), t("return")), k=10))
    assert got == want and got


def test_default_op_and(engine):
    got = _hits(search_string(engine, "def return", k=10,
                              default_op="AND"))
    want = _hits(engine.search(And(t("def"), t("return")), k=10))
    assert got == want


def test_must_plus_should_lucene_occur(engine):
    # `+tok50 def`: candidates = docs with tok50; def contributes score
    got = _hits(search_string(engine, "+tok50 def", k=10))
    tree = And(t("tok50"), Or(t("def"), t("tok50")))
    want = _hits(engine.search(tree, k=10))
    assert got == want and got
    # candidates restricted to the must term's match set…
    tok50_docs = {r["doc_id"] for r in
                  engine.search_bool(t("tok50")).collect()}
    assert all(d in tok50_docs for d, _ in got)
    # …while the optional term still contributes score (Lucene SHOULD):
    # scores differ from the pure must-only query
    only_must = dict(_hits(engine.search(t("tok50"), k=300)))
    assert any(abs(s - only_must[d]) > 1e-9 for d, s in got)


def test_must_not(engine):
    got = _hits(search_string(engine, "def -tok50", k=10))
    want = _hits(engine.search(t("def"), k=10, exclude=t("tok50")))
    assert got == want and got
    got2 = _hits(search_string(engine, "def AND NOT tok50", k=10))
    assert got2 == want


def test_nested_parens(engine):
    got = _hits(search_string(engine, "(def OR tok50) AND return", k=10))
    tree = And(Or(t("def"), t("tok50")), t("return"))
    want = _hits(engine.search(tree, k=10))
    assert got == want and got


def test_boost(engine):
    got = _hits(search_string(engine, "def^2.5 return", k=10))
    want = _hits(engine.search(Or(t("def"), t("return")), k=10,
                 boosts={"content\x01def": 2.5}))
    assert got == want and got


def test_fuzzy_route(engine):
    got = _hits(search_string(engine, "tok50~1", k=10,
                              max_expansions=64))
    want = _hits(engine.search_fuzzy("content", "tok50", k=10,
                                     max_edits=1))
    assert got == want and got


def test_prefix_and_wildcard_route(engine):
    got = _hits(search_string(engine, "tok5*", k=10, max_expansions=64))
    want = _hits(engine.search_prefix("content", "tok5", k=10))
    assert got == want and got
    got2 = _hits(search_string(engine, "tok5?", k=10, max_expansions=64))
    want2 = _hits(engine.search_wildcard("content", "tok5?", k=10))
    assert got2 == want2 and got2


def test_regexp_route(engine):
    got = _hits(search_string(engine, "/tok5[0-9]/", k=10,
                              max_expansions=64))
    want = _hits(engine.search_regexp("content", "tok5[0-9]", k=10))
    assert got == want and got


def test_whole_query_phrase(engine):
    got = _hits(search_string(engine, '"def tok50"~4', k=10))
    want = _hits(engine.search_phrase(["def", "tok50"], k=10, gap=4))
    assert got == want


def test_expansion_composes_into_bool(engine):
    # wildcard expansion as one branch of a boolean
    c = compile_string(engine, "+def tok5*", max_expansions=64)
    keys = c.tree.must[1].terms()
    assert "content\x01def" in keys
    assert any(k.startswith("content\x01tok5") for k in keys)
    got = _hits(search_string(engine, "+def tok5*", k=10,
                              max_expansions=64))
    exp_terms = [TermQuery(keyword=x) for x in
                 engine.expand_prefix("content", "tok5",
                                      max_expansions=64)]
    tree = And(t("def"), Or(*exp_terms, t("def")))
    want = _hits(engine.search(tree, k=10))
    assert got == want and got


def test_compile_restrictions(engine):
    with pytest.raises(QueryParseError, match="scorable"):
        compile_string(engine, "-def")


def test_nested_must_not(engine):
    # def OR (return AND NOT tok50) — NOT nested under OR
    got = _hits(search_string(engine, "def OR (return AND NOT tok50)",
                              k=10))
    from quicker_spark.plans.term_query import AndNot
    tree = Or(t("def"), AndNot(t("return"), t("tok50")))
    want = _hits(engine.search(tree, k=10))
    assert got == want and got
    # candidates honour the nested subtraction exactly
    all_hits = {d for d, _ in
                _hits(search_string(engine,
                                    "def OR (return AND NOT tok50)",
                                    k=10 ** 6))}
    b = lambda q: {r["doc_id"] for r in engine.search_bool(q).collect()}
    assert all_hits == b(t("def")) | (b(t("return")) - b(t("tok50")))


def test_nested_pure_negative_group_matches_nothing(engine):
    # Lucene: a BooleanQuery with only prohibited clauses has no hits,
    # so the AND level it sits under matches nothing
    got = _hits(search_string(engine, "def AND (-tok50 -return)", k=10))
    assert got == []


def test_empty_must_expansion_matches_nothing(engine):
    # '+zzzz* +def': the MUST prefix expands to no dictionary term —
    # Lucene MUST semantics return ZERO hits, never just 'def' hits
    c = compile_string(engine, "+zzzz* +def")
    assert c.match_none
    assert _hits(search_string(engine, "+zzzz* +def", k=10)) == []
    # SHOULD-context empty expansion still just drops
    got = _hits(search_string(engine, "zzzz* def", k=10))
    want = _hits(engine.search(t("def"), k=10))
    assert got == want and got
    # ...but ALL positive clauses empty -> nothing (not an error)
    assert _hits(search_string(engine, "zzzz* yyyy*", k=10)) == []


def test_phrase_as_must_clause(engine):
    # '+"def tok50"~4 return' — phrase narrows candidates, words score
    got = _hits(search_string(engine, '+"def tok50"~4 return', k=10))
    assert got
    phrase_docs = {r["doc_id"] for r in
                   engine.search_phrase(["def", "tok50"], gap=4,
                                        k=10 ** 6).collect()}
    assert {d for d, _ in got} <= phrase_docs
    # hand-built equivalent: pseudo-leaf tree + PhraseSpec
    from quicker_spark.engine import PhraseSpec
    P = TermQuery(keyword="\x02p0")
    spec = (PhraseSpec("\x02p0", "content", ("def", "tok50"), 4, True),)
    tree = And(P, Or(t("return"), P))
    want = _hits(engine.search(tree, k=10, phrases=spec))
    assert got == want


def test_phrase_as_should_clause(engine):
    got = _hits(search_string(engine, '"def tok50" tok51', k=10 ** 6))
    phrase_docs = {r["doc_id"] for r in
                   engine.search_phrase(["def", "tok50"],
                                        k=10 ** 6).collect()}
    b = {r["doc_id"] for r in engine.search_bool(t("tok51")).collect()}
    assert {d for d, _ in got} == phrase_docs | b


def test_negated_phrase(engine):
    got = _hits(search_string(engine, 'def -"def tok50"', k=10 ** 6))
    phrase_docs = {r["doc_id"] for r in
                   engine.search_phrase(["def", "tok50"],
                                        k=10 ** 6).collect()}
    b = {r["doc_id"] for r in engine.search_bool(t("def")).collect()}
    assert {d for d, _ in got} == b - phrase_docs
    # and the surviving docs score identically to the plain query
    plain = dict(_hits(engine.search(t("def"), k=10 ** 6)))
    assert all(abs(plain[d] - s) < 1e-12 for d, s in got)


def test_parse_field_scoped_group():
    n = parse("lang:(py OR go) table")
    (_, grp), (_, tbl) = n.clauses
    leaves = [c for _, c in grp.clauses]
    assert [c.field for c in leaves] == ["lang", "lang"]
    assert [c.text for c in leaves] == [("py",), ("go",)]
    assert tbl.field is None
    # explicit inner fields win; nested groups scope through
    n2 = parse("lang:(py content:def (go ruby))")
    flat = []

    def walk(x):
        if isinstance(x, Leaf):
            flat.append((x.field, x.text[0]))
        else:
            for _, c in x.clauses:
                walk(c)
    walk(n2)
    assert flat == [("lang", "py"), ("content", "def"),
                    ("lang", "go"), ("lang", "ruby")]
    with pytest.raises(QueryParseError):
        parse("lang:(py")


def test_field_group_compiles_like_explicit_fields(engine):
    got = _hits(search_string(engine, "content:(def return) tok50", k=10))
    want = _hits(search_string(engine, "def return tok50", k=10))
    assert got == want and got


def test_phrase_clause_composes_with_paging_and_msm_guard(engine):
    # paging cursor inside a phrase-clause query: page 2 tiles the
    # total order exactly (the cursor filter runs in the same TAAT
    # kernel the phrase candidates feed)
    qs = '+"def tok50"~4 return'
    full = _hits(search_string(engine, qs, k=50))
    if len(full) > 3:
        cursor = full[2]
        from quicker_spark.plans.qparse import compile_string
        c = compile_string(engine, qs)
        page2 = _hits(engine.search(c.tree, k=47, phrases=c.phrases,
                                    boosts=c.boosts or None,
                                    after=(cursor[1], cursor[0])))
        assert page2 == full[3:]
    # pruned modes refuse phrase trees loudly
    from quicker_spark.plans.qparse import compile_string
    c = compile_string(engine, qs)
    with pytest.raises(ValueError, match="phrase"):
        engine.search(c.tree, k=5, phrases=c.phrases, mode="wand")
