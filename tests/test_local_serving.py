"""Resident single-node serving (`quicker_spark.serving.LocalSearcher`).

The local path must be rank- AND score-identical to the Spark path on
the same index bytes — it reuses `resolve_search_spec` and
`_score_segment_rows`, so any drift is a wiring bug. Bitwise equality
is asserted across modes, flags, boosts, paging cursors, excludes, and
quorums, on the bucket-partitioned layout; an index without it is
refused by both tiers.
"""

from __future__ import annotations

import random
import shutil
import sys
import threading

import pytest

from quicker_spark.engine import SearchEngine
from quicker_spark.fixtures import corpus_pdf
from quicker_spark.functions.kernels import EncodedPostings
from quicker_spark.operators.build import IndexConfig, build_index
from quicker_spark.plans.term_query import And, NewTermQuery, Or
from quicker_spark.serving import LocalSearcher, StaleIndexError


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("local") / "idx")
    shutil.rmtree(out, ignore_errors=True)
    build_index(spark, spark.createDataFrame(corpus_pdf(300)), out,
                IndexConfig(seg_docs=100), resume=False)
    from quicker_spark.operators.positions import build_positions
    build_positions(spark, out, fields=("content",))
    return out


@pytest.fixture(scope="module")
def eng(spark, idx):
    return SearchEngine(spark, idx)


@pytest.fixture(scope="module")
def ls(idx):
    return LocalSearcher(idx)


def _t(w):
    return NewTermQuery("content", w)


def _assert_same(spark_hits, local_pdf):
    want = [(r["doc_id"], r["score"]) for r in spark_hits.collect()]
    got = list(zip(local_pdf["doc_id"].tolist(),
                   local_pdf["score"].tolist()))
    assert got == want  # bitwise: same kernels, same merge order


@pytest.mark.parametrize("mode", ["wand", "taat", "auto"])
def test_flat_or_identity(eng, ls, mode):
    q = Or(_t("def"), _t("return"), _t("import"))
    _assert_same(eng.search(q, k=7, mode=mode), ls.search(q, k=7, mode=mode))


@pytest.mark.parametrize("mode", ["conj", "taat", "auto"])
def test_flat_and_identity(eng, ls, mode):
    q = And(_t("def"), _t("return"))
    _assert_same(eng.search(q, k=7, mode=mode), ls.search(q, k=7, mode=mode))


def test_nested_tree_identity(eng, ls):
    q = And(Or(_t("def"), _t("class")), _t("return"))
    _assert_same(eng.search(q, k=9), ls.search(q, k=9))


def test_bit_flags_identity(eng, ls):
    q = Or(_t("def"), _t("return"))
    for on, off, orf in ((1, 0, ()), (0, 1, ()), (0, 0, (1, 2))):
        _assert_same(eng.search(q, k=8, on=on, off=off, or_flags=orf),
                     ls.search(q, k=8, on=on, off=off, or_flags=orf))


def test_boosts_identity(eng, ls):
    q = Or(_t("def"), _t("return"))
    boosts = {"content\x01def": 0.3, "content\x01return": 2.5}
    _assert_same(eng.search(q, k=6, boosts=boosts),
                 ls.search(q, k=6, boosts=boosts))


def test_paging_cursor_identity(eng, ls):
    q = Or(_t("def"), _t("return"))
    p1 = ls.search(q, k=5)
    cursor = (float(p1["score"].iloc[-1]), int(p1["doc_id"].iloc[-1]))
    _assert_same(eng.search(q, k=5, after=cursor),
                 ls.search(q, k=5, after=cursor))
    # pages never overlap and page2 continues the rank order
    p2 = ls.search(q, k=5, after=cursor)
    assert not set(p1["doc_id"]) & set(p2["doc_id"])


def test_exclude_identity(eng, ls):
    q = Or(_t("def"), _t("return"))
    ex = Or(_t("import"))
    _assert_same(eng.search(q, k=8, exclude=ex),
                 ls.search(q, k=8, exclude=ex))


def test_min_should_match_identity(eng, ls):
    q = Or(_t("def"), _t("return"), _t("import"))
    _assert_same(eng.search(q, k=8, min_should_match=2),
                 ls.search(q, k=8, min_should_match=2))
    assert len(ls.search(q, k=8, min_should_match=4)) == 0  # unreachable


def test_validation_errors_match(ls):
    with pytest.raises(ValueError):
        ls.search(And(_t("a"), _t("b")), mode="wand")
    with pytest.raises(ValueError):
        ls.search(Or(_t("a")), boosts={"content\x01a": -1.0})
    with pytest.raises(ValueError):
        ls.search(Or(_t("a")), mode="nope")


def test_absent_and_empty_terms(ls):
    assert len(ls.search(Or(_t("zzznotaterm")), k=5)) == 0
    assert len(ls.search(Or(), k=5)) == 0


class _CountingDataset:
    """Forwards to a pyarrow dataset, counting ``to_table`` reads."""

    def __init__(self, ds):
        self._ds, self.reads = ds, 0

    def to_table(self, *args, **kwargs):
        self.reads += 1
        return self._ds.to_table(*args, **kwargs)

    def __getattr__(self, item):
        return getattr(self._ds, item)


def test_warm_cache_identity_and_residency(idx, eng):
    ls = LocalSearcher(idx)
    ls._post_ds = post = _CountingDataset(ls._post_ds)
    ls._ts_ds = ts = _CountingDataset(ls._ts_ds)
    q = Or(_t("def"), _t("return"))
    cold = ls.search(q, k=7)
    assert post.reads == 1 and ts.reads == 1
    # resident after the first call: df_global + one encoded run per
    # segment holding the term
    df_global, enc, _dec = ls._rows["content\x01def"]
    assert df_global > 0 and len(enc) == 3
    warm = ls.search(q, k=7)
    assert cold.equals(warm)
    assert post.reads == 1 and ts.reads == 1  # warm repeat: zero reads
    _assert_same(eng.search(q, k=7), warm)


def test_lru_eviction_keeps_results_correct(idx, eng):
    ls = LocalSearcher(idx, max_terms=1)  # pathological cap: thrash
    q = Or(_t("def"), _t("return"), _t("import"))
    _assert_same(eng.search(q, k=7), ls.search(q, k=7))
    assert len(ls._rows) <= 1
    _assert_same(eng.search(q, k=7), ls.search(q, k=7))


WORDS = ("def", "return", "import", "class", "self", "func", "try",
         "catch", "await", "tok50", "tok51", "tok7", "zzznotaterm")


def _mixed_queries(n: int) -> list:
    rng = random.Random(7)
    out = []
    for i in range(n):
        a, b, c = (_t(w) for w in rng.sample(WORDS, 3))
        out.append((Or(a, b), And(a, b), Or(a, b, c),
                    And(Or(a, b), c))[i % 4])
    return out


@pytest.mark.parametrize("max_terms", [65536, 1])
def test_concurrent_callers_match_sequential(idx, max_terms):
    """One searcher shared by 8 threads answers every query exactly as
    a searcher called sequentially does, with no exception — also when
    the cap forces an eviction on nearly every call."""
    queries = _mixed_queries(400)
    seq = LocalSearcher(idx, max_terms=max_terms)
    want = [_hits(seq.search(q, k=8)) for q in queries]
    shared = LocalSearcher(idx, max_terms=max_terms)
    got: list = [None] * len(queries)
    errors: list = []

    def worker(w: int) -> None:
        try:
            for i in range(w, len(queries), 8):
                got[i] = _hits(shared.search(queries[i], k=8))
        except Exception as exc:  # recorded, asserted empty below
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(8)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert got == want  # bitwise, every answer
    assert any(want)


def _hits(pdf) -> list:
    return list(zip(pdf["doc_id"].tolist(), pdf["score"].tolist()))


def test_search_many_identity(eng, ls):
    qs = {"a": Or(_t("def"), _t("return")), "b": And(_t("def"), _t("import"))}
    got = ls.search_many(qs, k=6)
    for qid, q in qs.items():
        part = got[got["qid"] == qid]
        _assert_same(eng.search(q, k=6),
                     part.drop(columns="qid").reset_index(drop=True))


def test_search_many_errors_match(eng, ls):
    """An invalid batch raises the same prefixed message on both tiers,
    and a misspelled keyword is a TypeError, not a silent no-op."""
    ok = Or(_t("def"), _t("return"))
    bad_batches = [
        ({"a": ok, "b": And(_t("def"), _t("return"))},
         {"min_should_match": {"b": 2}}),
        ({"a": ok, "b": ok}, {"boosts": {"b": {"content\x01def": -1.0}}}),
    ]
    for qs, kw in bad_batches:
        with pytest.raises(ValueError) as spark_err:
            eng.search_many(qs, k=5, **kw)
        with pytest.raises(ValueError) as local_err:
            ls.search_many(qs, k=5, **kw)
        assert str(local_err.value) == str(spark_err.value)
        assert str(local_err.value).startswith("queries['b']: ")
    with pytest.raises(TypeError):
        ls.search_many({"a": ok}, k=5, exclude={"a": Or(_t("import"))})


@pytest.fixture(scope="module")
def idx_small_blocks(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("local_b4") / "idx")
    build_index(spark, spark.createDataFrame(corpus_pdf(300)), out,
                IndexConfig(seg_docs=100, block_size=4), resume=False)
    return out


@pytest.mark.parametrize("mode", ["wand", "conj"])
def test_warm_pruned_query_decodes_nothing(spark, idx_small_blocks,
                                           monkeypatch, mode):
    """WAND and conj score the resident decoded runs: a warm repeat
    decodes no run. Blocks of 4 postings give every run many blocks, so
    a scorer decoding its own blocks per call would show here."""
    q = (Or if mode == "wand" else And)(_t("def"), _t("return"))
    ls = LocalSearcher(idx_small_blocks)
    cold = ls.search(q, k=1000, mode=mode)
    calls = []
    decode_all = EncodedPostings.decode_all
    monkeypatch.setattr(EncodedPostings, "decode_all",
                        lambda self: calls.append(1) or decode_all(self))
    warm = ls.search(q, k=1000, mode=mode)
    assert calls == []
    assert len(warm) and cold.equals(warm)
    monkeypatch.undo()
    _assert_same(SearchEngine(spark, idx_small_blocks).search(
        q, k=1000, mode=mode), warm)


def test_lookup_and_hydrate(eng, ls):
    ids = [0, 5, 42, 10_000_000]  # last one absent
    want = {(r["doc_id"], r["content"]) for r in
            eng.lookup(ids).select("doc_id", "content").collect()}
    got_pdf = ls.lookup(ids)
    assert {(int(r.doc_id), r.content)
            for r in got_pdf.itertuples()} == want
    hits = ls.search(Or(_t("def")), k=3)
    hyd = ls.hydrate(hits, cols=("content",))
    assert list(hyd["doc_id"]) == list(hits["doc_id"])  # order preserved
    assert hyd["content"].notna().all()


def test_legacy_unbucketed_layout(spark, idx, tmp_path):
    """The unbucketed (pre-v5) layout is gone: a config without term
    buckets is rejected, and both readers refuse an index whose
    stats.json lacks ``term_buckets >= 2`` with the same error."""
    import json

    for nb in (0, 1):
        with pytest.raises(ValueError, match="term_buckets"):
            IndexConfig(seg_docs=100, term_buckets=nb)
    out = str(tmp_path / "idx_v4")
    shutil.copytree(idx, out)
    with open(out + "/stats.json") as fh:
        stats = json.load(fh)
    for legacy in ({k: v for k, v in stats.items() if k != "term_buckets"},
                   {**stats, "term_buckets": 0}):
        with open(out + "/stats.json", "w") as fh:
            json.dump(legacy, fh)
        errors = []
        for open_index in (lambda: SearchEngine(spark, out),
                           lambda: LocalSearcher(out)):
            with pytest.raises(ValueError, match="rebuild this index") as e:
                open_index()
            errors.append(str(e.value))
        assert errors[0] == errors[1]


def test_stale_after_maintenance(spark, tmp_path):
    from quicker_spark.operators.maintain import delete_docs

    out = str(tmp_path / "idx_stale")
    build_index(spark, spark.createDataFrame(corpus_pdf(200)), out,
                IndexConfig(seg_docs=100), resume=False)
    ls = LocalSearcher(out)
    assert len(ls.search(Or(_t("def")), k=3))
    delete_docs(spark, out, [0, 1])
    with pytest.raises(StaleIndexError):
        ls.search(Or(_t("def")), k=3)
    # the term-dictionary verbs read term_stats/, which maintenance swaps:
    # they must refuse the old generation too, not hit a missing file
    for verb, args in (("expand_prefix", ("content", "de")),
                       ("expand_regexp", ("content", "de.")),
                       ("expand_fuzzy", ("content", "def")),
                       ("suggest", ("content", "deff"))):
        with pytest.raises(StaleIndexError):
            getattr(ls, verb)(*args)
    # a fresh open serves the new generation
    fresh = LocalSearcher(out)
    assert 0 not in set(fresh.search(Or(_t("def")), k=50)["doc_id"])


def test_engine_stale_after_maintenance(spark, tmp_path):
    """A SearchEngine opened before maintenance refuses the replaced
    generation with StaleIndexError (not a missing-file error from its
    old listings); a fresh engine serves the new one."""
    from quicker_spark.operators.maintain import delete_docs

    out = str(tmp_path / "idx_stale_engine")
    build_index(spark, spark.createDataFrame(corpus_pdf(200)), out,
                IndexConfig(seg_docs=100), resume=False)
    eng = SearchEngine(spark, out)
    assert eng.search(Or(_t("def")), k=3).collect()
    delete_docs(spark, out, [0, 1])
    for call in (lambda: eng.search(Or(_t("def")), k=3).collect(),
                 lambda: eng.search_many({"a": Or(_t("def"))}).collect(),
                 lambda: eng.expand_prefix("content", "de")):
        with pytest.raises(StaleIndexError):
            call()
    fresh = SearchEngine(spark, out)
    got = {r["doc_id"] for r in fresh.search(Or(_t("def")), k=50).collect()}
    assert got and not got & {0, 1}
    _assert_same(fresh.search(Or(_t("def")), k=50),
                 LocalSearcher(out).search(Or(_t("def")), k=50))


# -- term-dictionary expansion + query strings on the local tier --------------

def test_local_expansions_equal_engine(eng, ls):
    for args in (("expand_prefix", ("content", "tok5"), {}),
                 ("expand_prefix", ("content", "tok"),
                  {"max_expansions": 7}),
                 ("expand_regexp", ("content", "tok5[0-9]"), {}),
                 ("expand_regexp", ("content", "t.k5."),
                  {"max_expansions": 5}),
                 ("expand_fuzzy", ("content", "tok50"),
                  {"max_edits": 1, "prefix_len": 3}),
                 ("expand_fuzzy", ("content", "tok50"),
                  {"max_edits": 2, "prefix_len": 1,
                   "max_expansions": 9})):
        name, a, kw = args
        assert getattr(ls, name)(*a, **kw) == \
            getattr(eng, name)(*a, **kw), args


def test_search_string_local_equals_spark(eng, ls):
    from quicker_spark.plans.qparse import search_string

    for qs in ("def return", "+tok50 def", "def -tok50",
               "tok5* AND def", "tok50~1", "def^2.5 tok50"):
        spark_hits = [(r["doc_id"], r["score"]) for r in
                      search_string(eng, qs, k=10,
                                    max_expansions=64).collect()]
        local = search_string(ls, qs, k=10, max_expansions=64)
        local_hits = list(zip(local["doc_id"].tolist(),
                              local["score"].tolist()))
        assert local_hits == spark_hits, qs   # bitwise, not approx


def test_phrase_identity(eng, ls):
    # whole-query phrase: local sidecar serving == Spark sidecar path
    for gap in (0, 3):
        want = [(r["doc_id"], r["score"]) for r in
                eng.search_phrase(["def", "tok50"], k=8, gap=gap).collect()]
        got_pdf = ls.search_phrase(["def", "tok50"], k=8, gap=gap)
        got = list(zip(got_pdf["doc_id"].tolist(),
                       got_pdf["score"].tolist()))
        assert got == want and (got or gap == 0)


def test_phrase_clause_identity(eng, ls):
    # phrase as one clause of a boolean — pseudo-leaf path, both tiers
    from quicker_spark.engine import PhraseSpec
    from quicker_spark.plans.term_query import TermQuery

    P = TermQuery(keyword="\x02p0")
    spec = (PhraseSpec("\x02p0", "content", ("def", "tok50"), 3, True),)
    tree = And(P, Or(_t("return"), P))
    _assert_same(eng.search(tree, k=8, phrases=spec),
                 ls.search(tree, k=8, phrases=spec))


def test_search_string_phrase_local_identity(eng, ls):
    from quicker_spark.plans.qparse import search_string

    for qs in ('"def tok50"~3', '+"def tok50"~3 return',
               'def -"def tok50"'):
        want = [(r["doc_id"], r["score"]) for r in
                search_string(eng, qs, k=8).collect()]
        got_pdf = search_string(ls, qs, k=8)
        got = list(zip(got_pdf["doc_id"].tolist(),
                       got_pdf["score"].tolist()))
        assert got == want and got


def _rows(hits):
    """(doc_id, score) list from either tier's hits frame."""
    if hasattr(hits, "collect"):
        return [(r["doc_id"], r["score"]) for r in hits.collect()]
    return list(zip(hits["doc_id"].tolist(), hits["score"].tolist()))


def _lone_phrase(searcher, **kw):
    """The hand-built request a lone '"def tok50"~4' compiles to."""
    from quicker_spark.engine import PhraseSpec
    from quicker_spark.plans.term_query import TermQuery

    P = TermQuery(keyword="\x02p0")
    spec = (PhraseSpec("\x02p0", "content", ("def", "tok50"), 4, True),)
    return _rows(searcher.search(P, phrases=spec, **kw))


@pytest.mark.parametrize("tier", ["spark", "local"])
def test_search_string_lone_phrase_keeps_boost(eng, ls, tier):
    from quicker_spark.plans.qparse import search_string

    s = eng if tier == "spark" else ls
    got = _rows(search_string(s, '"def tok50"~4^3', k=8))
    boosted = _lone_phrase(s, k=8, boosts={"content\x01def": 3.0,
                                           "content\x01tok50": 3.0})
    assert got == boosted and got != _lone_phrase(s, k=8)


@pytest.mark.parametrize("tier", ["spark", "local"])
def test_search_string_lone_phrase_keeps_kwargs(eng, ls, tier):
    # after=, exclude= and min_should_match= reach a lone phrase the way
    # they reach any other query string: applied, or refused loudly
    from quicker_spark.plans.qparse import search_string

    s = eng if tier == "spark" else ls
    qs = '"def tok50"~4'
    full = _rows(search_string(s, qs, k=50))
    assert len(full) > 3 and full == _lone_phrase(s, k=50)
    d, sc = full[2]
    assert _rows(search_string(s, qs, k=50, after=(sc, d))) == full[3:]
    # a string states its own exclusions ('-word'); a second exclude
    # tree is refused for every string, the lone phrase included
    for q in (qs, "def"):
        with pytest.raises(TypeError, match="exclude"):
            search_string(s, q, k=5, exclude=_t("tok5"))
    got = _rows(search_string(s, qs + " -tok5", k=50))
    assert got == _lone_phrase(s, k=50, exclude=_t("tok5"))
    assert 0 < len(got) < len(full)
    with pytest.raises(ValueError, match="flat OR"):
        search_string(s, qs, k=5, min_should_match=2)


def test_suggest_identity(eng, ls):
    for w, me in (("tok5", 2), ("def", 1), ("zzzz", 1)):
        want = [(r["word"], r["distance"], r["df"]) for r in
                eng.suggest("content", w, max_edits=me, n=5).collect()]
        got_pdf = ls.suggest("content", w, max_edits=me, n=5)
        got = list(zip(got_pdf["word"], got_pdf["distance"].tolist(),
                       got_pdf["df"].tolist()))
        assert got == want
