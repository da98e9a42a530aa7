"""Property-based equivalence: pruned scorers == exhaustive scorer.

The seeded randomized tests (test_kernels.py) sample realistic segments;
these hypothesis properties hunt the ADVERSARIAL corner shapes instead —
single-doc postings, block_size 1, k past the match count, extreme
avgdl drift in both directions, all-tied scores, hostile bit-flag
combinations — and shrink any failure to a minimal counterexample. The
invariant under test is the engine's core lossless-pruning claim
(SURVEY.md §4): WAND and the conjunctive scorer must return bit-identical
ids and scores to the exhaustive evaluation for every input, never
just for likely ones.

The exhaustive scorer itself is checked against a per-doc pure-Python
scorer over the whole TAAT contract: nested must/should/must_not trees,
exclude, exclude-only terms, minimum_should_match, demotion, paging
cursors, bit flags and phrase pseudo-leaves, at arbitrary id offsets.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from quicker_spark.functions.kernels import (
    encode_postings,
    score_segment_conjunctive,
    score_segment_exhaustive,
    score_segment_wand,
)
from quicker_spark.model import B, K1, bm25_idf, filter_by_bits

N_DOCS = 40


@st.composite
def segments(draw):
    """(postings, decoded, idf, avgdl_query) for 1-4 terms over <=40 docs,
    encoded at a drifted avgdl and rebound to the query avgdl."""
    n_terms = draw(st.integers(1, 4))
    avgdl_query = draw(st.floats(5.0, 200.0))
    drift = draw(st.floats(0.4, 2.5))
    block_size = draw(st.sampled_from([1, 2, 4, 16]))
    tie_heavy = draw(st.booleans())
    postings, decoded, idf = {}, {}, {}
    for t in range(n_terms):
        term = f"content\x01t{t}"
        id_set = draw(st.sets(st.integers(0, N_DOCS - 1), min_size=1,
                              max_size=N_DOCS))
        ids = np.array(sorted(id_set), dtype=np.int64)
        df = len(ids)
        if tie_heavy:
            tfs = np.ones(df, dtype=np.int64)
            dls = np.full(df, 20, dtype=np.int64)
        else:
            tfs = np.array(draw(st.lists(st.integers(1, 9), min_size=df,
                                         max_size=df)), dtype=np.int64)
            dls = np.array(draw(st.lists(st.integers(1, 60), min_size=df,
                                         max_size=df)), dtype=np.int64)
        bits = np.array(draw(st.lists(st.integers(0, 3), min_size=df,
                                      max_size=df)), dtype=np.int64)
        postings[term] = encode_postings(
            ids, tfs, dls, bits, avgdl_query * drift,
            block_size=block_size).with_bounds(avgdl_query)
        decoded[term] = (ids, tfs, dls, bits)
        idf[term] = bm25_idf(N_DOCS, df)
    return postings, decoded, idf, avgdl_query


FLAGS = st.sampled_from([
    (0, 0, ()), (1, 0, ()), (0, 2, ()), (0, 0, (1, 2)), (1, 2, ()),
    (3, 0, ()), (0, 0, (3,)),
])


@settings(max_examples=60, deadline=None)
@given(seg=segments(), k=st.integers(1, 50), flags=FLAGS)
def test_wand_equals_exhaustive(seg, k, flags):
    postings, decoded, idf, avgdl = seg
    on, off, orf = flags
    query = {"should": [
        {"keyword": {"field": "content", "word": t.split("\x01")[1]}}
        for t in decoded]}
    e_ids, e_scores = score_segment_exhaustive(
        query, decoded, idf, avgdl, k, on=on, off=off, or_flags=orf)
    w_ids, w_scores = score_segment_wand(
        decoded, postings, idf, avgdl, k, on=on, off=off, or_flags=orf)
    np.testing.assert_array_equal(w_ids, e_ids)
    np.testing.assert_array_equal(w_scores, e_scores)


@settings(max_examples=60, deadline=None)
@given(seg=segments(), k=st.integers(1, 50), flags=FLAGS)
def test_conjunctive_equals_exhaustive(seg, k, flags):
    postings, decoded, idf, avgdl = seg
    on, off, orf = flags
    query = {"must": [
        {"keyword": {"field": "content", "word": t.split("\x01")[1]}}
        for t in decoded]}
    e_ids, e_scores = score_segment_exhaustive(
        query, decoded, idf, avgdl, k, on=on, off=off, or_flags=orf)
    c_ids, c_scores = score_segment_conjunctive(
        decoded, postings, idf, avgdl, k, on=on, off=off, or_flags=orf)
    np.testing.assert_array_equal(c_ids, e_ids)
    np.testing.assert_array_equal(c_scores, e_scores)


# -- the full TAAT contract against a per-doc scorer -------------------------

LEAF_KEYS = ["content\x01t0", "content\x01t1", "content\x01t2",
             "content\x01t3", "\x02p0"]


def _leaf(key):
    if key.startswith("\x02"):
        return {"keyword": {"field": key}}
    f, w = key.split("\x01")
    return {"keyword": {"field": f, "word": w}}


def _trees(depth):
    leaf = st.sampled_from(LEAF_KEYS).map(_leaf)
    if depth == 0:
        return leaf
    sub = _trees(depth - 1)
    node = st.builds(
        lambda kind, kids, negs: ({kind: kids, "must_not": negs} if negs
                                  else {kind: kids}),
        st.sampled_from(["must", "should"]), st.lists(sub, max_size=3),
        st.lists(sub, max_size=2))
    return st.one_of(leaf, node)


def _matches(node, d, leaves) -> bool:
    if "keyword" in node:
        kw = node["keyword"]
        f = kw["field"]
        key = f if f.startswith("\x02") else f"{f}\x01{kw['word']}"
        return d in leaves.get(key, ())
    kids = node["must"] if "must" in node else node.get("should", [])
    if not kids:
        return False
    hit = (all if "must" in node else any)(_matches(c, d, leaves)
                                           for c in kids)
    return hit and not any(_matches(c, d, leaves)
                           for c in node.get("must_not", []))


def _per_doc_ranking(query, runs, idf, avgdl, on, off, orf, exclude,
                     exclude_only, min_match, extra, demote, factor):
    """Every match of ``query`` as (score, doc_id), ranked (score desc,
    doc_id asc), one doc at a time in plain Python floats."""
    post = {t: {int(d): (int(tf), int(dl))
                for d, tf, dl, bt in zip(*run)
                if filter_by_bits(int(bt), on, off, orf)}
            for t, run in runs.items()}
    leaves = {t: set(p) for t, p in post.items()}
    leaves.update((key, {int(d) for d in ids}) for key, ids in extra.items())
    scored = sorted(t for t in post if t not in exclude_only)
    out = []
    for d in sorted(set().union(*leaves.values())):
        if not _matches(query, d, leaves):
            continue
        if exclude is not None and _matches(exclude, d, leaves):
            continue
        if min_match > 1 and sum(d in post[t] for t in scored) < min_match:
            continue
        s = 0.0
        for t in scored:
            if d in post[t]:
                tf, dl = post[t][d]
                s += idf[t] * ((tf * (K1 + 1.0))
                               / (tf + K1 * (1.0 - B + B * dl / avgdl)))
        if demote is not None and _matches(demote, d, leaves):
            s = s * factor
        out.append((s, d))
    out.sort(key=lambda h: (-h[0], h[1]))
    return out


@st.composite
def taat_cases(draw):
    """Structure (window, present terms, trees, options) from hypothesis;
    posting values from a drawn seed, dense enough that docs routinely
    match >= 3 terms, whose float sums depend on the summation order."""
    base = draw(st.integers(0, 10**6))
    width = draw(st.integers(1, N_DOCS))
    density = draw(st.sampled_from([0.1, 0.5, 0.9]))
    tie_heavy = draw(st.booleans())
    rng = np.random.RandomState(draw(st.integers(0, 2**32 - 1)))

    def id_set():
        hit = rng.random_sample(width) < density
        return np.flatnonzero(hit).astype(np.int64) + base

    runs, idf = {}, {}
    for key in LEAF_KEYS[:4]:
        if runs and draw(st.integers(0, 3)) == 0:
            continue  # this term has no run in the segment
        ids = id_set()
        df = len(ids)
        tfs = np.ones(df) if tie_heavy else rng.randint(1, 10, df)
        dls = np.full(df, 20) if tie_heavy else rng.randint(1, 61, df)
        runs[key] = (ids, tfs.astype(np.int64), dls.astype(np.int64),
                     rng.randint(0, 4, df).astype(np.int64))
        idf[key] = bm25_idf(N_DOCS, max(df, 1)) * rng.uniform(0.5, 4.0)
    extra = {"\x02p0": id_set()} if draw(st.booleans()) else {}
    maybe_tree = st.one_of(st.none(), _trees(2))
    return dict(
        runs=runs, idf=idf, extra=extra, query=draw(_trees(3)),
        exclude=draw(maybe_tree), demote=draw(maybe_tree),
        exclude_only=frozenset(draw(st.sets(st.sampled_from(list(runs))))),
        min_match=draw(st.integers(0, 3)),
        factor=draw(st.sampled_from([0.5, 0.0, 1.0, 0.3])),
        avgdl=draw(st.floats(5.0, 200.0)), k=draw(st.integers(1, 50)),
        flags=draw(FLAGS), cached_u=draw(st.booleans()),
        cursor=draw(st.one_of(st.none(), st.integers(0, 10**6))))


@settings(max_examples=300, deadline=None)
@given(case=taat_cases())
def test_exhaustive_equals_per_doc_scorer(case):
    c = case
    on, off, orf = c["flags"]
    ranked = _per_doc_ranking(
        c["query"], c["runs"], c["idf"], c["avgdl"], on, off, orf,
        c["exclude"], c["exclude_only"], c["min_match"], c["extra"],
        c["demote"], c["factor"])
    after = None
    if c["cursor"] is not None and ranked:
        after = ranked[c["cursor"] % len(ranked)]
        cs, cd = after
        ranked = [(s, d) for s, d in ranked if s < cs or (s == cs and d > cd)]
    runs = c["runs"]
    if c["cached_u"]:  # resident runs carry u computed once at this avgdl
        from quicker_spark.functions.kernels import bm25_u
        runs = {t: (*r, bm25_u(r[1], r[2], c["avgdl"]))
                for t, r in runs.items()}
    ids, scores = score_segment_exhaustive(
        c["query"], runs, c["idf"], c["avgdl"], c["k"], on=on, off=off,
        or_flags=orf, after=after, exclude=c["exclude"],
        exclude_only=c["exclude_only"], min_match=c["min_match"],
        extra_leaf_ids=c["extra"] or None, demote=c["demote"],
        demote_factor=c["factor"])
    want = ranked[:c["k"]]
    assert ids.dtype == np.int64 and scores.dtype == np.float64
    assert ids.tolist() == [d for _, d in want]
    # bitwise: same products added in the same order from 0.0
    np.testing.assert_array_equal(
        scores.view(np.int64),
        np.array([s for s, _ in want], dtype=np.float64).view(np.int64))
