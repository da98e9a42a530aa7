"""Posting-kernel tests: block layout round-trip, exhaustive scorer vs the
Python oracle math, and block-max WAND vs exhaustive (lossless pruning,
including adversarial ties — SURVEY.md §7 hard part (d))."""

import numpy as np
import pytest

from quicker_spark.functions.kernels import (
    EncodedPostings,
    bm25_u,
    encode_postings,
    eval_bool_tree,
    filter_by_bits_vec,
    score_segment_exhaustive,
    score_segment_wand,
)
from quicker_spark.model import bm25_idf


def _mk(ids, tfs=None, dls=None, bits=None, avgdl=100.0, block=4):
    ids = np.asarray(ids, dtype=np.int64)
    n = len(ids)
    tfs = np.asarray(tfs if tfs is not None else np.ones(n), dtype=np.int64)
    dls = np.asarray(dls if dls is not None else np.full(n, 100), dtype=np.int64)
    bits = np.asarray(bits if bits is not None else np.zeros(n), dtype=np.int64)
    return encode_postings(ids, tfs, dls, bits, avgdl,
                           block_size=block).with_bounds(avgdl)


def test_encode_decode_roundtrip_blocks():
    rng = np.random.RandomState(7)
    ids = np.unique(rng.randint(0, 10**7, 1000)).astype(np.int64)
    n = len(ids)
    tfs = rng.randint(1, 50, n)
    dls = rng.randint(30, 300, n)
    bits = rng.randint(0, 64, n)
    enc = encode_postings(ids, tfs, dls, bits, 150.0,
                          block_size=128).with_bounds(150.0)
    rids, rtfs, rdls, rbits = enc.decode_all()
    np.testing.assert_array_equal(rids, ids)
    np.testing.assert_array_equal(rtfs, tfs)
    np.testing.assert_array_equal(rdls, dls)
    np.testing.assert_array_equal(rbits, bits)
    # each block's skip pointer is the last id of its decode_all slice
    for blk in range(enc.n_blocks):
        e = min((blk + 1) * 128, n)
        assert enc.block_last[blk] == rids[e - 1]
    # query-time-derived block maxima are admissible upper bounds, and
    # stay admissible when avgdl drifts (delete/upsert shifting stats)
    for avgdl in (150.0, 80.0, 411.5, 149.999, 150.001):
        enc.with_bounds(avgdl)
        u = bm25_u(tfs, dls, avgdl)
        for blk in range(enc.n_blocks):
            s, e = blk * 128, min((blk + 1) * 128, n)
            assert enc.block_max_u[blk] >= u[s:e].max()
    # tightness: at the reference avgdl the bound IS the true block max
    # (nextafter'd), and under small drift it stays within 1% of it
    enc.with_bounds(150.0)
    u = bm25_u(tfs, dls, 150.0)
    for blk in range(enc.n_blocks):
        s, e = blk * 128, min((blk + 1) * 128, n)
        assert enc.block_max_u[blk] <= np.nextafter(u[s:e].max(), np.inf)
    enc.with_bounds(151.0)
    u = bm25_u(tfs, dls, 151.0)
    for blk in range(enc.n_blocks):
        s, e = blk * 128, min((blk + 1) * 128, n)
        assert enc.block_max_u[blk] <= u[s:e].max() * 1.01


def test_set_op_kernels_reference_fixtures():
    """The reference's IntersectionOfSkipList / UnionOfSkipList fixtures
    (skiplist_reverse_index.go:77-156), through the tree evaluator."""
    l1 = np.array([1, 4, 5, 7, 9, 11], dtype=np.int64)
    l2 = np.array([2, 4, 5, 8, 9], dtype=np.int64)
    l3 = np.array([3, 5, 7, 9], dtype=np.int64)
    leaf = {"\x01l1": l1, "\x01l2": l2, "\x01l3": l3,
            "\x01empty": np.empty(0, dtype=np.int64)}

    def kw(*names):
        return [{"keyword": {"field": "", "word": w}} for w in names]

    np.testing.assert_array_equal(
        eval_bool_tree({"must": kw("l1", "l2")}, leaf), [4, 5, 9])
    np.testing.assert_array_equal(
        eval_bool_tree({"must": kw("l1", "l2", "l3")}, leaf), [5, 9])
    np.testing.assert_array_equal(
        eval_bool_tree({"should": kw("l1", "l2", "l3")}, leaf),
        [1, 2, 3, 4, 5, 7, 8, 9, 11])
    # 0 lists -> empty, 1 list -> itself, an empty list empties the AND
    assert eval_bool_tree({"must": []}, leaf).size == 0
    assert eval_bool_tree({"should": []}, leaf).size == 0
    np.testing.assert_array_equal(eval_bool_tree({"must": kw("l1")}, leaf), l1)
    assert eval_bool_tree({"must": kw("l1", "empty", "l2")}, leaf).size == 0
    assert eval_bool_tree({"must": kw("l1", "absent")}, leaf).size == 0
    out = eval_bool_tree({"must": kw("l1", "l2")}, leaf)
    assert out.dtype == np.int64


def test_eval_bool_tree_nested():
    leaf = {
        "content\x01a": np.array([1, 2, 3, 4], dtype=np.int64),
        "content\x01b": np.array([2, 4, 6], dtype=np.int64),
        "content\x01c": np.array([9], dtype=np.int64),
    }
    q = {"should": [
        {"must": [{"keyword": {"field": "content", "word": "a"}},
                  {"keyword": {"field": "content", "word": "b"}}]},
        {"keyword": {"field": "content", "word": "c"}},
    ]}
    np.testing.assert_array_equal(eval_bool_tree(q, leaf), [2, 4, 9])


def _random_segment(rng, n_docs=2000, n_terms=5, avgdl=100.0, tie_heavy=False):
    """Random per-term postings + matching exhaustive inputs."""
    postings = {}
    decoded = {}
    idf = {}
    for t in range(n_terms):
        term = f"content\x01t{t}"
        df = rng.randint(1, n_docs)
        ids = np.sort(rng.choice(n_docs, df, replace=False)).astype(np.int64)
        if tie_heavy:
            tfs = np.ones(df, dtype=np.int64)
            dls = np.full(df, 100, dtype=np.int64)
        else:
            tfs = rng.randint(1, 20, df).astype(np.int64)
            dls = rng.randint(30, 300, df).astype(np.int64)
        bits = rng.randint(0, 4, df).astype(np.int64)
        # encode at a DIFFERENT avgdl_ref than the query avgdl so every
        # WAND/conj test also exercises the drift-corrected bound path
        postings[term] = encode_postings(
            ids, tfs, dls, bits, avgdl * 1.17,
            block_size=rng.choice([4, 16, 128])).with_bounds(avgdl)
        decoded[term] = (ids, tfs, dls, bits)
        idf[term] = bm25_idf(n_docs, df)
    return postings, decoded, idf


@pytest.mark.parametrize("seed", range(8))
@pytest.mark.parametrize("tie_heavy", [False, True])
def test_wand_matches_exhaustive(seed, tie_heavy):
    rng = np.random.RandomState(seed)
    postings, decoded, idf = _random_segment(rng, tie_heavy=tie_heavy)
    avgdl = 100.0
    k = rng.choice([1, 5, 10, 50])
    query = {"should": [{"keyword": {"field": "content", "word": t.split("\x01")[1]}}
                        for t in decoded]}
    e_ids, e_scores = score_segment_exhaustive(query, decoded, idf, avgdl, int(k))
    w_ids, w_scores = score_segment_wand(decoded, postings, idf, avgdl,
                                         int(k))
    np.testing.assert_array_equal(w_ids, e_ids)
    np.testing.assert_array_equal(w_scores, e_scores)


@pytest.mark.parametrize("seed", range(4))
def test_wand_matches_exhaustive_with_flags(seed):
    rng = np.random.RandomState(100 + seed)
    postings, decoded, idf = _random_segment(rng)
    query = {"should": [{"keyword": {"field": "content", "word": t.split("\x01")[1]}}
                        for t in decoded]}
    for on, off, orf in [(1, 0, ()), (0, 2, ()), (0, 0, (1, 2)), (1, 2, ())]:
        e_ids, e_scores = score_segment_exhaustive(
            query, decoded, idf, 100.0, 10, on=on, off=off, or_flags=orf)
        w_ids, w_scores = score_segment_wand(
            decoded, postings, idf, 100.0, 10, on=on, off=off, or_flags=orf)
        np.testing.assert_array_equal(w_ids, e_ids)
        np.testing.assert_array_equal(w_scores, e_scores)


def test_wand_interval_edges():
    """Adversarial inputs for the interval walk: doc ids landing exactly
    on shared block boundaries, a 1-posting term whose single block spans
    the whole range, and k exceeding the candidate count."""
    avgdl = 100.0
    cases = []
    # ids exactly at multiples of the block size; two terms share
    # boundaries, one term has a single posting mid-range
    a = np.arange(0, 64, 4, dtype=np.int64)          # 16 ids, blocks of 4
    b = np.arange(0, 64, 8, dtype=np.int64)
    c = np.array([33], dtype=np.int64)
    for term, ids in (("\x01a", a), ("\x01b", b), ("\x01c", c)):
        tfs = (ids % 7 + 1).astype(np.int64)
        dls = (ids % 50 + 30).astype(np.int64)
        bits = np.zeros(len(ids), dtype=np.int64)
        cases.append((term, ids, tfs, dls, bits))
    postings = {t: encode_postings(i, tf, dl, bt, avgdl * 0.8, block_size=4)
                .with_bounds(avgdl)
                for t, i, tf, dl, bt in cases}
    decoded = {t: (i, tf, dl, bt) for t, i, tf, dl, bt in cases}
    idf = {t: bm25_idf(100, len(i)) for t, i, _tf, _dl, _bt in cases}
    q_or = {"should": [{"keyword": {"field": "", "word": t[1:]}}
                       for t in postings]}
    q_and = {"must": [{"keyword": {"field": "", "word": t[1:]}}
                      for t in postings]}
    for k in (1, 3, 10, 1000):  # 1000 >> candidate count
        e = score_segment_exhaustive(q_or, decoded, idf, avgdl, k)
        w = score_segment_wand(decoded, postings, idf, avgdl, k)
        np.testing.assert_array_equal(w[0], e[0])
        np.testing.assert_array_equal(w[1], e[1])
        from quicker_spark.functions.kernels import score_segment_conjunctive
        ea = score_segment_exhaustive(q_and, decoded, idf, avgdl, k)
        ca = score_segment_conjunctive(decoded, postings, idf, avgdl, k)
        np.testing.assert_array_equal(ca[0], ea[0])
        np.testing.assert_array_equal(ca[1], ea[1])


@pytest.mark.parametrize("seed", range(3))
def test_wand_many_terms_many_intervals(seed):
    """Stress the interval machinery: 12 terms, block_size 4 -> hundreds
    of interleaved boundaries, with bit filters and avgdl drift."""
    rng = np.random.RandomState(500 + seed)
    postings, decoded, idf = _random_segment(rng, n_docs=800, n_terms=12)
    query = {"should": [{"keyword": {"field": "content",
                                     "word": t.split("\x01")[1]}}
                        for t in decoded]}
    e = score_segment_exhaustive(query, decoded, idf, 100.0, 20,
                                 on=1, or_flags=(2,))
    w = score_segment_wand(decoded, postings, idf, 100.0, 20,
                           on=1, or_flags=(2,))
    np.testing.assert_array_equal(w[0], e[0])
    np.testing.assert_array_equal(w[1], e[1])


def test_exhaustive_must_semantics():
    rng = np.random.RandomState(3)
    _, decoded, idf = _random_segment(rng, n_terms=3)
    terms = list(decoded)
    q_and = {"must": [{"keyword": {"field": "content", "word": t.split("\x01")[1]}}
                      for t in terms]}
    ids, scores = score_segment_exhaustive(q_and, decoded, idf, 100.0, 10**9)
    expect = decoded[terms[0]][0]
    for t in terms[1:]:
        expect = np.intersect1d(expect, decoded[t][0])
    np.testing.assert_array_equal(np.sort(ids), expect)


def test_filter_by_bits_vec_matches_scalar():
    from quicker_spark.model import filter_by_bits

    rng = np.random.RandomState(0)
    bits = rng.randint(0, 64, 500)
    for on, off, orf in [(0, 0, ()), (3, 0, ()), (0, 5, ()), (1, 2, (8, 16)),
                         (0, 0, (0,)), (1, 0, (0, 8))]:
        vec = filter_by_bits_vec(bits, on, off, orf)
        ref = np.array([filter_by_bits(int(x), on, off, orf) for x in bits])
        np.testing.assert_array_equal(vec, ref)


def test_zero_or_flag_is_noop():
    """Reference semantics: an orFlag of 0 is SKIPPED, never a
    reject-everything predicate (skiplist_reverse_index.go:165-169 guards
    ``orFlag > 0``). All three predicate sites must agree: scalar, vector,
    and the inline WAND check."""
    from quicker_spark.model import filter_by_bits

    bits = np.array([0, 1, 2, 3, 7], dtype=np.int64)
    # (0,) must behave exactly like ()
    np.testing.assert_array_equal(
        filter_by_bits_vec(bits, 0, 0, (0,)), np.ones(5, dtype=bool))
    np.testing.assert_array_equal(
        filter_by_bits_vec(bits, 0, 0, (0, 1)),
        filter_by_bits_vec(bits, 0, 0, (1,)))
    assert filter_by_bits(5, 0, 0, (0,)) is True
    assert filter_by_bits(5, 1, 0, (0, 4)) is True
    assert filter_by_bits(5, 0, 0, (0, 2)) is False

    # WAND path: or_flags=(0,) must score identically to or_flags=()
    rng = np.random.RandomState(42)
    postings, decoded, idf = _random_segment(rng)
    base_ids, base_scores = score_segment_wand(decoded, postings, idf,
                                               100.0, 10)
    z_ids, z_scores = score_segment_wand(
        decoded, postings, idf, 100.0, 10, or_flags=(0,))
    np.testing.assert_array_equal(z_ids, base_ids)
    np.testing.assert_array_equal(z_scores, base_scores)


@pytest.mark.parametrize("seed", range(8))
@pytest.mark.parametrize("tie_heavy", [False, True])
def test_conjunctive_matches_exhaustive(seed, tie_heavy):
    """The pruned AND scorer is lossless vs exhaustive TAAT on the same
    must-query, including adversarial all-equal-score ties."""
    from quicker_spark.functions.kernels import score_segment_conjunctive

    rng = np.random.RandomState(300 + seed)
    # dense lists so the intersection is non-trivially sized
    postings, decoded, idf = _random_segment(rng, n_docs=800, n_terms=3,
                                             tie_heavy=tie_heavy)
    query = {"must": [{"keyword": {"field": "content", "word": t.split("\x01")[1]}}
                      for t in decoded]}
    for k in (1, 5, 10, 50):
        e_ids, e_scores = score_segment_exhaustive(query, decoded, idf, 100.0, k)
        c_ids, c_scores = score_segment_conjunctive(decoded, postings, idf,
                                                    100.0, k)
        np.testing.assert_array_equal(c_ids, e_ids)
        np.testing.assert_array_equal(c_scores, e_scores)


@pytest.mark.parametrize("seed", range(4))
def test_conjunctive_matches_exhaustive_with_flags(seed):
    from quicker_spark.functions.kernels import score_segment_conjunctive

    rng = np.random.RandomState(400 + seed)
    postings, decoded, idf = _random_segment(rng, n_docs=600, n_terms=2)
    query = {"must": [{"keyword": {"field": "content", "word": t.split("\x01")[1]}}
                      for t in decoded]}
    for on, off, orf in [(1, 0, ()), (0, 2, ()), (0, 0, (1, 2)), (0, 0, (0,))]:
        e_ids, e_scores = score_segment_exhaustive(
            query, decoded, idf, 100.0, 10, on=on, off=off, or_flags=orf)
        c_ids, c_scores = score_segment_conjunctive(
            decoded, postings, idf, 100.0, 10, on=on, off=off, or_flags=orf)
        np.testing.assert_array_equal(c_ids, e_ids)
        np.testing.assert_array_equal(c_scores, e_scores)


def test_conjunctive_empty_on_missing_term():
    from quicker_spark.functions.kernels import score_segment_conjunctive

    rng = np.random.RandomState(9)
    postings, decoded, idf = _random_segment(rng, n_terms=2)
    t0 = next(iter(postings))
    postings["content\x01absent"] = _mk([])  # df == 0
    decoded["content\x01absent"] = _mk([]).decode_all()
    idf["content\x01absent"] = 1.0
    ids, scores = score_segment_conjunctive(decoded, postings, idf, 100.0, 10)
    assert ids.size == 0 and scores.size == 0
    assert postings[t0].df > 0  # sanity: other lists were non-empty


def test_encode_batch_matches_row_encoder():
    """encode_postings_batch must produce byte-identical layout to the
    row-at-a-time encoder for every row, including multi-block runs."""
    import numpy as np

    from quicker_spark.functions.kernels import (
        encode_postings,
        encode_postings_batch,
    )

    rng = np.random.default_rng(7)
    rows = []
    for n in [1, 2, 5, 127, 128, 129, 300, 1000]:
        ids = np.sort(rng.choice(np.arange(n * 7), size=n, replace=False))
        tfs = rng.integers(1, 50, n)
        dls = rng.integers(20, 400, n)
        bits = rng.integers(0, 1 << 11, n)
        rows.append((ids, tfs, dls, bits))
    batch = encode_postings_batch(
        [r[0] for r in rows], [r[1] for r in rows],
        [r[2] for r in rows], [r[3] for r in rows], 150.0,
        block_size=128)
    assert len(batch) == len(rows)
    for (ids, tfs, dls, bits), got in zip(rows, batch):
        e = encode_postings(ids, tfs, dls, bits, 150.0, block_size=128)
        assert got[0] == e.df
        assert got[1] == e.ids and got[2] == e.tfs
        assert got[3] == e.dls and got[4] == e.bits
        assert got[5] == list(e.block_last)
        assert got[6] == list(e.block_max_tf)
        assert got[7] == list(e.block_min_dl)
        assert got[8] == list(e.block_min_tf)
        assert got[9] == list(e.block_max_dl)
        assert got[10] == list(e.block_max_u_ref)
        assert len(got) == 11
