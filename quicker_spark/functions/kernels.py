"""Numpy posting-list kernels (no Spark imports — unit-testable).

These run on executors inside Arrow UDFs. The posting layout recreates the
reference's denormalized posting value — each entry carries its doc's
BitsFeature next to the id (reference:
internal/reverse_index/skiplist_reverse_index.go:22-25 ``SkipListValue{Id,
BitsFeature}``) — extended with tf and doc_len so BM25 is computable from
the posting run alone, with no segment-sidecar join at query time (at
10^12-doc scale a per-query join against per-segment doc tables would
shuffle far more than the postings themselves).

Layout per (segment, term): postings are split into blocks of
``block_size`` entries. Each of the four aligned streams (doc_ids, tfs,
doc_lens, bits) is varbyte-encoded in one pass; doc_ids are delta-encoded
with the delta chain RESTARTING at each block (first id of a block is
absolute). A run is always decoded whole (:meth:`EncodedPostings.
decode_all`) and every scorer reads the decoded arrays; the blocks exist
for their metadata: last doc_id (skip pointer) + max/min tf + min/max
doc_len + the tight reference bound, which block-max WAND sums to skip
doc-id intervals without scoring them.

The WAND bound is derived at QUERY time from immutable per-block stats —
segments are avgdl-independent, so a delete/upsert that shifts avgdl
never rewrites untouched waves. Two bound sources, elementwise min:

1. ``u(max_tf, min_dl, avgdl)`` — always admissible (u is monotone in tf,
   anti-monotone in dl) but LOOSE: on hot terms it over-estimates enough
   to collapse WAND pruning (measured 7x slower than exhaustive TAAT).
2. ``u_ref * max_corner_ratio`` — ``u_ref`` is the TIGHT per-block max u
   computed at the wave's build-time ``avgdl_ref``; the drift correction
   ``ratio(tf, dl) = D(tf, dl, avgdl_ref) / D(tf, dl, avgdl)`` (where
   ``u = tf(k1+1)/D``) is monotone in each argument, so its maximum over
   the block lies at a corner of [min_tf, max_tf] x [min_dl, max_dl] —
   all four corner stats are immutable.

When avgdl == avgdl_ref (any index untouched by maintenance) the bound
is exactly u_ref — identical pruning to storing the bound itself.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from quicker_spark.functions.codec import (
    delta_encode,
    varbyte_decode,
    varbyte_encode,
    varbyte_encode_with_counts,
)
from quicker_spark.model import B, K1

DEFAULT_BLOCK = 128


def bm25_u(tf: np.ndarray, dl: np.ndarray, avgdl: float,
           k1: float = K1, b: float = B) -> np.ndarray:
    """Per-posting tf/length component; score = idf * u. Fixed float64
    expression order (rank-identity across partitionings/engines)."""
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))


@dataclass
class EncodedPostings:
    """One (segment, term) posting run in its stored form."""

    df: int
    ids: bytes
    tfs: bytes
    dls: bytes
    bits: bytes
    block_last: np.ndarray    # int64[n_blocks]
    block_max_tf: np.ndarray  # int64[n_blocks], immutable bound inputs
    block_min_dl: np.ndarray
    block_min_tf: np.ndarray
    block_max_dl: np.ndarray
    block_max_u_ref: np.ndarray  # float64[n_blocks], tight max u AT avgdl_ref
    avgdl_ref: float = 0.0    # corpus avgdl when this run was encoded
    block_size: int = DEFAULT_BLOCK
    # derived at query time by with_bounds() — never persisted
    block_max_u: np.ndarray | None = None

    def with_bounds(self, avgdl: float, k1: float = K1, b: float = B):
        """Derive the admissible per-block WAND upper bound for the
        CURRENT avgdl (see module docstring for the two-source min and
        the corner-monotonicity argument). Exactly ``u_ref`` when avgdl
        hasn't drifted; under drift, the (1 + 1e-12) bump absorbs the
        few-ulp float gap between this evaluation and the scorers' u."""
        if not self.df:
            self.block_max_u = np.zeros(0, dtype=np.float64)
            return self
        if avgdl == self.avgdl_ref:
            self.block_max_u = self.block_max_u_ref
            return self
        loose = bm25_u(self.block_max_tf.astype(np.float64),
                       self.block_min_dl.astype(np.float64), avgdl, k1, b)
        # ratio(tf, dl) = D(avgdl_ref) / D(avgdl) with D = tf + c + e*dl;
        # monotone in tf and in dl -> max over the block is at a corner
        c = k1 * (1.0 - b)
        e0 = k1 * b / self.avgdl_ref
        e1 = k1 * b / avgdl
        rmax = None
        for tf in (self.block_min_tf, self.block_max_tf):
            tf = tf.astype(np.float64)
            for dl in (self.block_min_dl, self.block_max_dl):
                dl = dl.astype(np.float64)
                r = (tf + c + e0 * dl) / (tf + c + e1 * dl)
                rmax = r if rmax is None else np.maximum(rmax, r)
        drift = self.block_max_u_ref * rmax
        self.block_max_u = np.minimum(loose, drift) * (1.0 + 1e-12)
        return self

    @property
    def n_blocks(self) -> int:
        return len(self.block_last)

    def decode_all(self):
        """Vectorized full decode -> (ids, tfs, dls, bits)."""
        deltas = varbyte_decode(self.ids)
        c = np.cumsum(deltas, dtype=np.uint64)
        n = self.df
        starts = np.arange(0, n, self.block_size)
        # within a block: abs[j] = c[j] - (c[start] - delta[start])
        corr = c[starts] - deltas[starts]
        ids = (c - np.repeat(corr, np.diff(np.append(starts, n)))).astype(np.int64)
        tfs = varbyte_decode(self.tfs).astype(np.int64)
        dls = varbyte_decode(self.dls).astype(np.int64)
        bts = varbyte_decode(self.bits).astype(np.int64)
        return ids, tfs, dls, bts


def encode_postings(ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                    bits: np.ndarray, avgdl_ref: float,
                    k1: float = K1, b: float = B,
                    block_size: int = DEFAULT_BLOCK) -> EncodedPostings:
    """Encode one (segment, term) run. ``ids`` must be strictly ascending.

    Fully vectorized: each of the four streams is ONE varbyte pass over
    the whole run (per-block python calls made a hot 20k-posting term cost
    ~640 tiny encode calls and dominated the build). The id delta chain
    restarts at block starts by patching those positions back to
    absolute values.

    ``avgdl_ref`` seeds the tight reference bound; the encoded bytes stay
    valid (just gradually less tightly bounded) as corpus stats drift.
    """
    n = len(ids)
    if n == 0:
        zi = np.zeros(0, dtype=np.int64)
        return EncodedPostings(
            df=0, ids=b"", tfs=b"", dls=b"", bits=b"",
            block_last=zi, block_max_tf=zi, block_min_dl=zi,
            block_min_tf=zi, block_max_dl=zi,
            block_max_u_ref=np.zeros(0, dtype=np.float64),
            avgdl_ref=avgdl_ref, block_size=block_size,
        )
    ids = np.ascontiguousarray(ids, dtype=np.int64)
    starts = np.arange(0, n, block_size)
    ends = np.append(starts[1:], n)

    ids_u = ids.astype(np.uint64)
    deltas = delta_encode(ids_u)
    deltas[starts] = ids_u[starts]  # the chain restarts at every block
    id_buf, tf_buf, dl_buf, bit_buf = (
        varbyte_encode(np.asarray(v, dtype=np.uint64))
        for v in (deltas, tfs, dls, bits))

    block_last = ids[ends - 1]
    tfs_i = np.asarray(tfs, dtype=np.int64)
    dls_i = np.asarray(dls, dtype=np.int64)
    u = bm25_u(tfs_i, dls_i, avgdl_ref, k1, b)
    return EncodedPostings(
        df=n, ids=id_buf, tfs=tf_buf, dls=dl_buf, bits=bit_buf,
        block_last=block_last,
        block_max_tf=np.maximum.reduceat(tfs_i, starts),
        block_min_dl=np.minimum.reduceat(dls_i, starts),
        block_min_tf=np.minimum.reduceat(tfs_i, starts),
        block_max_dl=np.maximum.reduceat(dls_i, starts),
        # nextafter-up: tight AND admissible at avgdl_ref
        block_max_u_ref=np.nextafter(np.maximum.reduceat(u, starts), np.inf),
        avgdl_ref=avgdl_ref, block_size=block_size,
    )


def encode_postings_batch(ids_col, tfs_col, dls_col, bits_col,
                          avgdl_ref: float, k1: float = K1, b: float = B,
                          block_size: int = DEFAULT_BLOCK) -> list[tuple]:
    """Encode a whole Arrow batch of posting runs with O(1) numpy passes.

    Same layout as :func:`encode_postings` row by row (tested identical),
    but all four streams of ALL rows are varbyte-encoded in one call each:
    per-row numpy dispatch made the encoder the build's bottleneck once
    tokenization was vectorized (most terms are tiny runs — 30 numpy calls
    of ~3 elements per row is pure overhead).

    Returns one tuple per row matching POSTINGS_SCHEMA field order.
    """
    nrows = len(ids_col)
    if nrows == 0:
        return []
    lens = np.fromiter((len(x) for x in ids_col), dtype=np.int64, count=nrows)
    total = int(lens.sum())
    row_starts = np.zeros(nrows + 1, dtype=np.int64)
    np.cumsum(lens, out=row_starts[1:])
    ids = np.concatenate([np.asarray(x, dtype=np.int64) for x in ids_col])
    tfs = np.concatenate([np.asarray(x, dtype=np.int64) for x in tfs_col])
    dls = np.concatenate([np.asarray(x, dtype=np.int64) for x in dls_col])
    bts = np.concatenate([np.asarray(x, dtype=np.int64) for x in bits_col])

    row_idx = np.repeat(np.arange(nrows), lens)
    # sort each run by doc_id here (one C lexsort per batch) — JVM-side
    # sort_array over millions of 4-field structs was pure GC pressure
    # (measured 500s+ of GC in the merge stage at 600k docs)
    order = np.lexsort((ids, row_idx))
    if not np.array_equal(order, np.arange(total)):
        ids, tfs, dls, bts = ids[order], tfs[order], dls[order], bts[order]
    rel = np.arange(total, dtype=np.int64) - row_starts[row_idx]
    is_start = (rel % block_size) == 0
    # delta chain restarting at every block start (row starts included)
    prev = np.empty(total, dtype=np.int64)
    prev[0] = 0
    prev[1:] = ids[:-1]
    deltas = np.where(is_start, ids, ids - prev).astype(np.uint64)

    bstart_idx = np.nonzero(is_start)[0]
    # block index ranges per row
    n_blocks_row = ((lens + block_size - 1) // block_size).astype(np.int64)
    brow_starts = np.zeros(nrows + 1, dtype=np.int64)
    np.cumsum(n_blocks_row, out=brow_starts[1:])
    # block end positions: next block start (or row end)
    bend_idx = np.empty(len(bstart_idx), dtype=np.int64)
    bend_idx[:-1] = bstart_idx[1:]
    bend_idx[-1] = total
    # rows' last blocks end at the row end, not the next row's first block
    bend_idx[brow_starts[1:] - 1] = row_starts[1:]
    block_last_all = ids[bend_idx - 1]
    block_max_tf_all = np.maximum.reduceat(tfs, bstart_idx)
    block_min_dl_all = np.minimum.reduceat(dls, bstart_idx)
    block_min_tf_all = np.minimum.reduceat(tfs, bstart_idx)
    block_max_dl_all = np.maximum.reduceat(dls, bstart_idx)
    u = bm25_u(tfs, dls, avgdl_ref, k1, b)
    block_u_ref_all = np.nextafter(np.maximum.reduceat(u, bstart_idx), np.inf)

    streams = []
    for vals in (deltas, tfs.astype(np.uint64), dls.astype(np.uint64),
                 bts.astype(np.uint64)):
        buf, nb = varbyte_encode_with_counts(vals)
        cum = np.zeros(total + 1, dtype=np.int64)
        np.cumsum(nb, out=cum[1:])
        streams.append((buf, cum))

    out = []
    for r in range(nrows):
        s, e = row_starts[r], row_starts[r + 1]
        bs, be = brow_starts[r], brow_starts[r + 1]
        row = [int(lens[r])]
        for buf, cum in streams:
            row.append(buf[cum[s]:cum[e]])
        row.append(block_last_all[bs:be].tolist())
        row.append(block_max_tf_all[bs:be].tolist())
        row.append(block_min_dl_all[bs:be].tolist())
        row.append(block_min_tf_all[bs:be].tolist())
        row.append(block_max_dl_all[bs:be].tolist())
        row.append(block_u_ref_all[bs:be].tolist())
        out.append(tuple(row))
    return out


# -- vectorized predicates ---------------------------------------------------

def filter_by_bits_vec(bits: np.ndarray, on: int = 0, off: int = 0,
                       or_flags=()) -> np.ndarray:
    """Vectorized reference bit predicate (skiplist_reverse_index.go:158-171).
    Zero-valued orFlags are skipped, matching the reference's ``orFlag > 0``
    guard — passing 0 must be a no-op, not an always-false filter."""
    m = (bits & on) == on
    m &= (bits & off) == 0
    for f in or_flags:
        if f > 0:
            m &= (bits & f) != 0
    return m


# -- TAAT over the segment's doc-id window ------------------------------------
#
# segment_id = doc_id // seg_docs, so a per-segment kernel's runs all lie in
# a window [lo, hi] of at most seg_docs ids. Leaves become bool masks over
# it, trees are &, | and &~ of masks, and scores accumulate in a dense
# float64 array at ``doc_id - lo`` (Lucene's BooleanScorer bucket window):
# no sorted unions and no searchsorted alignment. On few-thousand-doc
# segments numpy dispatch costs more than the arithmetic, so fewer, denser
# calls win.

def _filtered_runs(term_postings: dict, avgdl: float, on: int, off: int,
                   or_flags, k1: float, b: float) -> dict:
    """term -> (bit-filtered ids, their u). A run is a decoded (ids, tfs,
    dls, bits) tuple, optionally followed by its cached u at this same
    avgdl/k1/b (u is elementwise, so slicing it equals recomputing it).
    A predicate that passes every posting is skipped, not evaluated."""
    noop = on == 0 and off == 0 and not any(f > 0 for f in or_flags)
    out = {}
    for t, run in term_postings.items():
        ids, tfs, dls, bits = run[:4]
        u = run[4] if len(run) > 4 else bm25_u(tfs, dls, avgdl, k1, b)
        if not noop:
            m = filter_by_bits_vec(bits, on, off, or_flags)
            ids, u = ids[m], u[m]
        out[t] = (ids, u)
    return out


def _window_offsets(leaf_ids: dict) -> tuple[dict, int, int]:
    """-> ({key: ids - lo}, lo, window length; 0 if every array is empty)."""
    nz = [a for a in leaf_ids.values() if a.size]
    lo = int(min(a[0] for a in nz)) if nz else 0
    n = int(max(a[-1] for a in nz)) - lo + 1 if nz else 0
    return {key: a - lo for key, a in leaf_ids.items()}, lo, n


def _tree_mask(node: dict, offs: dict, n: int, memo: dict) -> np.ndarray:
    """A TermQuery dict as a bool window mask (``memo``: leaf masks, shared
    — never mutate a returned mask). A node's ``must_not`` subtrees are
    subtracted from its own matches (nested ES bool exclusion)."""
    if "keyword" in node:
        kw = node["keyword"]
        f = kw.get("field", "")
        # pseudo-leaf keys ("\x02..." — phrase match sets) contain no
        # field separator, so the whole key lands in the field slot
        key = f if f.startswith("\x02") else f"{f}\x01{kw.get('word','')}"
        m = memo.get(key)
        if m is None:
            m = memo[key] = np.zeros(n, dtype=bool)
            if key in offs:
                m[offs[key]] = True
        return m
    op = np.logical_and if "must" in node else np.logical_or
    kids = node["must"] if "must" in node else node.get("should", ())
    if not kids:  # 0 clauses match nothing (IntersectionOfSkipList)
        return np.zeros(n, dtype=bool)
    out = _tree_mask(kids[0], offs, n, memo)
    for c in kids[1:]:
        out = op(out, _tree_mask(c, offs, n, memo))
    if node.get("must_not"):
        out = out & ~_tree_mask({"should": node["must_not"]}, offs, n, memo)
    return out


def eval_bool_tree(node: dict, leaf_ids: dict[str, np.ndarray]) -> np.ndarray:
    """Evaluate a TermQuery dict over per-term ascending unique id arrays
    -> ascending matching ids. The reference's set-op contract
    (skiplist_reverse_index.go:77-156): a must of 0 lists is empty, of 1
    list is that list, and an empty list empties it; ``must_not`` only
    subtracts, never builds a corpus-sized complement."""
    offs, lo, n = _window_offsets(leaf_ids)
    return np.flatnonzero(_tree_mask(node, offs, n, {})) + lo


def _top_k(cands: np.ndarray, scores: np.ndarray, k: int):
    """Segment-local top-k ordered (score desc, doc_id asc)."""
    if cands.size > k:
        # threshold-select (keeps ALL boundary ties), then sort survivors
        kth = np.partition(-scores, k - 1)[k - 1]
        keep = np.nonzero(-scores <= kth)[0]
    else:
        keep = np.arange(cands.size)
    order = keep[np.lexsort((cands[keep], -scores[keep]))][:k]
    return cands[order], scores[order]


def score_segment_exhaustive(
    query: dict,
    term_postings: dict[str, tuple],
    idf: dict[str, float],
    avgdl: float,
    k: int,
    on: int = 0,
    off: int = 0,
    or_flags=(),
    k1: float = K1,
    b: float = B,
    after: tuple[float, int] | None = None,
    exclude: dict | None = None,
    exclude_only: frozenset = frozenset(),
    min_match: int = 0,
    extra_leaf_ids: dict[str, np.ndarray] | None = None,
    demote: dict | None = None,
    demote_factor: float = 1.0,
):
    """Boolean-filter + BM25-score one segment, vectorized TAAT over the
    segment's doc-id window.

    ``term_postings``: term -> decoded (ids, tfs, dls, bits), ids
    ascending, optionally with the run's cached u (see _filtered_runs).
    Each scored term adds ``idf * u`` into a dense accumulator in sorted
    term order from 0.0: the same products in the same order as a
    per-doc sum, so scores are bitwise the per-doc reference's.
    ``after``: optional (score, doc_id) paging cursor — the top-k is taken
    over docs strictly after it in (score desc, doc_id asc) rank order.
    ``exclude``: optional must_not tree (ES bool-query semantics): its
    matches are removed from the candidate set BEFORE scoring/top-k, and
    terms appearing only in it (``exclude_only``) never contribute to a
    score. ``min_match``: minimum_should_match (ES should-clause
    semantics) — a candidate must match at least this many DISTINCT
    positive query terms (bit-filtered) to survive; survivors are scored
    over every matching term, exactly like the plain query, so
    ``min_match=1`` is bitwise-identical to no constraint. Applied
    before the paging cursor and the top-k, so a cursor taken from an
    msm result pages within the same constrained rank order.
    ``extra_leaf_ids``: pre-computed candidate id arrays for
    pseudo-leaves in the tree (phrase match sets) — they join candidate
    evaluation but NEVER score (no posting run in ``term_postings``).
    ``demote``: optional tree (ES boosting-query ``negative`` clause):
    candidates matching it STAY in the result but have their summed
    score multiplied by ``demote_factor`` (ES ``negative_boost``) —
    one float64 multiply after the fixed-order summation, applied
    BEFORE the paging cursor and the top-k so cursors page within the
    demoted rank order. Demote-only terms ride ``exclude_only`` (they
    gate the demotion match, never contribute score).
    Returns (doc_ids, scores) of the segment-local top-k, ordered by
    (score desc, doc_id asc).
    """
    runs = _filtered_runs(term_postings, avgdl, on, off, or_flags, k1, b)
    leaf_ids = dict(extra_leaf_ids or {})
    leaf_ids.update((t, ids) for t, (ids, _u) in runs.items())
    offs, lo, n = _window_offsets(leaf_ids)
    memo: dict = {}
    cand = _tree_mask(query, offs, n, memo)
    if exclude is not None:
        cand = cand & ~_tree_mask(exclude, offs, n, memo)
    scored = sorted(t for t in runs if t not in exclude_only)
    if min_match > 1:
        # distinct-term match count over the POSITIVE terms (exclude-only
        # leaves never count toward the quorum)
        counts = np.zeros(n, dtype=np.int64)
        for t in scored:
            counts[offs[t]] += 1
        cand = cand & (counts >= min_match)
    idx = np.flatnonzero(cand)
    if idx.size == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)

    acc = np.zeros(n, dtype=np.float64)
    for t in scored:  # fixed summation order
        acc[offs[t]] += idf.get(t, 0.0) * runs[t][1]
    scores = acc[idx]
    cands = idx + lo

    if demote is not None:
        hit = _tree_mask(demote, offs, n, memo)[idx]
        scores[hit] = scores[hit] * np.float64(demote_factor)

    if after is not None:
        cands, scores = _rank_after(cands, scores, after)
    return _top_k(cands, scores, k)


def merge_decoded_runs(runs: list[tuple]) -> tuple:
    """Merge decoded member posting runs into ONE synonym stream.

    Lucene ``SynonymQuery`` semantics: the group behaves as a single
    pseudo-term whose tf(d) is the SUM of the member tfs in d. doc_len
    and bits are per-doc constants, so any member's value is taken.
    Input/output shape matches ``EncodedPostings.decode_all()``:
    (ids asc, tfs, dls, bits)."""
    if len(runs) == 1:
        return runs[0]
    ids = np.concatenate([r[0] for r in runs])
    tfs = np.concatenate([r[1] for r in runs])
    dls = np.concatenate([r[2] for r in runs])
    bts = np.concatenate([r[3] for r in runs])
    order = np.argsort(ids, kind="stable")
    ids, tfs, dls, bts = ids[order], tfs[order], dls[order], bts[order]
    uniq, start = np.unique(ids, return_index=True)
    return (uniq, np.add.reduceat(tfs, start), dls[start], bts[start])


def score_segment_dismax(
    term_postings: dict[str, tuple],
    idf: dict[str, float],
    avgdl: float,
    k: int,
    tie: float = 0.0,
    on: int = 0,
    off: int = 0,
    or_flags=(),
    k1: float = K1,
    b: float = B,
):
    """Lucene ``DisjunctionMaxQuery`` over term leaves, vectorized TAAT
    over the segment's doc-id window (runs as in
    :func:`score_segment_exhaustive`).

    score(d) = (1 - tie) * max_t c_t(d) + tie * sum_t c_t(d) with
    c_t = idf_t * u(tf, dl) — algebraically Lucene's
    ``max + tie * sumOfOthers``, computed in the form whose endpoints
    are bitwise exact: tie=0 is the pure max, tie=1 is bitwise the flat
    OR query's sum (same accumulation order as the exhaustive scorer).
    The best-matching term dominates and the others contribute only
    through the tie-breaker, so a doc matching one term strongly
    outranks a doc matching every term weakly (the "pick the best
    clause" semantics BM25's plain sum inverts). Returns the
    segment-local top-k ordered (score desc, doc_id asc), same contract
    as :func:`score_segment_exhaustive`."""
    runs = _filtered_runs(term_postings, avgdl, on, off, or_flags, k1, b)
    offs, lo, n = _window_offsets({t: ids for t, (ids, _u) in runs.items()})
    mx = np.zeros(n, dtype=np.float64)
    sm = np.zeros(n, dtype=np.float64)
    hit = np.zeros(n, dtype=bool)
    for t in sorted(runs):  # fixed accumulation order (rank identity)
        c = np.zeros(n, dtype=np.float64)  # 0 where t does not match
        c[offs[t]] = idf.get(t, 0.0) * runs[t][1]
        hit[offs[t]] = True
        sm += c
        np.maximum(mx, c, out=mx)
    idx = np.flatnonzero(hit)
    return _top_k(idx + lo, (1.0 - tie) * mx[idx] + tie * sm[idx], k)


# -- block-max interval scorers (WAND / conjunctive) ---------------------------
#
# Both pruned scorers share one vectorized structure: the doc-id space is
# cut into INTERVALS by the union of every query term's block boundaries
# (block_last), so within an interval each term is covered by exactly one
# block and the interval's admissible upper bound is a plain numpy sum of
# block maxima — precomputed for ALL intervals in a handful of vectorized
# passes before the walk starts. The walk is then interval-at-a-time, not
# doc-at-a-time: an interval whose bound cannot beat the heap threshold
# is skipped with ONE float compare (no scoring, no cursor bookkeeping),
# and a passing interval is scored as a mini-TAAT: slice each term's
# decoded, bit-filtered run (the runs and cached u the exhaustive scorer
# reads) at offsets found up front by one searchsorted of all interval
# bounds per term, union (WAND) or intersect (conjunction) the candidate
# ids, and accumulate idf*u per term in lexicographic term order: the
# exact float op order of the exhaustive scorer, so every path hashes
# identically.
#
# Lossless for (score desc, doc_id asc) top-k: intervals ascend, so docs
# are emitted in globally ascending id order; with the heap keyed
# (score, -doc_id) an equal-score later doc can never displace an earlier
# one, and a candidate enters iff its score STRICTLY beats the threshold.
# Block maxima are nextafter-rounded up at build, so the bound is
# admissible. Strictly stronger pruning than the reference's early-exit-
# on-exhaustion (skiplist_reverse_index.go:112-126), and ~block_size
# fewer interpreter iterations than a per-doc pivot walk (the round-2
# serving bottleneck: ~40 us of Python per pivot).


def _interval_bounds(encs: list[EncodedPostings], weights: list[float],
                     bounds: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """-> (admissible score bound of each interval (bounds[i-1],
    bounds[i]]: the sum of its covering blocks' ``w * block_max_u``,
    mask of the intervals every term has a block for)."""
    ub = np.zeros(len(bounds), dtype=np.float64)
    covered = np.ones(len(bounds), dtype=bool)
    for e, w in zip(encs, weights):
        bi = np.searchsorted(e.block_last, bounds, side="left")
        v = bi < e.n_blocks
        covered &= v
        ub[v] += w * e.block_max_u[bi[v]]
    return ub, covered


def _interval_runs(term_postings: dict, terms: list[str], bounds: np.ndarray,
                   avgdl: float, on: int, off: int, or_flags, k1: float,
                   b: float) -> tuple[list, list]:
    """-> ([(bit-filtered ids, u)] per term (see _filtered_runs), [cuts]
    per term): interval i's slice of a run is ``cuts[i]:cuts[i + 1]``."""
    runs = _filtered_runs({t: term_postings[t] for t in terms}, avgdl,
                          on, off, or_flags, k1, b)
    runs = [runs[t] for t in terms]
    cuts = [[0] + np.searchsorted(ids, bounds, side="right").tolist()
            for ids, _u in runs]
    return runs, cuts


def _check_bounds(encs: list[EncodedPostings]) -> None:
    for e in encs:
        if e.df and e.block_max_u is None:
            raise ValueError(
                "EncodedPostings.with_bounds(avgdl) must be called before "
                "WAND scoring (bounds are derived at query time)")


def _rank_after(cand: np.ndarray, scores: np.ndarray, after):
    """Keep only docs strictly AFTER the ``(score, doc_id)`` cursor in
    (score desc, doc_id asc) rank order. Cursor scores come from a prior
    result of the same deterministic kernels, so the float equality in
    the tie branch is exact (bitwise-identical recomputation)."""
    cs, cd = after
    m = (scores < cs) | ((scores == cs) & (cand > cd))
    return cand[m], scores[m]


def _push_candidates(heap, k, theta, cand, scores, after=None) -> float:
    """Feed one interval's scored candidates (ascending ids) into the
    (score, -doc_id) min-heap; returns the updated threshold. Candidates
    ascend past every existing heap id, so prefiltering on score > theta
    can never drop a doc that would have entered later. ``after`` drops
    docs at-or-before the paging cursor BEFORE they can enter the heap,
    so the threshold only ever rises from post-cursor docs (pruning
    stays lossless for the page's true top-k)."""
    import heapq

    if after is not None:
        cand, scores = _rank_after(cand, scores, after)
    if len(heap) >= k:
        sel = np.nonzero(scores > theta)[0]
    else:
        sel = range(len(cand))
    for j in sel:
        item = (float(scores[j]), -int(cand[j]))
        if len(heap) < k:
            heapq.heappush(heap, item)
        elif item > heap[0]:
            heapq.heapreplace(heap, item)
    return heap[0][0] if len(heap) >= k else -np.inf


def score_segment_wand(
    term_postings: dict[str, tuple],
    postings: dict[str, EncodedPostings],
    idf: dict[str, float],
    avgdl: float,
    k: int,
    on: int = 0,
    off: int = 0,
    or_flags=(),
    k1: float = K1,
    b: float = B,
    after: tuple[float, int] | None = None,
):
    """Block-max WAND top-k over a flat OR-of-terms query in one segment
    (interval-at-a-time; see the section comment above for the pruning
    and losslessness argument).

    ``term_postings``: term -> decoded run, as in
    :func:`score_segment_exhaustive`. ``postings``: the same terms'
    EncodedPostings after ``with_bounds(avgdl)``; only their block
    metadata (``block_last``, ``block_max_u``) is read.
    ``after``: optional (score, doc_id) paging cursor — only docs
    strictly after it in (score desc, doc_id asc) rank order are
    admitted to the heap (deep paging without per-segment offset+k
    growth; the interval bound check is unchanged and stays admissible
    because the heap threshold only rises from admitted docs).

    Returns (doc_ids, scores) ordered by (score desc, doc_id asc).
    """
    terms = sorted(t for t, e in postings.items() if e.df > 0)
    if not terms:
        return _finalize_heap([])
    encs = [postings[t] for t in terms]
    _check_bounds(encs)
    weights = [idf.get(t, 0.0) for t in terms]

    bounds = np.unique(np.concatenate([e.block_last for e in encs]))
    ub, _ = _interval_bounds(encs, weights, bounds)
    runs, cuts = _interval_runs(term_postings, terms, bounds, avgdl,
                                on, off, or_flags, k1, b)
    heap: list[tuple[float, int]] = []
    theta = -np.inf
    for i in range(len(bounds)):
        if ub[i] <= theta:
            continue
        slices: list[tuple[np.ndarray, np.ndarray]] = []
        for (ids, u), w, c in zip(runs, weights, cuts):
            s, e = c[i], c[i + 1]
            if e > s:
                slices.append((ids[s:e], w * u[s:e]))
        if not slices:
            continue
        if len(slices) == 1:
            # 0.0 + x == x bitwise, so this equals the general path
            cand, scores = slices[0][0], slices[0][1]
        else:
            cand = np.unique(np.concatenate([sl[0] for sl in slices]))
            scores = np.zeros(len(cand), dtype=np.float64)
            for fids_s, fc_s in slices:  # lex term order = TAAT float order
                pos = np.searchsorted(fids_s, cand)
                pos_c = np.clip(pos, 0, len(fids_s) - 1)
                hit = fids_s[pos_c] == cand
                scores[hit] += fc_s[pos_c[hit]]
        theta = _push_candidates(heap, k, theta, cand, scores, after)
    return _finalize_heap(heap)


def score_segment_conjunctive(
    term_postings: dict[str, tuple],
    postings: dict[str, EncodedPostings],
    idf: dict[str, float],
    avgdl: float,
    k: int,
    on: int = 0,
    off: int = 0,
    or_flags=(),
    k1: float = K1,
    b: float = B,
    after: tuple[float, int] | None = None,
):
    """Top-k over a flat AND-of-terms query: interval-at-a-time block-max
    intersection (the BMW bound applied to the conjunction; see the
    section comment above). Inputs and ``after`` as in
    :func:`score_segment_wand`.

    Per passing interval the RAREST term is sliced first — if its slice
    is empty the interval is abandoned before any other term is
    touched, which preserves the rare-term-drives behavior of a
    galloping skip-pointer intersection (reference:
    skiplist_reverse_index.go:77-130) in vectorized form.

    ``postings`` must contain EVERY query term with df > 0 in this
    segment; callers pass the segment's rows — a missing term means the
    intersection is empty here (the reference's early-exit: an empty list
    nils the whole intersection, skiplist_reverse_index.go:88-90).

    Returns (doc_ids, scores) ordered by (score desc, doc_id asc).
    """
    if not postings or any(enc.df == 0 for enc in postings.values()):
        return _finalize_heap([])
    terms = sorted(postings)  # summation order = TAAT float order
    encs = [postings[t] for t in terms]
    _check_bounds(encs)
    weights = [idf.get(t, 0.0) for t in terms]
    probe_order = sorted(range(len(terms)), key=lambda ti: encs[ti].df)

    # no candidate can exceed the smallest per-term last doc id
    max_doc = min(int(e.block_last[-1]) for e in encs)
    bounds = np.unique(np.concatenate([e.block_last for e in encs]))
    bounds = bounds[bounds <= max_doc]
    ub, covered = _interval_bounds(encs, weights, bounds)
    ub[~covered] = -np.inf
    runs, cuts = _interval_runs(term_postings, terms, bounds, avgdl,
                                on, off, or_flags, k1, b)
    heap: list[tuple[float, int]] = []
    theta = -np.inf
    for i in range(len(bounds)):
        if ub[i] <= theta:  # also skips intervals some term can't cover
            continue
        cand: np.ndarray | None = None
        for ti in probe_order:  # rarest first: usually exits on slice 1
            sl = runs[ti][0][cuts[ti][i]:cuts[ti][i + 1]]
            cand = sl if cand is None else cand[
                np.isin(cand, sl, assume_unique=True)]
            if cand.size == 0:
                break
        if cand is None or cand.size == 0:
            continue
        scores = np.zeros(len(cand), dtype=np.float64)
        for (ids, u), w in zip(runs, weights):  # lex term order = TAAT's
            scores += w * u[np.searchsorted(ids, cand)]
        theta = _push_candidates(heap, k, theta, cand, scores, after)
    return _finalize_heap(heap)


def _finalize_heap(heap):
    out = sorted(heap, key=lambda it: (-it[0], -it[1]))
    doc_ids = np.array([-d for _, d in out], dtype=np.int64)
    scores = np.array([s for s, _ in out], dtype=np.float64)
    return doc_ids, scores
