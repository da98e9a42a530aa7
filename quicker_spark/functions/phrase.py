"""Positional postings: codec + phrase match-set kernel.

The reference engine has no positional index — its inverted index stores
(DocId, bits) pairs only (reference: internal/reverseindex/
skiplist_reverse_index.go:23-36), so exact-phrase queries are impossible
there. This module adds the classic positional sidecar a full-text engine
needs for phrase search, laid out exactly like the main postings tree
(``positions/wave=K/segment_id=S``) so the same partition-pruned scan,
segment-parallel kernel, and segment-granular maintenance apply.

Row layout per (segment_id, term): five byte streams —

- ``ids``:  delta-varbyte doc ids, ascending (first value absolute)
- ``tfs``:  varbyte per-doc occurrence counts (== position counts)
- ``dls``:  varbyte doc lengths
- ``bits``: varbyte feature bits
- ``pos``:  per-doc token ordinals, ascending, delta-varbyte with the
  delta chain restarting (absolute value) at each doc's first position,
  concatenated in doc order

A phrase is evaluated per segment entirely in numpy: decode each term's
occurrence set as sorted ``doc_id * 2^32 + position`` keys, then fold the
adjacency join ``S <- intersect(S + 1, keys(term_i))`` across the phrase —
after the fold, S holds one key per phrase occurrence. The match set is
all this module computes: it becomes a phrase clause's pseudo-leaf
candidate array (``engine.phrase_leaf_ids``), and the TAAT scorer scores
the candidates with the same per-term BM25 sum as any query, so a phrase
behaves like the AND of its words restricted to docs where they are
ADJACENT IN ORDER — the contract the DuckDB oracle reproduces with a
separator-run regex over the same tokenizer spec (see
driver_queries.sql_bm25_topk's phrase candidates) and ``oracle.Oracle``
with a token-stream scan.
"""

from __future__ import annotations

import numpy as np

from quicker_spark.functions.codec import (
    varbyte_decode,
    varbyte_encode_with_counts,
)
from quicker_spark.functions.kernels import filter_by_bits_vec

POSITIONS_SCHEMA = (
    "segment_id long, term string, df long, ids binary, tfs binary, "
    "dls binary, bits binary, pos binary"
)

# positions are token ordinals < 2^32 (a 4-billion-token doc would be
# ~20 GB of text in ONE row — far past any sane doc size), so
# doc_id * 2^32 + position packs an occurrence into one sortable int64
# and key + 1 can never overflow into the next doc
_POS_BITS = 32


def encode_positions_batch(ids_col, dls_col, bits_col, tfs_col,
                           pos_col) -> list[tuple]:
    """Encode a whole Arrow batch of positional runs (one varbyte pass
    per stream per batch, the same batching discipline as
    kernels.encode_postings_batch — per-row numpy dispatch is pure
    overhead on the tiny runs most terms have).

    Per row: ``ids/dls/bits/tfs`` parallel doc-order lists (UNSORTED —
    collect_list order), ``pos`` the flat concatenation of each doc's
    ASCENDING position list in the same doc order. Rows are re-sorted by
    doc_id here; the positions gather follows via a repeat/arange
    permutation, no per-doc python loop.

    Returns one tuple per row: (df, ids, tfs, dls, bits, pos).
    """
    nrows = len(ids_col)
    if nrows == 0:
        return []
    lens = np.fromiter((len(x) for x in ids_col), dtype=np.int64,
                       count=nrows)
    row_starts = np.zeros(nrows + 1, dtype=np.int64)
    np.cumsum(lens, out=row_starts[1:])
    total = int(lens.sum())
    ids = np.concatenate([np.asarray(x, dtype=np.int64) for x in ids_col])
    dls = np.concatenate([np.asarray(x, dtype=np.int64) for x in dls_col])
    bts = np.concatenate([np.asarray(x, dtype=np.int64) for x in bits_col])
    tfs = np.concatenate([np.asarray(x, dtype=np.int64) for x in tfs_col])
    pos = np.concatenate([np.asarray(x, dtype=np.int64) for x in pos_col]) \
        if total else np.empty(0, dtype=np.int64)

    row_idx = np.repeat(np.arange(nrows), lens)
    order = np.lexsort((ids, row_idx))
    if not np.array_equal(order, np.arange(total)):
        # doc-level sort; gather each doc's position slice through a
        # repeat/arange index so the flat stream follows its docs
        pstarts = np.zeros(total + 1, dtype=np.int64)
        np.cumsum(tfs, out=pstarts[1:])
        ids, dls, bts, tfs_o = ids[order], dls[order], bts[order], tfs[order]
        new_pstarts = np.zeros(total + 1, dtype=np.int64)
        np.cumsum(tfs_o, out=new_pstarts[1:])
        gather = (np.repeat(pstarts[order], tfs_o)
                  + np.arange(int(tfs_o.sum()), dtype=np.int64)
                  - np.repeat(new_pstarts[:-1], tfs_o))
        pos = pos[gather]
        tfs = tfs_o

    # id delta chain restarts (absolute) at each row start
    is_row_start = np.zeros(total, dtype=bool)
    is_row_start[row_starts[:-1][lens > 0]] = True
    prev = np.empty(total, dtype=np.int64)
    if total:
        prev[0] = 0
        prev[1:] = ids[:-1]
    id_deltas = np.where(is_row_start, ids, ids - prev).astype(np.uint64)

    # position delta chain restarts (absolute) at each DOC start
    npos = len(pos)
    doc_starts = np.zeros(total + 1, dtype=np.int64)
    np.cumsum(tfs, out=doc_starts[1:])
    is_doc_start = np.zeros(npos, dtype=bool)
    is_doc_start[doc_starts[:-1][tfs > 0]] = True
    pprev = np.empty(npos, dtype=np.int64)
    if npos:
        pprev[0] = 0
        pprev[1:] = pos[:-1]
    pos_deltas = np.where(is_doc_start, pos, pos - pprev).astype(np.uint64)

    streams = []
    for vals in (id_deltas, tfs.astype(np.uint64), dls.astype(np.uint64),
                 bts.astype(np.uint64)):
        buf, nb = varbyte_encode_with_counts(vals)
        cum = np.zeros(total + 1, dtype=np.int64)
        np.cumsum(nb, out=cum[1:])
        streams.append((buf, cum))
    pbuf, pnb = varbyte_encode_with_counts(pos_deltas)
    pcum = np.zeros(npos + 1, dtype=np.int64)
    np.cumsum(pnb, out=pcum[1:])

    out = []
    for r in range(nrows):
        s, e = row_starts[r], row_starts[r + 1]
        ps, pe = doc_starts[s], doc_starts[e]
        row = [int(lens[r])]
        for buf, cum in streams:
            row.append(buf[cum[s]:cum[e]])
        row.append(pbuf[pcum[ps]:pcum[pe]])
        out.append(tuple(row))
    return out


def decode_positions_row(ids_buf, tfs_buf, dls_buf, bits_buf, pos_buf):
    """One stored row -> (ids, tfs, dls, bits, pos) numpy arrays; ``pos``
    is the flat ascending-per-doc position stream, doc boundaries given
    by ``tfs``."""
    id_deltas = varbyte_decode(ids_buf).astype(np.int64)
    ids = np.cumsum(id_deltas)
    tfs = varbyte_decode(tfs_buf).astype(np.int64)
    dls = varbyte_decode(dls_buf).astype(np.int64)
    bts = varbyte_decode(bits_buf).astype(np.int64)
    pos_deltas = varbyte_decode(pos_buf).astype(np.int64)
    cum = np.cumsum(pos_deltas)
    starts = np.zeros(len(tfs) + 1, dtype=np.int64)
    np.cumsum(tfs, out=starts[1:])
    base = np.zeros(len(tfs), dtype=np.int64)
    nz = starts[:-1] > 0
    base[nz] = cum[starts[:-1][nz] - 1]
    pos = cum - np.repeat(base, tfs) if len(cum) else cum
    return ids, tfs, dls, bts, pos


def occurrence_keys(ids: np.ndarray, tfs: np.ndarray,
                    pos: np.ndarray) -> np.ndarray:
    """Sorted unique int64 keys ``doc_id << 32 | position`` — ids are
    ascending and positions ascend within each doc, so the flat stream is
    already globally sorted."""
    return (np.repeat(ids, tfs) << _POS_BITS) + pos


def phrase_match_docs(phrase_terms: list[str], decoded: dict,
                      gap: int = 0, on: int = 0, off: int = 0,
                      or_flags: tuple = ()) -> np.ndarray:
    """Sorted doc ids of one segment's phrase / ordered-proximity
    matches, bit-feature-filtered — a phrase clause's PSEUDO-LEAF
    candidate array (engine.search ``phrases=``).

    ``decoded``: term -> (ids, tfs, dls, bits, pos) from
    :func:`decode_positions_row`; must contain every term in
    ``phrase_terms`` (callers early-exit otherwise). ``gap`` is the
    maximum number of tokens allowed BETWEEN each adjacent pair of
    phrase words (0 = exact adjacency; G > 0 = ordered proximity, each
    next word within G+1 tokens of the previous, the window clamped to
    the same doc).
    """
    if not phrase_terms:
        return np.empty(0, dtype=np.int64)
    d0 = decoded[phrase_terms[0]]
    s = occurrence_keys(d0[0], d0[1], d0[4])
    for t in phrase_terms[1:]:
        d = decoded[t]
        keys = occurrence_keys(d[0], d[1], d[4])
        if gap == 0:
            s = np.intersect1d(s + 1, keys, assume_unique=True)
        else:
            # keep occurrences with a prefix end in the window
            # [p - 1 - gap, p - 1] of the SAME doc (the lower bound is
            # clamped to the doc's key range so the window can't leak
            # into the previous doc's positions)
            lo = np.maximum(keys - 1 - gap,
                            (keys >> _POS_BITS) << _POS_BITS)
            s = keys[np.searchsorted(s, lo, side="left")
                     < np.searchsorted(s, keys, side="left")]
        if not len(s):
            return np.empty(0, dtype=np.int64)
    match = np.unique(s >> _POS_BITS)
    # bit-feature filter comes from the FIRST term's streams (a phrase
    # match implies membership in every term's posting run)
    ids0, _tfs0, _dls0, bits0, _ = d0
    keep = filter_by_bits_vec(bits0[np.searchsorted(ids0, match)],
                              on, off, or_flags)
    return match[keep]
