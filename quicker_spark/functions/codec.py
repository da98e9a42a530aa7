"""Delta + varbyte posting-list codec (vectorized numpy).

The reference keeps postings as uncompressed in-RAM skiplists sorted by
docId (reference: internal/reverse_index/skiplist_reverse_index.go:40-59 —
sortedness is what makes k-way intersection linear). This engine keeps the
sortedness invariant but stores posting runs compressed: ascending doc_ids
are delta-encoded then varbyte-encoded (7 data bits per byte, high bit =
continuation). Term frequencies are varbyte-encoded aligned 1:1 with the
doc_id run.

Everything here is numpy-vectorized — these functions run inside Arrow
pandas UDFs on executors, never per-row Python (BASELINE.json input_hint).
"""

from __future__ import annotations

import numpy as np

_U7 = np.uint64(7)
_MASK7 = np.uint64(0x7F)
_CONT = np.uint8(0x80)


def varbyte_encode_with_counts(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode a uint64 array to varbyte bytes, also returning the byte
    count per value (so callers can split one stream encoded for many
    runs into per-run byte ranges without re-encoding per run)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return b"", np.zeros(0, dtype=np.int64)
    # bytes needed per value
    nb = np.ones(n, dtype=np.int64)
    rest = v >> _U7
    while rest.any():
        nb += (rest > 0).astype(np.int64)
        rest >>= _U7
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(nb[:-1], out=starts[1:])
    out = np.empty(int(nb.sum()), dtype=np.uint8)
    work = v.copy()
    for i in range(int(nb.max())):
        mask = nb > i
        idx = starts[mask] + i
        byte = (work[mask] & _MASK7).astype(np.uint8)
        more = (i < nb[mask] - 1)
        out[idx] = np.where(more, byte | _CONT, byte)
        work >>= _U7
    return out.tobytes(), nb


def varbyte_encode(values: np.ndarray) -> bytes:
    """Encode a uint64 array to varbyte bytes (little-endian 7-bit groups,
    high bit set = more bytes follow)."""
    return varbyte_encode_with_counts(values)[0]


def varbyte_decode(buf: bytes | bytearray | memoryview) -> np.ndarray:
    """Decode varbyte bytes back to a uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & _CONT) == 0
    ends = np.nonzero(is_last)[0]
    n = ends.size
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    vals = np.zeros(n, dtype=np.uint64)
    for i in range(int(lengths.max())):
        mask = lengths > i
        vals[mask] |= (b[starts[mask] + i] & np.uint8(0x7F)).astype(np.uint64) << np.uint64(
            7 * i
        )
    return vals


def delta_encode(sorted_values: np.ndarray) -> np.ndarray:
    """Ascending uint64 run -> first value + successive gaps (uint64)."""
    v = np.ascontiguousarray(sorted_values, dtype=np.uint64)
    if v.size == 0:
        return v
    out = np.empty_like(v)
    out[0] = v[0]
    np.subtract(v[1:], v[:-1], out=out[1:])
    return out


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    """Inverse of :func:`delta_encode` (cumulative sum)."""
    d = np.ascontiguousarray(deltas, dtype=np.uint64)
    return np.cumsum(d, dtype=np.uint64)


def encode_posting_ids(doc_ids: np.ndarray) -> bytes:
    """Ascending doc_id run -> delta + varbyte bytes."""
    return varbyte_encode(delta_encode(doc_ids))


def decode_posting_ids(buf: bytes) -> np.ndarray:
    """Inverse of :func:`encode_posting_ids` -> ascending uint64 doc_ids."""
    return delta_decode(varbyte_decode(buf))
