"""Positional sidecar index: build + segment-granular refresh.

The reference's inverted index has no positions (reference:
internal/reverseindex/skiplist_reverse_index.go:23-36 — values are
(DocId, bits) pairs), so this sidecar is a beyond-the-reference
capability: exact-phrase queries over any indexed text field. It is a
DERIVED artifact of an existing index directory — built from the
engine's own ``docs`` forward index, laid out exactly like the main
postings tree (``positions/wave=K/segment_id=S/bucket=B``, files sorted
by term) so the same partition-pruned term scan and segment-parallel
Arrow kernel serve it, and the same segment-granular maintenance keeps
it consistent: :func:`refresh_positions` rewrites only the (wave,
segment) directories a delete/upsert touched (maintain._commit calls it
whenever the sidecar exists).

Scale shape mirrors the main build: ONE exchange of packed partials.
A map-side Arrow pass tokenizes each batch, groups its occurrences by
(segment, term), and emits varbyte-packed buffers — doc ids / tfs / dls /
bits plus the flat ascending-per-doc position stream. One hash exchange,
a spillable in-partition sort by (segment, term), then a streaming
merge+encode; build.bucket_cluster then clusters the encoded rows into
the same ``segment_id=S/bucket=B`` directories as the main postings. The
term string crosses the shuffle once per batch-partial and each
occurrence costs ~1-2 B, instead of one shuffle row per TOKEN
OCCURRENCE (~10 rows per posting entry at code-corpus tf).
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from quicker_spark.functions.phrase import encode_positions_batch
from quicker_spark.io import atomic_write_json
from quicker_spark.operators.build import IndexConfig, bucket_cluster

POSITIONS_STRUCT = T.StructType([
    T.StructField("df", T.LongType()),
    T.StructField("ids", T.BinaryType()),
    T.StructField("tfs", T.BinaryType()),
    T.StructField("dls", T.BinaryType()),
    T.StructField("bits", T.BinaryType()),
    T.StructField("pos", T.BinaryType()),
])

# default: positions only for the free-text field — repo/path/lang are
# identifier-like fields where phrase adjacency is meaningless
DEFAULT_POSITION_FIELDS = ("content",)


# packed-partial rows for the single-exchange positions wave: one row per
# (map-batch, segment, term); ids/tfs/dls/bits are per-DOC parallel
# streams, pos the flat per-OCCURRENCE position stream in the same doc
# order (each doc's slice ascending). All five are delta+varbyte encoded
# map-side (ids restart per partial, positions restart per doc — the
# stored sidecar's own chain discipline), with `n` carrying the entry
# count so the merge batch-decodes without walking buffers. The term
# string crosses the shuffle once per batch-partial instead of once per
# token occurrence, and each occurrence costs ~1-2 B instead of 8 B raw
# — payload bytes are what the bandwidth-bound wave pays for.
POS_PARTIAL_SCHEMA = T.StructType([
    T.StructField("segment_id", T.LongType()),
    T.StructField("term", T.StringType()),
    T.StructField("n", T.IntegerType()),
    T.StructField("ids_raw", T.BinaryType()),
    T.StructField("tfs_raw", T.BinaryType()),
    T.StructField("dls_raw", T.BinaryType()),
    T.StructField("bits_raw", T.BinaryType()),
    T.StructField("pos_raw", T.BinaryType()),
])

# the written sidecar columns, before bucket_cluster adds the bucket
# partition column
POS_WAVE_OUT_SCHEMA = T.StructType(
    [T.StructField("segment_id", T.LongType()),
     T.StructField("term", T.StringType())]
    + POSITIONS_STRUCT.fields
)


def _make_pos_pack_iter(fields):
    """mapInPandas stage 1 of the packed positions wave: per Arrow batch,
    tokenize each field (same ``TOKEN_RE`` spec as tokenize_col — the two
    produce identical arrays, tested), record each occurrence's ordinal in
    ITS FIELD's token array, group the batch's occurrences by
    (segment, term) and emit one packed-buffer row per group. Positions
    inside a (doc, term) group stay ascending because the group key sort
    is stable and a field's occurrences arrive in token order (terms are
    field-namespaced, so a group never crosses fields)."""
    import numpy as np

    from quicker_spark.functions.codec import varbyte_encode_with_counts
    from quicker_spark.functions.tokenize import TOKEN_RE

    def pack(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            occ_docs, occ_terms, occ_pos = [], [], []
            for fname in fields:
                found = pdf[fname].fillna("").str.lower().str.findall(
                    TOKEN_RE)
                lens = found.str.len().to_numpy(np.int64)
                total = int(lens.sum())
                if total == 0:
                    continue
                flat = np.concatenate(
                    [np.asarray(x, dtype=object) for x in found if x])
                starts = np.zeros(n, dtype=np.int64)
                np.cumsum(lens[:-1], out=starts[1:])
                occ_docs.append(np.repeat(np.arange(n, dtype=np.int64),
                                          lens))
                occ_terms.append(
                    (fname + "\x01" + pd.Index(flat)).to_numpy(dtype=object))
                occ_pos.append(np.arange(total, dtype=np.int64)
                               - np.repeat(starts, lens))
            if not occ_docs:
                continue
            docs = np.concatenate(occ_docs)
            terms = np.concatenate(occ_terms)
            pos = np.concatenate(occ_pos)
            tcodes, tuniq = pd.factorize(terms)
            scodes_doc, suniq = pd.factorize(
                pdf["segment_id"].to_numpy(np.int64))
            v = len(tuniq)
            # occurrence sort key (seg, term, doc); stable -> per-group
            # positions keep token order (ascending)
            key = ((scodes_doc[docs].astype(np.int64) * v + tcodes) * n
                   + docs)
            order = np.argsort(key, kind="stable")
            key_s, docs_s, pos_s = key[order], docs[order], pos[order]
            # (seg, term, doc) entry boundaries over occurrences
            d_starts = np.nonzero(np.r_[True, key_s[1:] != key_s[:-1]])[0]
            d_ends = np.r_[d_starts[1:], len(key_s)]
            tf = d_ends - d_starts
            entry_doc = docs_s[d_starts]
            e_ids = pdf["doc_id"].to_numpy(np.int64)[entry_doc]
            e_dls = pdf["doc_len"].to_numpy(np.int64)[entry_doc]
            e_bts = pdf["bits_feature"].to_numpy(np.int64)[entry_doc]
            # (seg, term) row boundaries over entries
            rkey = key_s[d_starts] // n
            r_starts = np.nonzero(np.r_[True, rkey[1:] != rkey[:-1]])[0]
            r_ends = np.r_[r_starts[1:], len(rkey)]
            rk = rkey[r_starts]
            # delta+varbyte: ids restart per partial row, positions
            # restart per doc entry; tf/dl/bits plain varbyte. One encode
            # pass per stream per batch, slices via byte-offset cumsums.
            n_entries = len(tf)
            is_rstart = np.zeros(n_entries, dtype=bool)
            is_rstart[r_starts] = True
            prev = np.empty(n_entries, dtype=np.int64)
            prev[0] = 0
            prev[1:] = e_ids[:-1]
            id_deltas = np.where(is_rstart, e_ids,
                                 e_ids - prev).astype(np.uint64)
            n_occ = len(pos_s)
            is_dstart = np.zeros(n_occ, dtype=bool)
            is_dstart[d_starts] = True
            pprev = np.empty(n_occ, dtype=np.int64)
            pprev[0] = 0
            pprev[1:] = pos_s[:-1]
            pos_deltas = np.where(is_dstart, pos_s,
                                  pos_s - pprev).astype(np.uint64)
            sliced = {}
            for name, vals in (("ids_raw", id_deltas),
                               ("tfs_raw", tf.astype(np.uint64)),
                               ("dls_raw", e_dls.astype(np.uint64)),
                               ("bits_raw", e_bts.astype(np.uint64))):
                buf, nb = varbyte_encode_with_counts(vals)
                cum = np.zeros(n_entries + 1, dtype=np.int64)
                np.cumsum(nb, out=cum[1:])
                sliced[name] = [buf[cum[s]:cum[e]]
                                for s, e in zip(r_starts, r_ends)]
            pbuf, pnb = varbyte_encode_with_counts(pos_deltas)
            pcum = np.zeros(n_occ + 1, dtype=np.int64)
            np.cumsum(pnb, out=pcum[1:])
            yield pd.DataFrame({
                "segment_id":
                    np.asarray(suniq)[(rk // v)].astype(np.int64),
                "term": np.asarray(tuniq, dtype=object)[(rk % v)],
                "n": (r_ends - r_starts).astype(np.int32),
                **sliced,
                "pos_raw": [pbuf[pcum[d_starts[s]]:pcum[d_ends[e - 1]]]
                            for s, e in zip(r_starts, r_ends)],
            })

    return pack


def _make_pos_merge_encode_iter():
    """mapInPandas stage 2: input partitions are clustered by
    (segment, term-bucket) and SORTED by (segment, term); walk the
    contiguous groups, concatenate each group's raw partial buffers, and
    encode via encode_positions_batch — whose per-run doc_id lexsort (and
    the matching gather of the flat position stream) makes the output
    bytes independent of partial arrival order. Same carry discipline as
    build._make_merge_encode_iter: memory stays at Arrow-batch scale."""
    import numpy as np

    buf_cols = ("ids_raw", "tfs_raw", "dls_raw", "bits_raw", "pos_raw")

    def _enc(groups):
        # groups: (seg, term, ids, tfs, dls, bits, pos) numpy arrays
        rows = encode_positions_batch(
            [g[2] for g in groups], [g[4] for g in groups],
            [g[5] for g in groups], [g[3] for g in groups],
            [g[6] for g in groups])
        df = pd.DataFrame(
            rows, columns=[f.name for f in POSITIONS_STRUCT.fields])
        df.insert(0, "term", pd.Series([g[1] for g in groups],
                                       dtype=object))
        df.insert(0, "segment_id",
                  np.array([g[0] for g in groups], dtype=np.int64))
        return df

    def merge(batches):
        from quicker_spark.functions.codec import varbyte_decode

        carry_key = None   # (segment_id, term) of the still-open group
        carry = None       # 5 lists of decoded value-chunk arrays
        for pdf in batches:
            if len(pdf) == 0:
                continue
            segs = pdf["segment_id"].to_numpy(np.int64)
            terms = pdf["term"].to_numpy(object)
            change = np.r_[True, (segs[1:] != segs[:-1])
                           | (terms[1:] != terms[:-1])]
            starts = np.nonzero(change)[0]
            ends = np.r_[starts[1:], len(pdf)]
            # batch decode: one varbyte pass per stream per Arrow batch,
            # then per-partial numpy views via the `n` entry counts
            n_arr = pdf["n"].to_numpy(np.int64)
            vstarts = np.zeros(len(pdf) + 1, dtype=np.int64)
            np.cumsum(n_arr, out=vstarts[1:])
            vals = [varbyte_decode(b"".join(pdf[c].tolist()))
                    for c in buf_cols]
            # ids: per-partial restarting delta chains (mod-2^64 exact)
            dcum = np.cumsum(vals[0], dtype=np.uint64)
            base = np.zeros(len(pdf), dtype=np.uint64)
            nz = vstarts[:-1] > 0
            base[nz] = dcum[vstarts[:-1][nz] - 1]
            ids_vals = (dcum - np.repeat(base, n_arr)).astype(np.int64)
            tfs_vals = vals[1].astype(np.int64)
            dls_vals = vals[2].astype(np.int64)
            bts_vals = vals[3].astype(np.int64)
            # positions: delta chains restarting at each DOC start (every
            # doc lives inside one partial, so doc-granular restore is
            # row-independent — same math as decode_positions_row)
            pcum = np.cumsum(vals[4], dtype=np.uint64)
            doc_starts = np.zeros(len(tfs_vals) + 1, dtype=np.int64)
            np.cumsum(tfs_vals, out=doc_starts[1:])
            pbase = np.zeros(len(tfs_vals), dtype=np.uint64)
            pnz = doc_starts[:-1] > 0
            pbase[pnz] = pcum[doc_starts[:-1][pnz] - 1]
            pos_vals = (pcum - np.repeat(pbase, tfs_vals)).astype(np.int64)
            # per-partial occurrence boundaries (sum of its docs' tfs)
            pocc = np.zeros(len(pdf) + 1, dtype=np.int64)
            np.cumsum(np.add.reduceat(tfs_vals, vstarts[:-1]),
                      out=pocc[1:])
            streams = [ids_vals, tfs_vals, dls_vals, bts_vals]
            complete = []
            for s, e in zip(starts, ends):
                k = (int(segs[s]), terms[s])
                chunks = [[st[vstarts[r]:vstarts[r + 1]]
                           for r in range(s, e)] for st in streams]
                chunks.append([pos_vals[pocc[r]:pocc[r + 1]]
                               for r in range(s, e)])
                if carry_key == k:
                    for j in range(5):
                        carry[j].extend(chunks[j])
                else:
                    if carry_key is not None:
                        complete.append((carry_key, carry))
                    carry_key, carry = k, chunks
            if complete:
                yield _enc([(ck[0], ck[1],
                             *[np.concatenate(c) for c in cv])
                            for ck, cv in complete])
        if carry_key is not None:
            yield _enc([(carry_key[0], carry_key[1],
                         *[np.concatenate(c) for c in carry])])

    return merge


def wave_positions_packed(docs_wave: DataFrame, cfg: IndexConfig,
                          n_buckets: int,
                          fields=DEFAULT_POSITION_FIELDS) -> DataFrame:
    """Single-exchange positional build for one wave: map-side packed
    occurrence partials -> ONE hash exchange on (segment, term-hash
    bucket) -> spillable in-partition sort -> streaming merge+encode,
    term-sorted per (segment, term) group. No per-token-occurrence
    shuffle row and no JVM collect_list of position structs."""
    pack = _make_pos_pack_iter(tuple(fields))
    partial = docs_wave.select(
        "segment_id", "doc_id", "doc_len", "bits_feature",
        *[F.col(f) for f in fields],
    ).mapInPandas(pack, POS_PARTIAL_SCHEMA)
    merge = _make_pos_merge_encode_iter()
    return (partial
            .repartition(F.col("segment_id"),
                         F.pmod(F.xxhash64("term"), F.lit(int(n_buckets))))
            .sortWithinPartitions("segment_id", "term")
            .mapInPandas(merge, POS_WAVE_OUT_SCHEMA))


def write_positions_wave(spark: SparkSession, docs_df: DataFrame,
                         wave: list[int], cfg: IndexConfig, out_dir: str,
                         fields=DEFAULT_POSITION_FIELDS,
                         wkey: int | None = None,
                         rebuild_segs: list[int] | None = None) -> None:
    """Build + write one wave of positional postings
    (``positions/wave=K/segment_id=S/bucket=B``). Same granularity
    contract as build.write_wave: ``rebuild_segs=None`` is the idempotent
    full-wave overwrite; a seg list is the maintenance-granular rewrite
    (affected segment dirs removed first so emptied segments can't
    resurrect)."""
    wkey = min(wave) if wkey is None else wkey
    segs = sorted(int(s) for s in (rebuild_segs if rebuild_segs is not None
                                   else wave))
    wave_dir = os.path.join(out_dir, "positions", f"wave={wkey}")
    lo, hi = min(segs) * cfg.seg_docs, (max(segs) + 1) * cfg.seg_docs
    docs_wave = docs_df.filter(
        (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        & F.col("segment_id").isin(segs))
    # exchange width for the merge: ~3 keys per shuffle partition so the
    # stage never under-fills slots when a wave holds few segments
    par = spark.sparkContext.defaultParallelism
    sp = int(spark.conf.get("spark.sql.shuffle.partitions", str(par)))
    n_hash = max(1, -(-3 * max(par, sp) // max(1, len(segs))))
    rows = wave_positions_packed(docs_wave, cfg, n_hash, fields)
    # same bucket-partitioned layout as the main postings tree, so phrase
    # serving gets the same partition-pruned term scan
    writer = (bucket_cluster(rows, cfg.term_buckets)
              .write.mode("overwrite").partitionBy("segment_id", "bucket"))
    if rebuild_segs is None:
        writer.parquet(wave_dir)
    else:
        for s in segs:
            shutil.rmtree(os.path.join(wave_dir, f"segment_id={s}"),
                          ignore_errors=True)
        writer.option("partitionOverwriteMode", "dynamic").parquet(wave_dir)


def _meta_path(index_dir: str) -> str:
    return os.path.join(index_dir, "positions", "_meta.json")


def positions_meta(index_dir: str) -> dict | None:
    """The sidecar's meta, or None when no sidecar exists."""
    import json
    p = _meta_path(index_dir)
    if not os.path.isfile(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def require_positions(index_dir: str, fields) -> None:
    """Raise ValueError unless a complete sidecar covers every one of
    ``fields`` — the same errors on both serving tiers."""
    meta = positions_meta(index_dir)
    if meta is None:
        raise ValueError(
            "this query needs the positional sidecar; run "
            "operators.positions.build_positions(spark, index_dir) first")
    for f in sorted(fields):
        if f not in meta["fields"]:
            raise ValueError(f"field {f!r} has no positions (sidecar "
                             f"covers {meta['fields']})")


def build_positions(spark: SparkSession, index_dir: str,
                    fields=DEFAULT_POSITION_FIELDS) -> dict:
    """Build the positional sidecar for an existing index directory,
    wave by wave (same wave geometry as the main build, read from the
    index's own stats.json). Idempotent full overwrite; records the
    indexed fields in ``positions/_meta.json`` (written LAST — its
    presence marks a complete sidecar, and maintenance keys off it)."""
    import json
    with open(os.path.join(index_dir, "stats.json")) as fh:
        stats = json.load(fh)
    cfg = IndexConfig.from_stats(stats)
    bad = [f for f in fields if f not in cfg.fields]
    if bad:
        raise ValueError(
            f"fields {bad} are not indexed fields {cfg.fields}")
    docs_df = spark.read.parquet(os.path.join(index_dir, "docs"))
    segs = sorted(r["segment_id"] for r in
                  docs_df.select("segment_id").distinct().collect())
    shutil.rmtree(os.path.join(index_dir, "positions"), ignore_errors=True)
    waves: dict[int, list[int]] = {}
    for s in segs:
        waves.setdefault(
            (s // cfg.wave_segments) * cfg.wave_segments, []).append(s)
    for wkey, wave in sorted(waves.items()):
        write_positions_wave(spark, docs_df, wave, cfg, index_dir,
                             fields=fields, wkey=wkey)
    meta = {"fields": list(fields), "format": 1}
    atomic_write_json(_meta_path(index_dir), meta)
    return meta


def refresh_positions(spark: SparkSession, index_dir: str,
                      affected_segments: set[int],
                      present_segs: set[int]) -> list[int]:
    """Segment-granular sidecar refresh after a delete/upsert — the
    positions twin of maintain._rebuild_waves, same wave/segment
    granularity, idempotent (crash recovery just replays it). No-op when
    no sidecar exists. Returns the rewritten wave keys."""
    import json
    meta = positions_meta(index_dir)
    if meta is None:
        return []
    with open(os.path.join(index_dir, "stats.json")) as fh:
        stats = json.load(fh)
    cfg = IndexConfig.from_stats(stats)
    fields = tuple(meta["fields"])
    pos_root = os.path.join(index_dir, "positions")
    manifested: dict[int, list[int]] = {}
    for e in os.listdir(pos_root):
        if not e.startswith("wave="):
            continue
        wk = int(e.split("=", 1)[1])
        segs = [int(d.split("=", 1)[1])
                for d in os.listdir(os.path.join(pos_root, e))
                if d.startswith("segment_id=")]
        manifested[wk] = segs
    docs_df = spark.read.parquet(os.path.join(index_dir, "docs"))
    rebuilt: list[int] = []
    seen: set[int] = set()
    for wk, segs in sorted(manifested.items()):
        seen.update(segs)
        touch = sorted(affected_segments & set(segs))
        if touch:
            write_positions_wave(spark, docs_df, segs, cfg, index_dir,
                                 fields=fields, wkey=wk,
                                 rebuild_segs=touch)
            rebuilt.append(wk)
    new_segs = sorted(s for s in affected_segments
                      if s not in seen and s in present_segs)
    for s in new_segs:
        wk = (s // cfg.wave_segments) * cfg.wave_segments
        write_positions_wave(spark, docs_df, [s], cfg, index_dir,
                             fields=fields, wkey=wk, rebuild_segs=[s])
        if wk not in rebuilt:
            rebuilt.append(wk)
    return rebuilt
