"""Index build: one packed posting wave per group of segments, written
into the term-bucketed layout, checkpointed wave by wave.

Dataflow per wave:

1. one Arrow pass over the forward-index rows: tokenize + count each
   batch (batch_doc_term_tfs), group the batch's entries by
   (segment, term), emit packed varbyte buffers — the MAP-SIDE COMBINE
   that defeats skew (a hot term's work arrives as many bounded
   batch-partials, never one planet-sized row)
2. ONE hash exchange on (segment, term) + a spillable in-partition sort
   by (segment, term)
3. streaming merge+encode (mapInPandas): concatenate each contiguous
   group and block-encode it
4. one small exchange of the ENCODED rows on (segment, md5-term-bucket),
   so the write lands one term-sorted file per
   ``wave=K/segment_id=S/bucket=B`` directory (bucket_cluster)

Segmentation itself is the coarse salt: a term's GLOBAL posting list is
partitioned across segments by doc_id range (the reference shards docs
across workers the same way, demo/job/build_index.go:51), so nothing ever
materializes a planet-sized single list.

Resume: segments are processed in waves; each wave writes its postings and
its manifest rows to wave-scoped directories with overwrite semantics, so
a killed build redoes at most one wave and skips all manifested segments
(north-rule checkpoint/lineage requirement). The reference instead replays
its whole KV store on restart (index_service/indexer.go:42-58).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from quicker_spark.functions.buckets import N_BUCKETS_DEFAULT, bucket_col
from quicker_spark.functions.kernels import DEFAULT_BLOCK, encode_postings_batch
from quicker_spark.io import atomic_write_json
from quicker_spark.model import B, K1
from quicker_spark.operators.docs import prepare_docs


# On-disk layout version. Bumped whenever the postings schema or docs
# partitioning changes; a resume against an older-format checkpoint
# rebuilds from scratch instead of mixing layouts.
# v4: postings + manifest partitioned wave=K/segment_id=S, so index
# maintenance rewrites single segments instead of whole waves.
# v5: postings + positions partitioned wave=K/segment_id=S/bucket=B
# (deterministic md5 term bucket) — the term-pruned serving scan becomes
# a PARTITION-pruned scan reading 1/term_buckets of each segment.
INDEX_FORMAT = 5


@dataclass
class IndexConfig:
    seg_docs: int = 100_000          # docs per segment (doc_id range)
    block_size: int = DEFAULT_BLOCK  # postings per compressed block
    k1: float = K1
    b: float = B
    wave_segments: int = 64          # segments per checkpointed build wave
    fields: tuple[str, ...] = ("content", "repo", "path", "lang")
    n_parts: int | None = None       # doc-id assignment parallelism
    id_col: str | None = None        # trust a pre-assigned dense int64 id
    # term->directory fan-out of the clustered write
    # (wave=K/segment_id=S/bucket=B, bucket = md5(term) % term_buckets):
    # the query planner maps each query term to its bucket driver-side,
    # so every term-pruned scan is a PARTITION-pruned scan reading
    # 1/term_buckets of each segment (see functions/buckets.py for the
    # sizing law). Fixed per index (persisted in stats.json); >= 2.
    term_buckets: int = N_BUCKETS_DEFAULT
    # pre-warm one python worker per task slot with a pipeline-shaped
    # dummy wave before the first real wave (see warm_python_workers).
    # Only fires when the corpus is large enough that the per-worker
    # first-batch cost is visible (docs bytes >= 32 MB x parallelism) —
    # tiny test corpora skip it.
    warm_workers: bool = True

    def __post_init__(self):
        if int(self.term_buckets) < 2:
            raise ValueError(
                f"term_buckets must be >= 2, got {self.term_buckets}")

    @classmethod
    def from_stats(cls, stats: dict) -> "IndexConfig":
        """Reconstruct the build configuration an existing index was
        created with from its own ``stats.json`` — every cfg field that
        shapes the on-disk layout is persisted there, so maintenance and
        streaming compaction can never silently rebuild a generation
        with mismatched geometry. Both readers call it at open: an index
        without a term-bucketed layout (``term_buckets >= 2``) is
        refused."""
        nb = int(stats.get("term_buckets") or 0)
        if nb < 2:
            raise ValueError(
                "index has no term-bucketed layout (stats.json "
                f"term_buckets={stats.get('term_buckets')!r}, need >= 2); "
                "rebuild this index")
        return cls(
            seg_docs=int(stats["seg_docs"]),
            block_size=int(stats["block_size"]),
            k1=float(stats["k1"]), b=float(stats["b"]),
            wave_segments=int(stats.get("wave_segments", 64)),
            fields=tuple(stats.get("fields", ("content", "repo", "path",
                                              "lang"))),
            id_col=stats.get("id_col"),
            term_buckets=nb,
        )


POSTINGS_SCHEMA = T.StructType([
    T.StructField("df", T.LongType()),
    T.StructField("ids", T.BinaryType()),
    T.StructField("tfs", T.BinaryType()),
    T.StructField("dls", T.BinaryType()),
    T.StructField("bits", T.BinaryType()),
    T.StructField("block_last", T.ArrayType(T.LongType())),
    # immutable WAND bound inputs: the admissible bound for the CURRENT
    # avgdl is derived at QUERY time (kernels.EncodedPostings.with_bounds)
    # from the corner stats + the tight reference bound at the wave's
    # build-time avgdl — posting segments never need a metadata rewrite
    # when corpus stats shift (delete/upsert)
    T.StructField("block_max_tf", T.ArrayType(T.LongType())),
    T.StructField("block_min_dl", T.ArrayType(T.LongType())),
    T.StructField("block_min_tf", T.ArrayType(T.LongType())),
    T.StructField("block_max_dl", T.ArrayType(T.LongType())),
    T.StructField("block_max_u_ref", T.ArrayType(T.DoubleType())),
])


# packed-partial rows shuffled by the single-exchange wave: one row per
# (map-batch, segment, term), the four per-entry streams delta+varbyte
# encoded map-side (~5-6 B/entry: ids as a per-partial restarting delta
# chain, tf/dl/bits plain varbyte) with `n` carrying the entry count so
# the merge side can batch-decode without walking buffers. The term
# string is carried once per batch-partial instead of once per posting
# entry. vs raw int64 buffers (32 B/entry) this cuts the bytes every
# wave byte crosses — shuffle write/read AND the in-partition sort's
# memory passes — ~5x; on the pinned scaling rig the wave is
# memory-bandwidth-bound at 8 cores, so payload bytes are the scaling
# limiter, not CPU. (Non-monotonic ids at an input-file boundary wrap
# the uint64 delta; the merge's mod-2^64 cumsum restores them exactly,
# at worst a rare 10-byte varbyte.)
PARTIAL_SCHEMA = T.StructType([
    T.StructField("segment_id", T.LongType()),
    T.StructField("term", T.StringType()),
    T.StructField("n", T.IntegerType()),
    T.StructField("ids_raw", T.BinaryType()),
    T.StructField("tfs_raw", T.BinaryType()),
    T.StructField("dls_raw", T.BinaryType()),
    T.StructField("bits_raw", T.BinaryType()),
])

# final wave output: the written postings columns, before bucket_cluster
# adds the bucket partition column
WAVE_OUT_SCHEMA = T.StructType(
    [T.StructField("segment_id", T.LongType()),
     T.StructField("term", T.StringType())]
    + POSTINGS_SCHEMA.fields
    + [T.StructField("avgdl_ref", T.DoubleType())]
)


def _make_pack_iter(fields: tuple[str, ...]):
    """mapInPandas stage 1 of the packed wave: per Arrow batch, tokenize +
    count (shared batch_doc_term_tfs), then group the batch's (doc, term)
    entries by (segment, term) and emit ONE row per group with the entry
    streams varbyte-packed. This is the map-side combine: every partial
    is a flat buffer produced C-side (no JVM ``collect_list`` of struct
    arrays), and the term string crosses the shuffle once per
    batch-partial instead of once per posting entry."""
    import numpy as np

    from quicker_spark.functions.codec import varbyte_encode_with_counts
    from quicker_spark.functions.tokenize import batch_doc_term_tfs

    def pack(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            didx, terms, tfs = batch_doc_term_tfs(
                fields, [pdf[f] for f in fields])
            if len(didx) == 0:
                continue
            seg = pdf["segment_id"].to_numpy(np.int64)[didx]
            ids = pdf["doc_id"].to_numpy(np.int64)[didx]
            dls = pdf["doc_len"].to_numpy(np.int64)[didx]
            bts = pdf["bits_feature"].to_numpy(np.int64)[didx]
            tcodes, tuniq = pd.factorize(terms)
            scodes, suniq = pd.factorize(seg)
            v = len(tuniq)
            key = scodes.astype(np.int64) * v + tcodes
            order = np.argsort(key, kind="stable")
            key_s = key[order]
            starts = np.nonzero(np.r_[True, key_s[1:] != key_s[:-1]])[0]
            ends = np.r_[starts[1:], len(key_s)]
            ids, tfs = ids[order], tfs[order].astype(np.int64)
            dls, bts = dls[order], bts[order]
            ks = key_s[starts]
            total = len(ids)
            # ids: delta chain restarting (absolute) at each partial's
            # first entry; tf/dl/bits plain varbyte. ONE encode pass per
            # stream per batch, per-partial slices via byte-offset cumsum
            # (the same batching discipline as encode_postings_batch).
            is_start = np.zeros(total, dtype=bool)
            is_start[starts] = True
            prev = np.empty(total, dtype=np.int64)
            prev[0] = 0
            prev[1:] = ids[:-1]
            id_deltas = np.where(is_start, ids, ids - prev).astype(np.uint64)
            sliced = {}
            for name, vals in (("ids_raw", id_deltas),
                               ("tfs_raw", tfs.astype(np.uint64)),
                               ("dls_raw", dls.astype(np.uint64)),
                               ("bits_raw", bts.astype(np.uint64))):
                buf, nb = varbyte_encode_with_counts(vals)
                cum = np.zeros(total + 1, dtype=np.int64)
                np.cumsum(nb, out=cum[1:])
                sliced[name] = [buf[cum[s]:cum[e]]
                                for s, e in zip(starts, ends)]
            yield pd.DataFrame({
                "segment_id": np.asarray(suniq)[(ks // v)].astype(np.int64),
                "term": np.asarray(tuniq, dtype=object)[(ks % v)],
                "n": (ends - starts).astype(np.int32),
                **sliced,
            })

    return pack


def _make_merge_encode_iter(avgdl: float, k1: float, b: float,
                            block_size: int):
    """mapInPandas stage 2 of the packed wave: input partitions are
    clustered by (segment, term-bucket) and SORTED by (segment, term), so
    a linear walk sees each (segment, term) group contiguously. Groups are
    flushed batch-by-batch (memory stays at Arrow-batch scale; only the
    group straddling a batch boundary is carried), batch-decoded from
    their varbyte partial buffers (one decode pass per stream per Arrow
    batch), and block-encoded via encode_postings_batch —
    whose per-run doc_id lexsort makes the output bytes independent of
    partial arrival order. Emission preserves the sorted term order, so
    the written files keep the row-group term pruning the query path
    relies on."""
    import numpy as np

    names = [f.name for f in POSTINGS_SCHEMA.fields]

    def _enc(groups):
        rows = encode_postings_batch(
            [g[2] for g in groups], [g[3] for g in groups],
            [g[4] for g in groups], [g[5] for g in groups],
            avgdl, k1, b, block_size)
        df = pd.DataFrame(rows, columns=names)
        df.insert(0, "term", pd.Series([g[1] for g in groups], dtype=object))
        df.insert(0, "segment_id",
                  np.array([g[0] for g in groups], dtype=np.int64))
        df["avgdl_ref"] = float(avgdl)
        return df

    def merge(batches):
        from quicker_spark.functions.codec import varbyte_decode

        carry_key = None   # (segment_id, term) of the still-open group
        carry = None       # 4 lists of decoded value-chunk arrays
        for pdf in batches:
            if len(pdf) == 0:
                continue
            segs = pdf["segment_id"].to_numpy(np.int64)
            terms = pdf["term"].to_numpy(object)
            change = np.r_[True, (segs[1:] != segs[:-1])
                           | (terms[1:] != terms[:-1])]
            starts = np.nonzero(change)[0]
            ends = np.r_[starts[1:], len(pdf)]
            # batch decode: ONE varbyte pass per stream over the whole
            # Arrow batch (varbyte streams are self-delimiting, so the
            # concatenation decodes to the concatenated values), then
            # per-partial numpy views via the `n` entry counts
            n_arr = pdf["n"].to_numpy(np.int64)
            vstarts = np.zeros(len(pdf) + 1, dtype=np.int64)
            np.cumsum(n_arr, out=vstarts[1:])
            vals = [varbyte_decode(b"".join(pdf[c].tolist()))
                    for c in ("ids_raw", "tfs_raw", "dls_raw", "bits_raw")]
            # ids: per-partial restarting delta chains -> absolutes via
            # mod-2^64 cumsum minus each partial's preceding sum (exact
            # even for wrapped negative deltas at input-file boundaries)
            dcum = np.cumsum(vals[0], dtype=np.uint64)
            base = np.zeros(len(pdf), dtype=np.uint64)
            nz = vstarts[:-1] > 0
            base[nz] = dcum[vstarts[:-1][nz] - 1]
            streams = [(dcum - np.repeat(base, n_arr)).astype(np.int64)] + \
                [v.astype(np.int64) for v in vals[1:]]
            complete = []
            for s, e in zip(starts, ends):
                k = (int(segs[s]), terms[s])
                chunks = [[streams[j][vstarts[r]:vstarts[r + 1]]
                           for r in range(s, e)] for j in range(4)]
                if carry_key == k:
                    for j in range(4):
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


def wave_postings_packed(docs_wave: DataFrame, cfg: IndexConfig,
                         avgdl: float) -> DataFrame:
    """Single-exchange posting build for one wave.

    Pipeline: map-side packed partials (every partial is bounded by the
    Arrow batch) -> ONE hash exchange on (segment, term) -> spillable
    in-partition sort by (segment, term) -> streaming merge+encode, whose
    output is term-sorted per (segment, term) group.

    Partials are flat varbyte buffers, so no JVM collect_list of struct
    arrays (object hash agg + GC) is built, and raw entries cross one
    exchange: the wave is memory-bandwidth-bound at 8 cores (BENCH.md
    round 4), so payload bytes set its speed. Hot-term bound: one
    (segment, term) run materializes at most seg_docs entries (~32 B raw
    each) inside the encoder.
    """
    pack = _make_pack_iter(cfg.fields)
    partial = docs_wave.select(
        "segment_id", "doc_id", "doc_len", "bits_feature",
        *[F.col(f) for f in cfg.fields if f not in
          ("segment_id", "doc_id", "doc_len", "bits_feature")],
    ).mapInPandas(pack, PARTIAL_SCHEMA)
    merge = _make_merge_encode_iter(avgdl, cfg.k1, cfg.b, cfg.block_size)
    # Exchange on (segment, TERM) directly — the finest unit the merge
    # can accept (a group must land whole in one partition). Coarser
    # term-hash buckets measured 2.6x reducer skew at 8 cores (~3 keys
    # per shuffle partition -> Poisson collision imbalance -> 21 s max
    # task vs 8 s mean and a 25%-occupancy stage tail, wave_profile.py);
    # per-term keys give thousands of load units per partition so hash
    # placement load-averages out. Hot-term safety is unchanged: one
    # (segment, term) run is bounded by seg_docs entries either way.
    return (partial
            .repartition(F.col("segment_id"), F.col("term"))
            .sortWithinPartitions("segment_id", "term")
            .mapInPandas(merge, WAVE_OUT_SCHEMA))


def warm_python_workers(spark: SparkSession, cfg: IndexConfig,
                        avgdl: float) -> float:
    """Run one tiny wave-shaped job with exactly one task per executor
    slot, so every pooled python worker pays its first-batch cost BEFORE
    the real wave; returns elapsed seconds.

    Measured on the 1M-doc pinned rig: a fresh python worker's first pack
    batch costs ~8-15 s (numpy/pandas lazy init + Arrow serialization
    first-touch + the JVM's cold shuffle-write path) vs ~1 s steady-state
    — and the cost is paid by EVERY slot concurrently at the head of the
    first pack stage. On a real N vs 4N cluster this is per-executor
    initialization, constant and amortized over the executor's lifetime;
    in a timed single-build benchmark it silently taxes the large-N level
    8x harder than the small one. The dummy wave (rows ~ slots, one task
    per slot via an exact ``spark.range(..., numPartitions=slots)``)
    exercises the same code path end to end — pack UDF, (segment, term)
    exchange, in-partition sort, merge+encode UDF — for a few hundred ms
    of steady-state work, leaving the pool warm.
    """
    t0 = time.time()
    par = max(1, spark.sparkContext.defaultParallelism)
    n = par * 64
    str_cols = [
        F.concat(F.lit("warm def return import class x"),
                 (F.col("id") % 17).cast("string")).alias(f)
        for f in cfg.fields
        if f not in ("segment_id", "doc_id", "doc_len", "bits_feature")
    ]
    dummy = (
        spark.range(0, n, 1, par)
        .select((F.col("id") % 4).cast("long").alias("segment_id"),
                F.col("id").alias("doc_id"),
                F.lit(8).cast("long").alias("doc_len"),
                F.lit(0).cast("long").alias("bits_feature"),
                *str_cols)
    )
    wave = wave_postings_packed(dummy, cfg, avgdl or 10.0)
    wave.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def bucket_cluster(rows: DataFrame, n_buckets: int) -> DataFrame:
    """Cluster ENCODED posting/position rows for the bucket-partitioned
    write: one exchange on (segment, md5-term-bucket), term-sorted within
    partitions, so the write lands exactly ONE term-sorted file per
    (segment_id=S, bucket=B) directory.

    This exchange moves already-encoded rows — measured ~1/4 of the
    partial-stream bytes the wave's merge exchange moves — and buys the
    serving property the whole index exists for: a query term maps to its
    bucket driver-side (functions/buckets.py), so every term-pruned scan
    is a PARTITION-pruned scan (PartitionFilters in the plan) reading
    1/n_buckets of each segment instead of relying on parquet row-group
    stats that cannot discriminate between files holding hash-random term
    subsets. At the 10^12-doc design point that is GBs per query instead
    of the full postings tree."""
    # Sort by (partition cols, term): the partitioned writer REQUIRES its
    # partition columns as a sort prefix and silently inserts its own
    # sort when the plan's ordering doesn't provide it — an inserted sort
    # that is not guaranteed stable w.r.t. term (observed: AQE-off plans
    # broke per-file term order when only `term` was sorted here).
    # Providing the full prefix makes the writer insert nothing and the
    # per-file term order is guaranteed by construction.
    return (rows.withColumn("bucket", bucket_col(F.col("term"), n_buckets))
            .repartition(F.col("segment_id"), F.col("bucket"))
            .sortWithinPartitions("segment_id", "bucket", "term"))


def write_term_stats(ts: DataFrame, path: str) -> None:
    """Write (term, df_global) range-partitioned and sorted by term, in
    ~1 MB row groups: their term ranges are disjoint, so a term lookup
    (the engine's ``read_df_global``, dictionary slices) reads only the
    row groups whose min/max hold its terms, never the whole vocabulary."""
    (ts.repartitionByRange("term").sortWithinPartitions("term")
       .write.mode("overwrite").option("parquet.block.size", 1 << 20)
       .parquet(path))


def _success(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def write_wave(spark: SparkSession, docs_df: DataFrame, wave: list[int],
               cfg: IndexConfig, avgdl: float, out_dir: str,
               wkey: int | None = None,
               rebuild_segs: list[int] | None = None) -> float:
    """Build + checkpoint one wave of segments; returns elapsed seconds.

    Layout: ``postings/wave=K/segment_id=S/bucket=B`` and
    ``manifest/wave=K/segment_id=S`` — the wave is the unit of build
    resume, the SEGMENT subdirectory is the unit of maintenance rewrite.

    ``rebuild_segs=None``: full-wave static overwrite (idempotent — the
    resume path). ``rebuild_segs=[...]``: maintenance-granular rewrite of
    only those segments within the wave; sibling segment directories are
    never touched, so a one-doc upsert no longer pays up to
    ``wave_segments`` x its proportional rebuild cost. The affected
    segment dirs are removed FIRST (a segment whose docs were all
    deleted, or whose remaining docs carry no terms, writes no
    replacement files — dynamic partition overwrite would silently keep
    the stale postings and resurrect deleted docs), then the new rows
    land via dynamic partition overwrite; the whole sequence is
    idempotent, so maintenance crash recovery just replays it.
    """
    w0 = time.time()
    wkey = min(wave) if wkey is None else wkey
    segs = sorted(int(s) for s in (rebuild_segs if rebuild_segs is not None
                                   else wave))
    wave_dir = os.path.join(out_dir, "postings", f"wave={wkey}")
    man_dir = os.path.join(out_dir, "manifest", f"wave={wkey}")
    lo, hi = min(segs) * cfg.seg_docs, (max(segs) + 1) * cfg.seg_docs
    docs_wave = docs_df.filter(
        (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        & F.col("segment_id").isin(segs)
    )
    # one small exchange of the ENCODED rows clusters them into bucket
    # directories the query planner can partition-prune
    writer = (bucket_cluster(wave_postings_packed(docs_wave, cfg, avgdl),
                             cfg.term_buckets)
              .write.mode("overwrite").partitionBy("segment_id", "bucket"))
    if rebuild_segs is None:
        writer.parquet(wave_dir)
    else:
        import shutil
        for s in segs:
            shutil.rmtree(os.path.join(wave_dir, f"segment_id={s}"),
                          ignore_errors=True)
            shutil.rmtree(os.path.join(man_dir, f"segment_id={s}"),
                          ignore_errors=True)
        writer.option("partitionOverwriteMode", "dynamic").parquet(wave_dir)
    # lineage manifest rows for the (re)built segments
    if not (os.path.isdir(wave_dir)
            and any(e.startswith("segment_id=")
                    for e in os.listdir(wave_dir))):
        return time.time() - w0   # nothing manifested (all segs emptied)
    wrote = spark.read.parquet(wave_dir)
    if rebuild_segs is not None:
        wrote = wrote.filter(F.col("segment_id").isin(segs))
    mrows = (
        wrote.groupBy("segment_id")
        .agg(F.count(F.lit(1)).alias("n_terms"), F.sum("df").alias("n_postings"))
        .withColumn("build_secs", F.lit(float(time.time() - w0)))
    )  # `wave` partition dir supplies the wave column on read
    mwriter = (mrows.repartition(F.col("segment_id"))
               .write.mode("overwrite").partitionBy("segment_id"))
    if rebuild_segs is None:
        mwriter.parquet(man_dir)
    else:
        mwriter.option("partitionOverwriteMode", "dynamic").parquet(man_dir)
    return time.time() - w0


@dataclass
class BuildReport:
    n_docs: int
    n_segments: int
    waves_run: int
    waves_skipped: int
    build_secs: float
    docs_per_sec: float
    wave_secs: list[float] = field(default_factory=list)
    prepare_secs: float = 0.0
    term_stats_secs: float = 0.0
    prepare_phases: dict = field(default_factory=dict)


def build_index(spark: SparkSession, corpus: DataFrame, out_dir: str,
                cfg: IndexConfig | None = None, resume: bool = True,
                max_waves: int | None = None) -> BuildReport:
    """Build (or resume) the full index under ``out_dir``.

    Layout:
      docs/        forward index, sorted by doc_id (range-prunable)
      stats.json   corpus stats {n_docs, total_len, avgdl} + the build
                   geometry IndexConfig.from_stats reads back
      postings/wave=N/   block-compressed posting runs per wave
                         (segment_id=S/bucket=B directories)
      manifest/wave=N/   per-segment lineage rows (checkpoint ledger)
      term_stats/  global document frequency per term
    """
    cfg = cfg or IndexConfig()
    t0 = time.time()
    docs_path = os.path.join(out_dir, "docs")
    stats_path = os.path.join(out_dir, "stats.json")

    # stale-format checkpoint: wipe and rebuild rather than mixing layouts
    if resume and os.path.exists(stats_path):
        with open(stats_path) as fh:
            if json.load(fh).get("format") != INDEX_FORMAT:
                import shutil
                shutil.rmtree(out_dir, ignore_errors=True)

    # Build-local tuning, restored in the finally below: AQE's only effect
    # on the build is a driver re-plan JOB BREAK at every exchange (the
    # wave becomes 3-4 sequential jobs; coalescing is disabled anyway
    # because the wave sizes its own partitions) — measured 3.3-3.6 s of
    # inter-stage driver gaps per 1M-doc build, a constant that taxes the
    # large-N level 4x harder in the N vs 4N ratio.
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", None)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return _build_index_body(spark, corpus, out_dir, cfg, resume,
                                 max_waves, t0, docs_path, stats_path)
    finally:
        if prev_aqe is not None:
            spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        else:
            spark.conf.unset("spark.sql.adaptive.enabled")


def _build_index_body(spark: SparkSession, corpus: DataFrame, out_dir: str,
                      cfg: IndexConfig, resume: bool,
                      max_waves: int | None, t0: float,
                      docs_path: str, stats_path: str) -> BuildReport:
    # -- phase 1: forward index + global stats (skipped when checkpointed)
    t_prep = time.time()
    prep_phases: dict[str, float] = {}
    par = max(1, spark.sparkContext.defaultParallelism)
    if not (resume and _success(docs_path) and os.path.exists(stats_path)):
        t_rank = time.time()
        # The rank-bucket window exchange sets the docs_write task count.
        # Session policy (cores x 4) is right for the posting merge, but
        # here each extra task is an extra parquet file + writer/zstd
        # setup (~1.5 s fixed per task measured) for a write that is
        # bandwidth-bound anyway: cap at cores x 2 (floor 4). At warehouse
        # scale callers size shuffle partitions to the data and the
        # session value (>= cores x 2) wins the min().
        prev_sp = spark.conf.get("spark.sql.shuffle.partitions", None)
        try:
            if prev_sp is not None and prev_sp.isdigit():
                spark.conf.set("spark.sql.shuffle.partitions",
                               str(min(int(prev_sp), max(4, par * 2))))
            docs = prepare_docs(corpus, cfg.seg_docs, n_parts=cfg.n_parts,
                                id_col=cfg.id_col)
            prep_phases["rank"] = time.time() - t_rank
            t_write = time.time()
            # partitioned by segment: maintenance (delete/upsert) rewrites
            # only the affected segment directories (dynamic partition
            # overwrite), and the per-wave doc_id range filter prunes
            # directories at build. doc ranges are contiguous per task, so
            # each task emits few dirs. At 10^12 docs size seg_docs so the
            # dir count stays sane (or swap the seam to Iceberg, where
            # MERGE replaces dir-level overwrite). Corpus stats ride the
            # write job as an Observation — no post-write re-read of the
            # whole docs table.
            from pyspark.sql import Observation

            obs = Observation("docs_stats")
            (docs.observe(obs, F.count(F.lit(1)).alias("n"),
                          F.sum("doc_len").alias("total"),
                          F.max("doc_id").alias("mx"))
                 # segment_id = doc_id // seg_docs is monotone in doc_id,
                 # so this equals a doc_id sort — and it carries the
                 # partition-col prefix the writer requires, so no
                 # (unstable) writer-inserted segment sort can break the
                 # docs files' doc_id order (range pruning depends on it)
                 .sortWithinPartitions("segment_id", "doc_id")
                 .write.partitionBy("segment_id")
                 .mode("overwrite").parquet(docs_path))
            prep_phases["docs_write"] = time.time() - t_write
        finally:
            if prev_sp is not None:
                spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
        t_agg = time.time()
        agg = obs.get
        stats = {
            "n_docs": int(agg["n"]), "total_len": int(agg["total"] or 0),
            "max_doc_id": int(agg["mx"]) if agg["mx"] is not None else -1,
            "k1": cfg.k1, "b": cfg.b, "seg_docs": cfg.seg_docs,
            "block_size": cfg.block_size, "fields": list(cfg.fields),
            "wave_segments": cfg.wave_segments, "id_col": cfg.id_col,
            "term_buckets": cfg.term_buckets,
            "format": INDEX_FORMAT,
        }
        stats["avgdl"] = stats["total_len"] / stats["n_docs"] if stats["n_docs"] else 0.0
        atomic_write_json(stats_path, stats)
        prep_phases["stats_agg"] = time.time() - t_agg
    prepare_secs = time.time() - t_prep
    with open(stats_path) as fh:
        stats = json.load(fh)
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    n_segments = (n_docs + cfg.seg_docs - 1) // cfg.seg_docs

    # -- phase 2: posting waves with manifest-based resume
    manifest_path = os.path.join(out_dir, "manifest")
    done: set[int] = set()
    if resume and os.path.isdir(manifest_path):
        try:
            done = {
                r["segment_id"]
                for r in spark.read.parquet(manifest_path).select("segment_id").collect()
            }
        except Exception:
            done = set()

    # Split sizing for the pack stage: the tokenize scan is the wave's
    # longest python-CPU phase, and at default 128 MB splits a 1M-doc
    # wave reads as barely more splits than cores (profiled: 9 tasks of
    # ~80 s on 8 cores — zero headroom for stragglers and a whole-stage
    # tail if any split runs long). Target ~4 splits per core, floored
    # at 16 MB so tiny corpora don't fragment; at warehouse scale
    # docs_bytes/(4*cores) exceeds the 128 MB default and the clamp
    # keeps Spark's own split size.
    par = max(1, spark.sparkContext.defaultParallelism)
    docs_bytes_now = 0
    for dp, _dn, fns in os.walk(docs_path):
        docs_bytes_now += sum(os.path.getsize(os.path.join(dp, f))
                              for f in fns)
    split = min(128 << 20, max(16 << 20, docs_bytes_now // (4 * par)))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(int(split)))
    docs_df = spark.read.parquet(docs_path)
    todo = [s for s in range(n_segments) if s not in done]
    waves = [todo[i:i + cfg.wave_segments]
             for i in range(0, len(todo), cfg.wave_segments)]
    if max_waves is not None:
        waves = waves[:max_waves]

    # pre-warm the python worker pool before the first real wave: per-slot
    # first-batch cost is ~8-15 s on a fresh pool and the first pack stage
    # otherwise pays it on every slot at once (constant per-executor setup
    # at cluster scale; see warm_python_workers). Gated to corpora big
    # enough for the wave to dwarf the ~1-3 s dummy job.
    if cfg.warm_workers and waves and docs_bytes_now >= (32 << 20) * par:
        prep_phases["worker_warm"] = round(
            warm_python_workers(spark, cfg, avgdl), 2)

    prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    wave_secs: list[float] = []
    try:
        for wave in waves:
            wave_secs.append(
                write_wave(spark, docs_df, wave, cfg, avgdl, out_dir))
    finally:
        # build-local tuning only: don't leak the split size into the
        # serving session this SparkSession goes on to run
        if prev_split is not None:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)
        else:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")

    # -- phase 3: global term stats (once everything is manifested)
    t_ts = time.time()
    all_done = not [s for s in range(n_segments)
                    if s not in done.union(s for w in waves for s in w)]
    if all_done and (waves or not _success(os.path.join(out_dir, "term_stats"))):
        posts = spark.read.parquet(os.path.join(out_dir, "postings"))
        write_term_stats(posts.groupBy("term").agg(
            F.sum("df").alias("df_global")), os.path.join(out_dir, "term_stats"))
        # vocabulary size (count-star = parquet footer metadata only):
        # the query tier gates its broadcast-vs-shuffle choice for
        # whole-vocabulary joins (significant_terms) on this
        stats["n_terms"] = int(
            spark.read.parquet(os.path.join(out_dir, "term_stats")).count())
        atomic_write_json(stats_path, stats)
    term_stats_secs = time.time() - t_ts

    secs = time.time() - t0
    built_docs = sum(min(cfg.seg_docs, n_docs - s * cfg.seg_docs)
                     for w in waves for s in w)

    def _dir_bytes(p: str) -> int:
        total = 0
        for dp, _dn, fns in os.walk(p):
            total += sum(os.path.getsize(os.path.join(dp, f)) for f in fns)
        return total

    postings_bytes = _dir_bytes(os.path.join(out_dir, "postings"))
    docs_bytes = _dir_bytes(docs_path)
    report = BuildReport(
        n_docs=n_docs, n_segments=n_segments, waves_run=len(waves),
        waves_skipped=(len(done) + cfg.wave_segments - 1) // cfg.wave_segments,
        build_secs=secs,
        docs_per_sec=(built_docs / secs) if secs > 0 else 0.0,
        wave_secs=wave_secs,
        prepare_secs=prepare_secs,
        term_stats_secs=term_stats_secs,
        prepare_phases={k: round(v, 2) for k, v in prep_phases.items()},
    )
    atomic_write_json(
        os.path.join(out_dir, "metrics.json"),
        {**stats, "build_secs": secs, "docs_per_sec": report.docs_per_sec,
         "waves_run": len(waves), "wave_secs": wave_secs,
         "prepare_secs": prepare_secs,
         "prepare_phases": {k: round(v, 2) for k, v in prep_phases.items()},
         "term_stats_secs": term_stats_secs,
         "postings_bytes": postings_bytes,
         "docs_bytes": docs_bytes,
         "n_segments": n_segments})
    return report
