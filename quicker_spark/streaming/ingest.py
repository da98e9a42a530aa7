"""Structured Streaming ingest: micro-batch upserts into a live index.

The reference has no streaming path — ingest is batch CSV plus point
AddDoc upserts over gRPC (reference: demo/job/build_index.go:23-102,
index_service/sentinel.go:88-103; SURVEY.md §2.5 documents the absence).
This is the Spark-native equivalent: a ``readStream`` source feeds
``foreachBatch``, and every generation applies the same delete-then-
insert upsert contract the reference's AddDoc has (fresh larger ids for
replaced business keys) via :func:`quicker_spark.operators.maintain.
upsert_docs`. The streaming checkpoint gives exactly-once batch replay;
the index's own wave manifests make the upsert idempotent per batch.

Compaction cadence: with ``compact_every=N`` micro-batches accumulate in
a STAGING GENERATION (appended parquet next to the index) and the index
is compacted — one upsert of the whole deduplicated generation — every N
batches, so the affected-wave rebuild cost is paid once per generation
instead of once per micro-batch (the amortization a high-rate stream
needs; per-batch rebuild is the N=1 special case). Batches within a
generation resolve by latest-batch-wins on the business key; a replayed
batch (foreachBatch is at-least-once) appends identical rows that the
same dedupe collapses, so crash-replay converges. A drained stream may
leave a partial generation behind — :func:`flush_ingest` compacts the
tail.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quicker_spark.io import atomic_write_json
from quicker_spark.operators.build import IndexConfig, build_index
from quicker_spark.operators.docs import DOC_KEY_COLS, dedupe_latest
from quicker_spark.operators.maintain import upsert_docs

_BATCH_COL = "_batch_id"


def index_exists(index_dir: str) -> bool:
    return os.path.exists(os.path.join(index_dir, "stats.json"))


def _staging_dir(index_dir: str) -> str:
    # sibling path: a bootstrap build may wipe index_dir on a stale-format
    # checkpoint, which must never destroy staged-but-uncompacted batches
    return index_dir.rstrip("/") + "_ingest_staging"


def _events_path(index_dir: str) -> str:
    return index_dir.rstrip("/") + "_ingest_events.jsonl"


def _staged_batches(staging: str) -> set[int]:
    meta = os.path.join(staging, "_staged_batches.json")
    if not os.path.exists(meta):
        return set()
    try:
        with open(meta) as fh:
            return set(json.load(fh))
    except (json.JSONDecodeError, UnicodeDecodeError):
        # Writes are atomic (temp+rename), so corruption is legacy or
        # external. Treating it as "nothing recorded" is safe: the
        # checkpointed stream replays the unacknowledged batches, the
        # re-appended rows get re-recorded, and the per-key latest-wins
        # dedupe collapses the duplicates — unlike raising, which would
        # wedge the stream until manual deletion.
        return set()


def _record_batch(staging: str, batch_id: int) -> set[int]:
    staged = _staged_batches(staging) | {int(batch_id)}
    atomic_write_json(os.path.join(staging, "_staged_batches.json"),
                      sorted(staged))
    return staged


def _stage_cfg(staging: str, cfg: IndexConfig) -> None:
    """Persist the stream's build config next to the staged generation so
    a post-crash :func:`flush_ingest` bootstraps with the SAME geometry."""
    path = os.path.join(staging, "_ingest_cfg.json")
    if not os.path.exists(path):
        atomic_write_json(path, {
            "seg_docs": cfg.seg_docs, "block_size": cfg.block_size,
            "k1": cfg.k1, "b": cfg.b, "wave_segments": cfg.wave_segments,
            "fields": list(cfg.fields), "id_col": cfg.id_col,
            "term_buckets": cfg.term_buckets,
        })


def _resolve_cfg(index_dir: str) -> IndexConfig:
    """Config for a flush the caller didn't pass one to: the live
    index's stats.json if it exists, else the staged generation's own
    persisted config, else defaults (brand-new index, nothing staged)."""
    stats_path = os.path.join(index_dir, "stats.json")
    if os.path.exists(stats_path):
        with open(stats_path) as fh:
            return IndexConfig.from_stats(json.load(fh))
    staged_cfg = os.path.join(_staging_dir(index_dir), "_ingest_cfg.json")
    if os.path.exists(staged_cfg):
        with open(staged_cfg) as fh:
            return IndexConfig.from_stats(json.load(fh))
    return IndexConfig()


def _has_data_files(staging: str) -> bool:
    """True when the staged-generation directory holds at least one
    parquet data file (recursive; metadata/marker files don't count)."""
    for dp, _dn, fns in os.walk(staging):
        for f in fns:
            if f.endswith(".parquet") or (f.startswith("part-")
                                          and not f.endswith(".crc")):
                return True
    return False


def _log_event(index_dir: str, event: dict) -> None:
    with open(_events_path(index_dir), "a") as fh:
        fh.write(json.dumps(event) + "\n")


def _apply_generation(spark: SparkSession, gen_df: DataFrame, index_dir: str,
                      cfg: IndexConfig, key_cols, kind: str) -> None:
    if not index_exists(index_dir):
        build_index(spark, gen_df, index_dir, cfg, resume=False)
        _log_event(index_dir, {"kind": "bootstrap", "via": kind})
    else:
        upsert_docs(spark, index_dir, gen_df, key_cols=key_cols)
        _log_event(index_dir, {"kind": "upsert", "via": kind})


def _compact(spark: SparkSession, index_dir: str, cfg: IndexConfig,
             key_cols) -> bool:
    """Dedupe the staged generation (latest batch wins per business key)
    and apply it as ONE index mutation; returns False when nothing is
    staged."""
    staging = _staging_dir(index_dir)
    staged = _staged_batches(staging)
    if not staged:
        return False
    if not _has_data_files(staging):
        # marker present but VERIFIABLY no data files: a crash
        # mid-cleanup got ahead of the data removal — finish the cleanup
        # instead of wedging every future compaction on the schema-less
        # read. The listing check (not a read failure) is the guard: a
        # corrupt footer or transient FS error on files that DO exist
        # must propagate, never silently discard a checkpointed-but-
        # uncompacted generation (the offsets are already committed —
        # the stream will not replay it).
        shutil.rmtree(staging, ignore_errors=True)
        return False
    gen = spark.read.parquet(staging)
    # only rows of batches the marker owns: part-files orphaned by a
    # crash after the marker delete (below) but before their rmtree must
    # not be re-applied with the next generation
    gen = gen.filter(F.col(_BATCH_COL).isin([int(b) for b in staged]))
    if gen.isEmpty():
        shutil.rmtree(staging, ignore_errors=True)
        return False
    gen = dedupe_latest(gen, key_cols, order_col=_BATCH_COL).drop(_BATCH_COL)
    _apply_generation(spark, gen, index_dir, cfg, key_cols, "compaction")
    # commit point is the single-file marker delete (atomic on a local/
    # HDFS fs), not the multi-file rmtree: whichever files a crash
    # strands afterwards are ignored by the batch-ownership filter
    try:
        os.remove(os.path.join(staging, "_staged_batches.json"))
    except FileNotFoundError:
        pass
    shutil.rmtree(staging, ignore_errors=True)
    return True


def flush_ingest(spark: SparkSession, index_dir: str,
                 cfg: IndexConfig | None = None,
                 key_cols=DOC_KEY_COLS) -> bool:
    """Compact a partial staged generation left behind by a drained
    stream (e.g. ``availableNow`` runs whose batch count is not a
    multiple of ``compact_every``). Returns True if a compaction ran.
    With ``cfg=None`` the configuration is recovered from the index's
    stats.json (or the staged generation's persisted config), never
    silently replaced by defaults."""
    return _compact(spark, index_dir, cfg or _resolve_cfg(index_dir),
                    key_cols)


def stream_ingest(spark: SparkSession, source: DataFrame, index_dir: str,
                  checkpoint_dir: str, cfg: IndexConfig | None = None,
                  key_cols=DOC_KEY_COLS, available_now: bool = True,
                  compact_every: int = 1):
    """Start a streaming query that maintains the index under
    ``index_dir`` from a streaming corpus source.

    ``source`` is a streaming DataFrame with the corpus schema
    (repo, path, commit, lang, content). The first applied generation
    bootstraps the index with a full build; later generations upsert.
    ``compact_every=N`` batches per staged generation (see module
    docstring); N=1 applies every micro-batch directly.
    ``available_now=True`` drains what's currently available and stops
    (the testable batch-ish mode); False runs continuously.
    """
    cfg = cfg or IndexConfig()

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.dropDuplicates(list(key_cols))
        if batch_df.isEmpty():
            return
        if compact_every <= 1:
            _apply_generation(spark, batch_df, index_dir, cfg, key_cols,
                              "batch")
            return
        staging = _staging_dir(index_dir)
        (batch_df.withColumn(_BATCH_COL, F.lit(int(batch_id)))
         .write.mode("append").parquet(staging))
        _stage_cfg(staging, cfg)
        staged = _record_batch(staging, batch_id)
        if len(staged) >= compact_every:
            _compact(spark, index_dir, cfg, key_cols)

    writer = (
        source.writeStream
        .foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
