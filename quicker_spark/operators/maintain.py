"""Index maintenance: delete + upsert over immutable posting segments.

The reference mutates in place — DeleteDoc removes the doc from every
term's skiplist and the KV store (reference: index_service/indexer.go:
100-124, skiplist_reverse_index.go:62-74), and AddDoc is delete-then-
insert with a fresh, larger DocId (indexer.go:76-82). This engine's
segments are immutable parquet, so maintenance is partition-granular:

- delete: replace ONLY the docs segment directories that lost docs,
  rebuild only those segments' posting subdirectories (the manifest maps
  segment -> wave; postings are laid out wave=K/segment_id=S, so sibling
  segments inside a touched wave are never rewritten either), delta-
  adjust corpus stats. The WAND block bounds are derived from the
  CURRENT avgdl at query time (kernels.py with_bounds), so an avgdl
  shift costs zero I/O.
- upsert: remove the replaced business keys from their segments, append
  the new docs with fresh ids past the current max (the reference's
  fresh-DocId contract), and build the waves covering replaced + new
  segments. The boundary segment (old max id's partial segment) is
  included so old and new docs merge.

Nothing data-sized ever reaches the driver: the only collects are
per-affected-segment aggregate rows (one row per affected segment) and
the before/after stat deltas. Every scan is partition-pruned to the
affected segments/waves:

- corpus stats (n_docs, total_len, avgdl, max_doc_id) are adjusted by
  the delta of the affected segments' before/after (count, doc_len)
  aggregates — never a full docs scan;
- term stats are adjusted by delta: new = old − df(affected waves,
  before) + df(affected waves, after), with the "before" aggregate
  frozen to a staging parquet before the first wave overwrite — never a
  full postings scan.

Crash safety (two-phase commit): all replacement data (docs segment
dirs, term stats) is written to STAGING paths first; a pending marker
(``maintain_pending.json``, every write crash-atomic via temp+rename)
records the swap/drop operations, the post-maintenance corpus stats, and
the affected segment set BEFORE any live directory is touched, then
gains progress flags (``delta_frozen``, ``ts_staged``) as each staging
write becomes durable. Recovery — run at the start of every maintenance
entry point — replays the marker: finishes the directory swaps, restores
the recorded stats, re-runs the affected-wave rebuild (idempotent
overwrites), and recomputes term stats by the same partition-pruned
DELTA the normal path uses (the flags say whether the frozen
before-aggregate / staged merge are reusable; a full postings scan is
only ever taken for legacy markers without flags). At warehouse scale
the staged swap becomes an Iceberg MERGE/overwrite-partitions snapshot
commit through the same seam (quicker_spark.io); the wave rebuild is
already a partition-local job.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import defaultdict
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quicker_spark.io import atomic_write_json, commit_partition_ops
from quicker_spark.operators.build import (
    IndexConfig, _success, write_term_stats, write_wave)
from quicker_spark.operators.positions import refresh_positions
from quicker_spark.operators.docs import DOC_KEY_COLS, prepare_docs

_PENDING = "maintain_pending.json"
_DOCS_STAGING = "docs_staging"
_TS_STAGING = "term_stats_staging"
_TS_OLD_DELTA = "term_stats_old_delta"


def _load_stats(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "stats.json")) as fh:
        return json.load(fh)


def _write_stats(index_dir: str, stats: dict) -> None:
    atomic_write_json(os.path.join(index_dir, "stats.json"), stats)


def _swap_term_stats(spark: SparkSession, index_dir: str,
                     stats: dict) -> None:
    """Swap staged term stats live; publish their row count as n_terms."""
    _apply_dir_ops(index_dir, [
        {"op": "swap", "src": _TS_STAGING, "dst": "term_stats"}])
    stats["n_terms"] = int(
        spark.read.parquet(os.path.join(index_dir, "term_stats")).count())
    _write_stats(index_dir, stats)


# the physical commit goes through the io format seam
# (io.commit_partition_ops): path layout = staged directory swaps;
# a deployment that registered an Iceberg backend
# (io.set_commit_backend) gets one snapshot commit per op batch
# (io.overwrite_docs_partitions) without editing this module
_apply_dir_ops = commit_partition_ops


def recover_pending(spark: SparkSession, index_dir: str) -> bool:
    """Finish a half-done maintenance commit (idempotent; returns True if
    recovery work was performed). The marker holds everything needed to
    reach the committed post-maintenance state from ANY crash point:
    directory ops, final corpus stats, the affected segment set for the
    wave rebuild, and progress flags (``delta_frozen``, ``ts_staged``)
    that let recovery take the partition-pruned DELTA term-stats path:

    - ``delta_frozen`` false: no posting wave has been overwritten yet
      (the freeze precedes the first overwrite), so recovery freezes the
      before-aggregate itself and proceeds exactly like the normal path;
    - ``delta_frozen`` true: the before-aggregate is durably staged
      (``_SUCCESS``-fenced) — replay the idempotent wave rebuild, then
      the delta merge;
    - ``ts_staged`` true: the merged term stats are durably staged; the
      only remaining work is the swap (a no-op when the crash happened
      after it — the staging source is gone, so the committed new stats
      are left alone rather than double-applied).

    The full-postings-scan recompute — at warehouse scale the exact scan
    the delta path exists to avoid — is only taken for markers that
    predate the progress flags (legacy format).

    Also heals a half-done :func:`force_merge` first (an independent
    marker) so every maintenance entry point leaves the wave layout
    consistent before mutating it."""
    merged = recover_merge(index_dir)
    marker = os.path.join(index_dir, _PENDING)
    if not os.path.exists(marker):
        return merged
    try:
        with open(marker) as fh:
            pending = json.load(fh)
    except (json.JSONDecodeError, UnicodeDecodeError):
        # Every marker write goes through atomic_write_json, so an
        # unparsable marker cannot come from a crash mid-write of ours —
        # it is pre-atomic legacy or external corruption. The initial
        # marker lands BEFORE any live mutation, so the safe reading is
        # "phase 1 never completed": drop the marker + staging and leave
        # the live index alone, instead of wedging every future
        # maintenance call on the parse error.
        for rel in (_DOCS_STAGING, _TS_STAGING, _TS_OLD_DELTA):
            shutil.rmtree(os.path.join(index_dir, rel), ignore_errors=True)
        os.remove(marker)
        return False
    # legacy round-2 marker: plain dir removals only
    for rel in pending.get("remove_dirs", []):
        shutil.rmtree(os.path.join(index_dir, rel), ignore_errors=True)
    _apply_dir_ops(index_dir, pending.get("ops", []))
    if "stats" in pending:
        _write_stats(index_dir, pending["stats"])
        stats = pending["stats"]
        affected = set(pending.get("affected_segments", []))
        present = set(pending.get("present_segments", []))
        if "old_keys" in pending:
            # new-format marker: delta path, never a full postings scan
            old_keys = [int(w) for w in pending["old_keys"]]
            delta_ok = (not old_keys) or _success(
                os.path.join(index_dir, _TS_OLD_DELTA))
            if not (pending.get("delta_frozen") and delta_ok):
                # crash predates the first wave overwrite: freeze now
                _freeze_old_wave_df(spark, index_dir, old_keys, affected)
            rebuilt = (_rebuild_waves(spark, index_dir, stats, affected,
                                      present) if affected else [])
            if affected:
                refresh_positions(spark, index_dir, affected, present)
            if not pending.get("ts_staged"):
                _stage_delta_term_stats(spark, index_dir, rebuilt, affected)
            # merged stats durably staged; finish (or skip) the swap
            _swap_term_stats(spark, index_dir, stats)
        else:
            # legacy marker without progress flags: conservative full
            # recompute — always correct
            if affected:
                _rebuild_waves(spark, index_dir, stats, affected, present)
                refresh_positions(spark, index_dir, affected, present)
            _full_term_stats_recompute(spark, index_dir, stats)
    for rel in (_DOCS_STAGING, _TS_STAGING, _TS_OLD_DELTA):
        shutil.rmtree(os.path.join(index_dir, rel), ignore_errors=True)
    os.remove(marker)
    return True


def _full_term_stats_recompute(spark: SparkSession, index_dir: str,
                               stats: dict) -> None:
    """Whole-postings term-stats rebuild — the conservative recovery
    fallback for legacy markers only; the normal and recovery paths both
    use the partition-pruned delta (:func:`_stage_delta_term_stats`)."""
    write_term_stats(spark.read.parquet(os.path.join(index_dir, "postings"))
                     .groupBy("term").agg(F.sum("df").alias("df_global")),
                     os.path.join(index_dir, _TS_STAGING))
    _swap_term_stats(spark, index_dir, stats)


def _stage_docs(docs_kept: DataFrame, affected: set[int],
                index_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """Write the affected segments' replacement rows to the staging path
    and derive (dir ops, per-segment after-aggregates). Nothing under
    ``docs/`` is touched here — the swap happens only after the pending
    marker is on disk."""
    staging = os.path.join(index_dir, _DOCS_STAGING)
    shutil.rmtree(staging, ignore_errors=True)
    # (segment_id, doc_id) == doc_id order (segment is doc_id // seg_docs)
    # AND covers the writer's partition-col sort requirement — see
    # build.bucket_cluster for why the prefix must be explicit
    (docs_kept.sortWithinPartitions("segment_id", "doc_id")
     .write.mode("overwrite")
     .partitionBy("segment_id")
     .parquet(staging))
    # the replacement plan (anti-join over the affected partitions) runs
    # exactly once — the per-segment after-aggregates are re-read from
    # the files just staged, a scan of only the replacement rows
    spark = docs_kept.sparkSession
    after: dict[int, dict] = {}
    if any(e.startswith("segment_id=") for e in os.listdir(staging)):
        after = {int(r["segment_id"]): {"n": int(r["n"]),
                                        "len": int(r["len"] or 0)}
                 for r in spark.read.parquet(staging)
                 .groupBy("segment_id")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum("doc_len").alias("len")).collect()}
    ops = []
    for s in sorted(affected):
        if after.get(s, {}).get("n", 0) > 0:
            ops.append({"op": "swap",
                        "src": f"{_DOCS_STAGING}/segment_id={s}",
                        "dst": f"docs/segment_id={s}"})
        else:
            ops.append({"op": "drop", "dst": f"docs/segment_id={s}"})
    return ops, after


def _before_agg(docs: DataFrame, segs: set[int]) -> tuple[int, int]:
    """(row count, total doc_len) of the affected segments BEFORE the
    swap — a partition-pruned scan of only those segment directories."""
    if not segs:
        return 0, 0
    row = (docs.filter(F.col("segment_id").isin([int(s) for s in segs]))
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("doc_len").alias("len")).collect()[0])
    return int(row["n"]), int(row["len"] or 0)


def _wave_map(spark: SparkSession, index_dir: str) -> dict[int, list[int]]:
    """wave key -> its segment ids, from the lineage manifest."""
    rows = (spark.read.parquet(os.path.join(index_dir, "manifest"))
            .select("wave", "segment_id").distinct().collect())
    m: dict[int, list[int]] = defaultdict(list)
    for r in rows:
        m[int(r["wave"])].append(int(r["segment_id"]))
    return dict(m)


def _rebuild_waves(spark: SparkSession, index_dir: str, stats: dict,
                   affected_segments: set[int],
                   present_segs: set[int]) -> list[int]:
    """Rewrite ONLY the affected segment subdirectories of the posting
    waves covering ``affected_segments`` (sibling segments inside a
    touched wave are never rewritten — segment-granular maintenance),
    plus fresh waves for affected segments never manifested (restricted
    to segments actually present in the docs table, so deleting a doc_id
    that never existed can't leave a junk empty wave behind). Idempotent:
    safe to replay after a crash."""
    cfg = IndexConfig.from_stats(stats)
    avgdl = float(stats["avgdl"])  # rebuilt segments get a fresh
    # avgdl_ref; untouched ones keep their stale one — bounds stay
    # admissible (with_bounds' corner correction), just marginally less
    # tight
    wave_map = _wave_map(spark, index_dir)
    manifested = {s for segs in wave_map.values() for s in segs}

    docs_df = spark.read.parquet(os.path.join(index_dir, "docs"))
    rebuilt: list[int] = []
    for wkey, segs in sorted(wave_map.items()):
        touch = sorted(affected_segments & set(segs))
        if touch:
            write_wave(spark, docs_df, segs, cfg, avgdl, index_dir,
                       wkey=wkey, rebuild_segs=touch)
            rebuilt.append(wkey)
    new_segs = sorted(s for s in affected_segments
                      if s not in manifested and s in present_segs)
    for i in range(0, len(new_segs), cfg.wave_segments):
        wave = new_segs[i:i + cfg.wave_segments]
        write_wave(spark, docs_df, wave, cfg, avgdl, index_dir)
        rebuilt.append(min(wave))
    return sorted(rebuilt)


def _freeze_old_wave_df(spark: SparkSession, index_dir: str,
                        wave_keys: list[int],
                        segs: set[int] | None = None) -> None:
    """Aggregate (term, df) of the affected (wave, segment) region BEFORE
    it is overwritten, frozen to a staging parquet (a lazy DataFrame
    would re-read the overwritten data). Partition-pruned to the wave
    AND segment directories — the scan is proportional to the mutation,
    not to wave_segments x its size."""
    path = os.path.join(index_dir, _TS_OLD_DELTA)
    if not wave_keys:
        shutil.rmtree(path, ignore_errors=True)
        return
    before = (spark.read.parquet(os.path.join(index_dir, "postings"))
              .filter(F.col("wave").isin([int(w) for w in wave_keys])))
    if segs is not None:
        before = before.filter(
            F.col("segment_id").isin([int(s) for s in segs]))
    (before.groupBy("term").agg(F.sum("df").alias("df_old"))
     .write.mode("overwrite").parquet(path))


def _stage_delta_term_stats(spark: SparkSession, index_dir: str,
                            wave_keys: list[int],
                            segs: set[int] | None = None) -> bool:
    """Stage term_stats_new = term_stats − df(affected region, before) +
    df(affected region, after) to ``_TS_STAGING``; the caller commits
    with the atomic swap. Scans only the affected (wave, segment) dirs
    and the (vocabulary-sized) term_stats table, never the whole
    postings tree. Returns False (nothing staged) when nothing changed.
    ``segs`` must cover the same region the freeze covered — the rewrite
    is segment-granular, so both sides of the delta are too."""
    if not wave_keys:
        return False
    after = (spark.read.parquet(os.path.join(index_dir, "postings"))
             .filter(F.col("wave").isin([int(w) for w in wave_keys])))
    if segs is not None:
        after = after.filter(
            F.col("segment_id").isin([int(s) for s in segs]))
    new_df = after.groupBy("term").agg(F.sum("df").alias("df_new"))
    old_path = os.path.join(index_dir, _TS_OLD_DELTA)
    if _success(old_path):
        old_df = spark.read.parquet(old_path)
    else:
        old_df = spark.createDataFrame([], "term string, df_old long")
    ts = spark.read.parquet(os.path.join(index_dir, "term_stats"))
    merged = (
        ts.join(old_df, "term", "full").join(new_df, "term", "full")
        .select("term",
                (F.coalesce(F.col("df_global"), F.lit(0))
                 - F.coalesce(F.col("df_old"), F.lit(0))
                 + F.coalesce(F.col("df_new"), F.lit(0))).alias("df_global"))
        .filter(F.col("df_global") > 0)
    )
    # keep the build's range-partitioned layout across maintenance
    write_term_stats(merged, os.path.join(index_dir, _TS_STAGING))
    return True


def _commit(spark: SparkSession, index_dir: str, stats: dict,
            ops: list[dict], affected: set[int],
            present: set[int]) -> dict:
    """Phase 2 of maintenance: marker -> stats -> docs swap -> frozen
    old-wave aggregate -> wave rebuild -> staged delta term stats ->
    swap -> marker removal. A crash anywhere in here is replayed by
    :func:`recover_pending` from the marker; the ``delta_frozen`` /
    ``ts_staged`` progress flags (each updated with an atomic rename
    AFTER its durable staging write lands) tell recovery how far the
    crashed run got, so replay always takes the partition-pruned delta
    path and never double-applies a committed term-stats swap."""
    marker = os.path.join(index_dir, _PENDING)
    wave_map = _wave_map(spark, index_dir)
    old_keys = [wk for wk, segs in sorted(wave_map.items())
                if affected & set(segs)]
    pending = {"ops": ops, "stats": stats,
               "affected_segments": sorted(affected),
               "present_segments": sorted(present),
               "old_keys": old_keys,
               "delta_frozen": False, "ts_staged": False}
    atomic_write_json(marker, pending)
    _write_stats(index_dir, stats)
    _apply_dir_ops(index_dir, ops)
    shutil.rmtree(os.path.join(index_dir, _DOCS_STAGING), ignore_errors=True)

    _freeze_old_wave_df(spark, index_dir, old_keys, affected)
    pending["delta_frozen"] = True           # before-aggregate is durable
    atomic_write_json(marker, pending)
    rebuilt = _rebuild_waves(spark, index_dir, stats, affected, present)
    # positional sidecar (if any) follows the same segment granularity;
    # the rewrite is idempotent, so recovery replays it with the waves
    refresh_positions(spark, index_dir, affected, present)
    if _stage_delta_term_stats(spark, index_dir, rebuilt, affected):
        pending["ts_staged"] = True           # merged stats are durable
        atomic_write_json(marker, pending)
        _swap_term_stats(spark, index_dir, stats)
    shutil.rmtree(os.path.join(index_dir, _TS_OLD_DELTA), ignore_errors=True)
    os.remove(marker)
    return {"rebuilt_waves": rebuilt, "n_docs": stats["n_docs"]}


def _apply_stats_delta(stats: dict, before: tuple[int, int],
                       after_per_seg: dict[int, dict],
                       new_max: int | None = None) -> dict:
    stats = dict(stats)
    n_after = sum(v["n"] for v in after_per_seg.values())
    len_after = sum(v["len"] for v in after_per_seg.values())
    stats["n_docs"] = int(stats["n_docs"]) + n_after - before[0]
    stats["total_len"] = int(stats["total_len"]) + len_after - before[1]
    stats["avgdl"] = (stats["total_len"] / stats["n_docs"]
                      if stats["n_docs"] else 0.0)
    if new_max is not None:
        stats["max_doc_id"] = max(int(stats.get("max_doc_id", -1)), new_max)
    return stats


def _max_doc_id(spark: SparkSession, index_dir: str, stats: dict) -> int:
    """Highest assigned doc_id — from stats when recorded (zero jobs), a
    one-column agg otherwise (indexes written before the field existed).
    Kept as a monotone upper bound: deletes never lower it, so fresh ids
    stay strictly increasing (the reference's AddDoc contract)."""
    if "max_doc_id" in stats:
        return int(stats["max_doc_id"])
    row = (spark.read.parquet(os.path.join(index_dir, "docs"))
           .agg(F.max("doc_id")).collect()[0])
    return int(row[0]) if row[0] is not None else -1


def _ids_dataframe(spark: SparkSession,
                   doc_ids: Iterable[int] | DataFrame) -> DataFrame:
    if isinstance(doc_ids, DataFrame):
        return doc_ids.select(F.col(doc_ids.columns[0]).cast("long")
                              .alias("doc_id"))
    return spark.createDataFrame([(int(i),) for i in doc_ids], "doc_id long")


def delete_docs(spark: SparkSession, index_dir: str,
                doc_ids: Iterable[int] | DataFrame) -> dict:
    """Delete documents by engine doc_id (reference: Indexer.DeleteDoc,
    index_service/indexer.go:100-124; batch form of kvdb BatchDelete).

    Touches only the segment partitions/waves containing victims; the
    only driver-side data is the affected-segment aggregate rows.
    """
    recover_pending(spark, index_dir)
    stats = _load_stats(index_dir)
    seg_docs = int(stats["seg_docs"])
    ids_df = _ids_dataframe(spark, doc_ids)
    segs = {int(r[0]) for r in
            ids_df.select((F.col("doc_id") / seg_docs).cast("long").alias("s"))
            .distinct().collect()}

    docs = spark.read.parquet(os.path.join(index_dir, "docs"))
    before = _before_agg(docs, segs)
    affected_docs = docs.filter(
        F.col("segment_id").isin([int(s) for s in segs]))
    kept = affected_docs.join(F.broadcast(ids_df), "doc_id", "left_anti")
    ops, after = _stage_docs(kept, segs, index_dir)
    new_stats = _apply_stats_delta(stats, before, after)
    present = {s for s, v in after.items() if v["n"] > 0}
    return _commit(spark, index_dir, new_stats, ops, segs, present)


def upsert_docs(spark: SparkSession, index_dir: str, new_corpus: DataFrame,
                key_cols=DOC_KEY_COLS) -> dict:
    """Delete-then-insert upsert (reference: Indexer.AddDoc,
    indexer.go:70-97 — replaced business keys get FRESH, larger doc ids).

    Control-plane jobs are folded into per-segment aggregates: one over
    the replaced rows (segments + replaced count), one over the prepared
    new rows (segments + count + max id); the fresh-id base comes from
    stats.json, not a table scan.
    """
    recover_pending(spark, index_dir)
    stats = _load_stats(index_dir)
    seg_docs = int(stats["seg_docs"])
    docs = spark.read.parquet(os.path.join(index_dir, "docs"))

    keys = new_corpus.select(*key_cols).distinct()
    replaced = docs.join(F.broadcast(keys), list(key_cols), "left_semi")
    rep_rows = (replaced.groupBy("segment_id")
                .agg(F.count(F.lit(1)).alias("n")).collect())
    n_replaced = sum(int(r["n"]) for r in rep_rows)
    start = _max_doc_id(spark, index_dir, stats) + 1

    new_docs = prepare_docs(new_corpus, seg_docs,
                            id_col=stats.get("id_col"),
                            start_id=int(start)).cache()
    new_rows = (new_docs.groupBy("segment_id")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.max("doc_id").alias("mx")).collect())
    n_new = sum(int(r["n"]) for r in new_rows)
    new_max = max((int(r["mx"]) for r in new_rows), default=start - 1)
    segs = {int(r["segment_id"]) for r in rep_rows}
    segs |= {int(r["segment_id"]) for r in new_rows}

    before = _before_agg(docs, segs)
    affected_docs = docs.filter(F.col("segment_id").isin([int(s) for s in segs]))
    kept = affected_docs.join(F.broadcast(replaced.select("doc_id")),
                              "doc_id", "left_anti")
    merged = kept.unionByName(new_docs.select(*kept.columns))
    ops, after = _stage_docs(merged, segs, index_dir)
    new_docs.unpersist()
    new_stats = _apply_stats_delta(stats, before, after, new_max=new_max)
    present = {s for s, v in after.items() if v["n"] > 0}

    res = _commit(spark, index_dir, new_stats, ops, segs, present)
    res["n_inserted"] = n_new
    res["n_replaced"] = n_replaced
    return res


# ---------------------------------------------------------------------------
# force merge (wave compaction)
# ---------------------------------------------------------------------------

_MERGE_PENDING = "merge_pending.json"
_P_MERGED = "postings_merged"
_M_MERGED = "manifest_merged"
_POS_MERGED = "positions_merged"


def recover_merge(index_dir: str) -> bool:
    """Finish (or abandon) a half-done :func:`force_merge` commit.
    Idempotent; returns True if a marker was found. The marker is only
    ever written AFTER all staging writes are _SUCCESS-fenced, so a
    parsable marker always means "replay the swaps" (apply_dir_ops
    skips swaps whose staging source is already gone); an unparsable
    one is pre-atomic corruption and means "staging never committed":
    drop the stagings, leave the live tree alone."""
    marker = os.path.join(index_dir, _MERGE_PENDING)
    if not os.path.exists(marker):
        return False
    try:
        with open(marker) as fh:
            pending = json.load(fh)
    except (json.JSONDecodeError, UnicodeDecodeError):
        pending = None
    if pending and pending.get("staged"):
        _apply_dir_ops(index_dir, pending["ops"])
        if "stats" in pending:
            _write_stats(index_dir, pending["stats"])
    else:
        for rel in (_P_MERGED, _M_MERGED, _POS_MERGED):
            shutil.rmtree(os.path.join(index_dir, rel), ignore_errors=True)
    os.remove(marker)
    return True


def _relayout(df: DataFrame, map_df: DataFrame, out_path: str) -> None:
    """Rewrite a wave-partitioned tree under a new segment->wave map:
    drop the old wave partition column, broadcast-join the new one,
    local-sort so every output file stays term-sorted (row-group
    pruning), write partitioned. No shuffle: each input (wave, segment)
    directory maps to exactly one output directory."""
    cols = [c for c in df.columns if c != "wave"]
    # sort prefix must cover the PARTITION columns (incl. bucket for v5
    # trees) or the writer inserts its own, not-necessarily-stable sort
    # and per-file term order is lost
    sort_cols = (["wave", "segment_id"]
                 + (["bucket"] if "bucket" in cols else [])
                 + (["term"] if "term" in cols else []))
    # v5 bucket-partitioned trees keep their bucket directories through
    # the relayout (bucket is a pure function of term, so no re-bucketing
    # is ever needed — the partition column just rides along)
    part_cols = ["wave", "segment_id"] + (
        ["bucket"] if "bucket" in cols else [])
    (df.select(*cols)
     .join(F.broadcast(map_df), "segment_id")
     .sortWithinPartitions(*sort_cols)
     .write.mode("overwrite").partitionBy(*part_cols)
     .parquet(out_path))


def force_merge(spark: SparkSession, index_dir: str,
                wave_segments: int | None = None) -> dict:
    """Compact the posting-wave layout into full-size waves (the Lucene
    ``forceMerge`` / ES ``_forcemerge`` analog for this engine's wave
    unit; the reference's only compaction is a whole-index rebuild,
    index_service/indexer.go:42-58).

    Months of upserts / streaming micro-batches each land their new
    segments in a fresh wave, so the postings tree fans out into many
    small ``wave=K`` directories and every term-pruned scan pays
    per-file open cost. force_merge re-groups ALL manifested segments
    into consecutive runs of ``wave_segments`` (default: the index's
    own geometry; pass a larger value to merge harder — the
    ``forceMerge(maxNumSegments)`` knob) and relays the EXISTING
    posting runs into that layout. Pure metadata/layout move: posting
    runs are keyed (segment, term) and segments are immutable doc-id
    ranges, so posting bytes, doc ids, term stats, and scores are all
    unchanged — no decode, no re-tokenize, no shuffle (map-side
    partitioned write; one input directory -> one output directory).
    The positional sidecar, when present, is relaid the same way
    (it is self-describing: refresh_positions reads its own wave
    directories).

    Crash-safe like delete/upsert: postings + manifest (+ positions)
    stage beside the live tree, a marker commits after staging, and
    :func:`recover_merge` (called first by every maintenance entry
    point) replays the idempotent directory swaps from any crash
    point. Returns {"merged", "waves_before", "waves_after",
    "segments"}."""
    recover_merge(index_dir)
    recover_pending(spark, index_dir)
    stats = _load_stats(index_dir)
    cfg = IndexConfig.from_stats(stats)
    target = int(wave_segments) if wave_segments else cfg.wave_segments
    if target <= 0:
        raise ValueError("wave_segments must be positive")
    wave_map = _wave_map(spark, index_dir)
    segs = sorted({s for ss in wave_map.values() for s in ss})
    groups = [segs[i:i + target] for i in range(0, len(segs), target)]
    new_map = {s: g[0] for g in groups for s in g}
    cur_map = {s: wk for wk, ss in wave_map.items() for s in ss}
    report = {"merged": False, "waves_before": len(wave_map),
              "waves_after": len(groups), "segments": len(segs)}
    if new_map == cur_map:
        if wave_segments and int(stats.get("wave_segments", 0)) != target:
            stats["wave_segments"] = target
            _write_stats(index_dir, stats)
        return report

    map_df = spark.createDataFrame(
        [(int(s), int(w)) for s, w in sorted(new_map.items())],
        "segment_id long, wave long")
    _relayout(spark.read.parquet(os.path.join(index_dir, "postings")),
              map_df, os.path.join(index_dir, _P_MERGED))
    man = (spark.read.parquet(os.path.join(index_dir, "manifest"))
           .drop("wave"))
    (man.join(F.broadcast(map_df), "segment_id")
     .write.mode("overwrite").partitionBy("wave", "segment_id")
     .parquet(os.path.join(index_dir, _M_MERGED)))
    ops = [{"op": "swap", "src": _P_MERGED, "dst": "postings"},
           {"op": "swap", "src": _M_MERGED, "dst": "manifest"}]

    pos_root = os.path.join(index_dir, "positions")
    meta_file = os.path.join(pos_root, "_meta.json")
    if os.path.isdir(pos_root) and os.path.exists(meta_file):
        _relayout(spark.read.parquet(pos_root), map_df,
                  os.path.join(index_dir, _POS_MERGED))
        shutil.copy2(meta_file,
                     os.path.join(index_dir, _POS_MERGED, "_meta.json"))
        ops.append({"op": "swap", "src": _POS_MERGED, "dst": "positions"})

    new_stats = dict(stats)
    new_stats["wave_segments"] = target
    atomic_write_json(os.path.join(index_dir, _MERGE_PENDING),
                      {"staged": True, "ops": ops, "stats": new_stats})
    _apply_dir_ops(index_dir, ops)
    _write_stats(index_dir, new_stats)
    os.remove(os.path.join(index_dir, _MERGE_PENDING))
    report["merged"] = True
    return report
