"""Document preparation: deterministic doc_ids + the forward index.

The reference assigns DocIds from a per-worker atomic counter
(reference: index_service/indexer.go:20,82) — ids depend on arrival order
and are only unique per worker. That breaks rank-identity across cluster
sizes, so this engine derives ids deterministically: the rank of
``sha256(repo \\x01 path \\x01 commit)`` over the whole corpus (SURVEY.md
§1.3). Rank assignment is a two-pass scheme over ORDER-PRESERVING hash-
prefix buckets (count per bucket -> cumulative offsets -> within-bucket
row_number) — no single-task global window, works at 10^12 rows, and
every step is a pure function of the DATA: a partition lost to executor
failure recomputes to byte-identical ids (the round-3 design fenced a
nondeterministic ``monotonically_increasing_id`` behind a cache, which
Spark recomputes through nondeterministic range-sampling on executor
loss — silently renumbering ids at cluster scale).

The ``docs`` table is the engine's forward index (reference: KV store of
serialized documents, internal/kvdb/kv_db.go:20-33): one row per doc with
business id, bit features, doc stats, sha256(content) (the per-row
ingestion invariant) and the payload columns themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from quicker_spark.functions.tokenize import tokenize_col
from quicker_spark.model import LANG_BITS

DOC_KEY_COLS = ("repo", "path", "commit")


def lang_bits_col(lang: F.Column | str) -> F.Column:
    """Fixed lang -> bit enum as a pure column expression (mirrors the
    reference's keyword bit derivation, demo/job/bits.go:24-69)."""
    c = F.col(lang) if isinstance(lang, str) else lang
    expr = F.lit(0)
    for name, bit in LANG_BITS.items():
        expr = F.when(c == name, F.lit(bit)).otherwise(expr)
    return expr.cast("long")


def assign_doc_ids(df: DataFrame, key_cols=DOC_KEY_COLS,
                   n_parts: int | None = None) -> DataFrame:
    """Add a ``doc_id`` column = rank of sha256(key) over the corpus
    (ties among duplicate keys broken by a full-row hash — rows identical
    in EVERY column stay interchangeable, so any assignment among them
    yields the same table).

    Executor-loss-safe by construction: doc_id is a pure function of the
    row data —

    1. bucket = order-preserving prefix of the key hash (top 32 bits
       scaled to ``~4 * n_parts`` buckets, so bucket order == hash order);
    2. one map-side-combined ``groupBy(bucket).count()`` (bucket-count
       rows — control-plane sized at any corpus scale);
    3. cumulative offsets over that tiny frame, broadcast-joined back;
    4. ``doc_id = offset[bucket] + row_number() within bucket`` ordered
       by (hash, row hash).

    No nondeterministic expression, no cache fence, no range-partitioner
    sampling: a partition recomputed after executor failure re-derives
    byte-identical ids from lineage. Partition-count independent (the
    rank is a property of the global hash order, and offsets + in-bucket
    ranks compose to the same global rank for ANY bucket count), and one
    full-width exchange total (the window shuffle; the count pass moves
    only bucket-count rows).
    """
    spark = df.sparkSession
    n_parts = n_parts or spark.sparkContext.defaultParallelism
    n_buckets = max(4 * int(n_parts), 64)
    keyed = df.withColumn(
        "_h", F.sha2(F.concat_ws("\x01", *[F.col(c) for c in key_cols]), 256)
    ).withColumn(
        # deterministic tie-break for duplicate keys; computed BEFORE _b
        # is added so it hashes exactly the caller's columns
        "_tb", F.xxhash64(*[F.col(c) for c in df.columns])
    ).withColumn(
        # top 32 hash bits scaled to n_buckets — monotone in _h, so
        # (bucket asc, _h asc) == global _h order; sha256 uniformity
        # makes bucket sizes ~n/n_buckets (no planet-sized bucket)
        "_b", F.shiftright(
            F.conv(F.substring("_h", 1, 8), 16, 10).cast("long")
            * F.lit(int(n_buckets)), 32)
    )
    counts = keyed.groupBy("_b").agg(F.count(F.lit(1)).alias("_n"))
    w_off = (Window.orderBy("_b")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.select(
        "_b", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off"))
    w_rank = Window.partitionBy("_b").orderBy("_h", "_tb")
    # After the window exchange each task holds whole buckets sorted by
    # (_b, _h); offsets are monotone in _b, so rows are doc_id-sorted
    # within every task — the docs write's per-segment layout needs no
    # extra repartition.
    return (keyed.join(F.broadcast(offsets), "_b")
            .withColumn("doc_id", (F.col("_off") + F.row_number().over(w_rank)
                                   - F.lit(1)).cast("long"))
            .drop("_h", "_tb", "_b", "_off"))


def dedupe_latest(df: DataFrame, key_cols=DOC_KEY_COLS,
                  order_col: str | None = None) -> DataFrame:
    """Latest-write-wins upsert semantics (reference deletes then re-inserts
    on AddDoc, index_service/indexer.go:76-82). With no order column the
    rows are identical duplicates and dropDuplicates suffices."""
    if order_col is None:
        return df.dropDuplicates(list(key_cols))
    w = Window.partitionBy(*key_cols).orderBy(F.desc(order_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def prepare_docs(corpus: DataFrame, seg_docs: int,
                 n_parts: int | None = None,
                 id_col: str | None = None,
                 start_id: int = 0) -> DataFrame:
    """Corpus -> forward-index rows with deterministic ids and segments.

    segment_id = doc_id // seg_docs: contiguous doc ranges, so posting-list
    deltas stay small and a wave of segments maps to a doc_id range filter
    (row-group pruning on the sorted docs table).

    ``id_col``: when the business side already owns a dense unique int64
    key (the reference likewise lets callers supply the business Id,
    api/document.proto:13), trust it instead of the sha256 dense rank —
    skips the ranking passes entirely and keeps engine ids == business ids.
    """
    if id_col is not None:
        spark = corpus.sparkSession
        n = n_parts or spark.sparkContext.defaultParallelism
        ids = (corpus.withColumn("doc_id", F.col(id_col).cast("long"))
                     .repartitionByRange(n, "doc_id"))
    else:
        ids = assign_doc_ids(corpus, n_parts=n_parts)
    if start_id:
        # fresh-id appends for upsert (reference: re-added docs always get
        # larger DocIds, index_service/indexer.go:76-82)
        ids = ids.withColumn("doc_id", F.col("doc_id") + F.lit(int(start_id)))
    out = ids.select(
        "doc_id",
        F.concat_ws("", F.col("repo"), F.lit(":"), F.col("path"),
                    F.lit("@"), F.col("commit")).alias("id"),
        "repo", "path", "commit", "lang",
        lang_bits_col("lang").alias("bits_feature"),
        # NULL content == empty content (doc_len 0, sha of ""), never a
        # NULL doc_len leaking into the posting encoder's dl stream
        F.size(tokenize_col(F.coalesce(F.col("content"), F.lit(""))))
        .cast("long").alias("doc_len"),
        F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias("doc_sha"),
        (F.col("doc_id") / F.lit(seg_docs)).cast("long").alias("segment_id"),
        "content",
    )
    return out
