"""Streaming ingest: file-source micro-batches maintain the index."""

from __future__ import annotations

import os
import shutil

import pytest

from quicker_spark.engine import SearchEngine
from quicker_spark.fixtures import corpus_pdf
from quicker_spark.operators.build import IndexConfig
from quicker_spark.plans.term_query import NewTermQuery
from quicker_spark.streaming.ingest import stream_ingest

SCHEMA = "repo string, path string, commit string, lang string, content string"


@pytest.fixture()
def dirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("src", "idx", "ckpt")}
    os.makedirs(d["src"])
    return d


def _drain(spark, dirs):
    src = spark.readStream.schema(SCHEMA).parquet(dirs["src"])
    q = stream_ingest(spark, src, dirs["idx"], dirs["ckpt"],
                      IndexConfig(seg_docs=200))
    q.awaitTermination(240)
    assert not q.isActive


def test_stream_bootstrap_then_upsert(spark, dirs):
    # batch 1: bootstrap build
    spark.createDataFrame(corpus_pdf(150)).coalesce(1).write.mode(
        "append").parquet(dirs["src"])
    _drain(spark, dirs)
    eng = SearchEngine(spark, dirs["idx"])
    assert eng.count() == 150

    # batch 2: 30 new docs + 2 replacements with new content
    batch2 = corpus_pdf(30, start=5000)
    repl = corpus_pdf(150).iloc[[3, 77]].copy()
    repl["content"] = "streamedzebra streamedzebra"
    import pandas as pd
    spark.createDataFrame(pd.concat([batch2, repl])).coalesce(1).write.mode(
        "append").parquet(dirs["src"])
    _drain(spark, dirs)

    eng = SearchEngine(spark, dirs["idx"])
    assert eng.count() == 180  # 150 - 2 replaced + 30 new + 2 re-added
    hits = eng.search(NewTermQuery("content", "streamedzebra"), k=5,
                      hydrate=True).collect()
    assert len(hits) == 2
    assert all(h["doc_id"] >= 150 for h in hits)  # fresh ids past old max

    # exactly-once: re-running the stream with nothing new is a no-op
    _drain(spark, dirs)
    assert SearchEngine(spark, dirs["idx"]).count() == 180


def test_stream_compaction_cadence(spark, dirs):
    """compact_every=N: four micro-batches must trigger only two index
    mutations (one bootstrap, one upsert) — the staged-generation
    amortization — and a trailing partial generation is applied by
    flush_ingest. Final state equals the same data ingested any other
    way (latest batch wins per business key)."""
    import json

    import pandas as pd

    from quicker_spark.streaming.ingest import flush_ingest

    batches = [
        corpus_pdf(60),                      # bootstrap half
        corpus_pdf(40, start=1000),          # second half of gen 1
        corpus_pdf(20, start=2000),          # gen 2
        corpus_pdf(150).iloc[[3]].assign(content="compactedzebra"),
    ]
    for b in batches:
        spark.createDataFrame(b).coalesce(1).write.mode(
            "append").parquet(dirs["src"])

    src = (spark.readStream.schema(SCHEMA)
           .option("maxFilesPerTrigger", 1).parquet(dirs["src"]))
    cfg = IndexConfig(seg_docs=200)
    q = stream_ingest(spark, src, dirs["idx"], dirs["ckpt"], cfg,
                      compact_every=2)
    q.awaitTermination(240)
    assert not q.isActive

    events_path = dirs["idx"] + "_ingest_events.jsonl"
    events = [json.loads(ln) for ln in open(events_path)]
    assert len(events) == 2 < len(batches)  # wave rebuilds << batches
    assert events[0]["kind"] == "bootstrap"
    assert events[1]["kind"] == "upsert"

    eng = SearchEngine(spark, dirs["idx"])
    assert eng.count() == 60 + 40 + 20  # batch 4 only replaces a batch-1 doc

    # tail generation: one more file -> staged but not compacted
    spark.createDataFrame(corpus_pdf(10, start=3000)).coalesce(1)\
        .write.mode("append").parquet(dirs["src"])
    src2 = (spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1).parquet(dirs["src"]))
    q2 = stream_ingest(spark, src2, dirs["idx"], dirs["ckpt"], cfg,
                       compact_every=2)
    q2.awaitTermination(240)
    assert SearchEngine(spark, dirs["idx"]).count() == 120  # not yet applied
    assert flush_ingest(spark, dirs["idx"], cfg)
    assert SearchEngine(spark, dirs["idx"]).count() == 130

    hits = SearchEngine(spark, dirs["idx"]).search(
        NewTermQuery("content", "compactedzebra"), k=5).collect()
    assert len(hits) == 1


def test_flush_recovers_staged_geometry(spark, dirs):
    """A flush with no cfg (e.g. after a crash) bootstraps from the staged
    generation's persisted config — including its term-bucketed layout,
    never the unbucketed one."""
    import glob
    import json

    from quicker_spark.streaming.ingest import flush_ingest

    for b in (corpus_pdf(40), corpus_pdf(30, start=1000)):
        spark.createDataFrame(b).coalesce(1).write.mode(
            "append").parquet(dirs["src"])
    src = (spark.readStream.schema(SCHEMA)
           .option("maxFilesPerTrigger", 1).parquet(dirs["src"]))
    q = stream_ingest(spark, src, dirs["idx"], dirs["ckpt"],
                      IndexConfig(seg_docs=50), compact_every=5)
    q.awaitTermination(240)
    assert not q.isActive
    assert not os.path.exists(dirs["idx"] + "/stats.json")  # only staged
    assert flush_ingest(spark, dirs["idx"]) is True
    with open(dirs["idx"] + "/stats.json") as fh:
        stats = json.load(fh)
    assert stats["term_buckets"] == 32
    assert stats["seg_docs"] == 50
    assert glob.glob(dirs["idx"] + "/postings/wave=*/segment_id=*/bucket=*")
    assert SearchEngine(spark, dirs["idx"]).count() == 70


def test_io_seam(spark, tmp_path):
    """Format selection: paths -> parquet; identifiers -> catalog tables;
    Iceberg runtime detection is honest about this sandbox."""
    from quicker_spark.fixtures import corpus_pdf
    from quicker_spark.io import iceberg_available, is_path, read_corpus, write_corpus

    assert iceberg_available(spark) is False  # no Iceberg jar shipped here
    assert is_path("/data/corpus") and is_path("s3://b/c")
    assert not is_path("cat.db.tbl")
    p = str(tmp_path / "corpus_pq")
    df = spark.createDataFrame(corpus_pdf(20))
    write_corpus(df, p)
    assert read_corpus(spark, p).count() == 20


def test_csv_corpus_source(spark, tmp_path):
    """The reference's bulk source is a typed CSV scan
    (demo/job/build_index.go:23-102): a .csv location must round-trip the
    north-rule corpus schema, including content with embedded newlines,
    quotes, and commas (source code)."""
    import pandas as pd

    from quicker_spark.io import CORPUS_SCHEMA, read_corpus

    rows = pd.DataFrame({
        "repo": ["r0", "r1"],
        "path": ["a/b.py", "c,d.go"],
        "commit": ["deadbeef", "cafebabe"],
        "lang": ["py", "go"],
        "content": ['def f():\n    return "x,y"\n', "package main\n"],
    })
    p = str(tmp_path / "corpus.csv")
    rows.to_csv(p, index=False)
    got = read_corpus(spark, p)
    assert [f.simpleString() for f in got.schema.fields] == \
        [c.strip().replace(" ", ":") for c in CORPUS_SCHEMA.split(",")]
    back = {r["path"]: r["content"] for r in got.collect()}
    assert back == dict(zip(rows["path"], rows["content"]))


def test_compact_survives_stranded_marker(spark, dirs, tmp_path):
    """A crash that strands _staged_batches.json with no readable data
    must not wedge compaction: flush cleans up and reports nothing
    staged (the marker delete, not the rmtree, is the commit point)."""
    import json

    from quicker_spark.streaming.ingest import _staging_dir, flush_ingest

    staging = _staging_dir(dirs["idx"])
    os.makedirs(staging, exist_ok=True)
    with open(os.path.join(staging, "_staged_batches.json"), "w") as fh:
        json.dump([0, 1], fh)
    assert flush_ingest(spark, dirs["idx"]) is False
    assert not os.path.exists(staging)


def test_compact_ignores_orphan_batches(spark, dirs):
    """Part-files stranded by a crash after the marker delete belong to
    no staged batch and must not be re-applied with the next
    generation."""
    import json

    import pandas as pd
    from pyspark.sql import functions as F

    from quicker_spark.streaming.ingest import (
        _BATCH_COL,
        _staging_dir,
        flush_ingest,
    )

    staging = _staging_dir(dirs["idx"])
    pdf = corpus_pdf(60)
    # orphan rows from a previously-compacted generation (batch 0) plus
    # a live staged batch 1; the marker owns only batch 1
    orphan = spark.createDataFrame(pdf.iloc[:30]).withColumn(
        _BATCH_COL, F.lit(0))
    live = spark.createDataFrame(pdf.iloc[30:]).withColumn(
        _BATCH_COL, F.lit(1))
    orphan.write.mode("append").parquet(staging)
    live.write.mode("append").parquet(staging)
    with open(os.path.join(staging, "_staged_batches.json"), "w") as fh:
        json.dump([1], fh)
    assert flush_ingest(spark, dirs["idx"],
                        IndexConfig(seg_docs=200)) is True
    # only the owned batch was applied
    assert SearchEngine(spark, dirs["idx"]).count() == 30


def test_compact_raises_on_unreadable_staged_data(spark, dirs):
    """A staged generation whose data files EXIST but cannot be read
    (corrupt footer / transient FS error) must raise, never be silently
    discarded — the stream's offsets are already committed, so rmtree
    here would be permanent data loss (ADVICE round 3 #1)."""
    import json

    import pytest

    from quicker_spark.streaming.ingest import _staging_dir, flush_ingest

    staging = _staging_dir(dirs["idx"])
    os.makedirs(staging, exist_ok=True)
    with open(os.path.join(staging, "_staged_batches.json"), "w") as fh:
        json.dump([0], fh)
    corrupt = os.path.join(staging, "part-00000-corrupt.snappy.parquet")
    with open(corrupt, "wb") as fh:
        fh.write(b"this is not a parquet footer")
    with pytest.raises(Exception):
        flush_ingest(spark, dirs["idx"])
    # nothing was discarded: the staged generation survives for repair
    assert os.path.exists(corrupt)
    assert os.path.exists(os.path.join(staging, "_staged_batches.json"))


def test_corrupt_staged_batches_marker_tolerated(spark, dirs):
    """An unparsable _staged_batches.json reads as 'nothing recorded'
    (replayed batches re-record and latest-wins dedupe converges)
    instead of raising on every later compaction."""
    from quicker_spark.streaming.ingest import _staged_batches, _staging_dir

    staging = _staging_dir(dirs["idx"])
    os.makedirs(staging, exist_ok=True)
    with open(os.path.join(staging, "_staged_batches.json"), "w") as fh:
        fh.write("[0, 1, tru")
    assert _staged_batches(staging) == set()


# -- streaming analytics: windowed agg == batch, bit for bit ------------------

def test_windowed_event_stats_equals_batch(spark, tmp_path):
    """A real streaming run (AvailableNow + complete mode) over a static
    events directory must equal the batch aggregation over the same
    rows — the determinism contract the stream_hourly oracle relies on."""
    import datetime as dt

    from pyspark.sql import functions as F

    from quicker_spark.streaming.analytics import windowed_event_stats

    base = dt.datetime(2024, 1, 1)
    rows = [(i, base + dt.timedelta(minutes=7 * i),
             ["click", "view", "error"][i % 3],
             round(0.37 * i, 2)) for i in range(300)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double")
    path = str(tmp_path / "events")
    df.repartition(5).write.parquet(path)

    got = sorted(tuple(r) for r in
                 windowed_event_stats(spark, path).collect())
    exp = sorted(tuple(r) for r in (
        spark.read.parquet(path)
        .groupBy(F.window("ts", "1 hour").alias("_w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.round(F.col("value") * 100).cast("long"))
             .alias("sum_x2"))
        .select(F.date_format("_w.start", "yyyy-MM-dd HH:mm:ss")
                .alias("hour"), "event_type", "n", "sum_x2")
    ).collect())
    assert got == exp and len(got) > 30
    # repeated run (fresh sink name) is identical — no temp-view clash
    again = sorted(tuple(r) for r in
                   windowed_event_stats(spark, path).collect())
    assert again == got
