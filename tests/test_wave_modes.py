"""The packed single-exchange wave must write exactly the Oracle's
postings and positions — every (segment, term) run decoded back to its
doc ids, tfs, doc lengths, bits (and token ordinals for the sidecar) — on
a corpus that spans multiple segments, waves, input partitions and
NULL-bearing fields; its bytes must not depend on how the input is
partitioned; and every file it writes must be term-sorted."""

import pytest
from pyspark.sql import functions as F

from quicker_spark.fixtures import corpus_df
from quicker_spark.functions.phrase import decode_positions_row
from quicker_spark.functions.tokenize import tokenize_py
from quicker_spark.model import term_key
from quicker_spark.operators.build import IndexConfig, build_index
from quicker_spark.operators.positions import build_positions
from quicker_spark.oracle import Oracle

CFG = IndexConfig(seg_docs=80, wave_segments=2, block_size=16)
FIELDS = ("content", "path")


def _corpus(spark, partitions):
    # inject NULL langs to exercise the fillna/no-term contract
    return corpus_df(spark, 350, partitions=partitions).withColumn(
        "lang", F.when(F.crc32("path") % 7 == 0, F.lit(None))
        .otherwise(F.col("lang")))


def _build(spark, corpus, out, positions=False):
    build_index(spark, corpus, out, CFG)
    if positions:
        build_positions(spark, out, fields=FIELDS)
    return out


@pytest.fixture(scope="module")
def packed_ref(spark, tmp_path_factory):
    """One packed build (postings + (content, path) sidecar) of the
    NULL-lang corpus read from 5 input partitions; returns (pdf, dir)."""
    corpus = _corpus(spark, 5)
    out = str(tmp_path_factory.mktemp("packed_ref") / "idx")
    return corpus.toPandas(), _build(spark, corpus, out, positions=True)


def _postings_key(spark, out):
    df = spark.read.parquet(out + "/postings")
    rows = df.select(
        "segment_id", "term", "df",
        F.md5(F.col("ids")).alias("h_ids"), F.md5(F.col("tfs")).alias("h_tfs"),
        F.md5(F.col("dls")).alias("h_dls"), F.md5(F.col("bits")).alias("h_bits"),
        F.col("block_last").cast("string").alias("bl"),
        F.col("block_max_u_ref").cast("string").alias("bu"),
    ).collect()
    return sorted(tuple(r) for r in rows)


def _positions_key(spark, out):
    df = spark.read.parquet(out + "/positions")
    rows = df.select(
        "segment_id", "term", "df",
        F.md5(F.col("ids")).alias("h_ids"), F.md5(F.col("tfs")).alias("h_tfs"),
        F.md5(F.col("dls")).alias("h_dls"), F.md5(F.col("bits")).alias("h_bits"),
        F.md5(F.col("pos")).alias("h_pos"),
    ).collect()
    return sorted(tuple(r) for r in rows)


def test_packed_wave_matches_oracle(spark, packed_ref,
                                    postings_match_oracle):
    pdf, out = packed_ref
    assert pdf["lang"].isna().any()
    assert postings_match_oracle(out, Oracle(pdf)) > 100


@pytest.mark.parametrize("partitions", [1, 4])
def test_packed_wave_bit_identical(spark, tmp_path, packed_ref, partitions):
    """The encoder's per-run doc_id lexsort makes the packed wave
    order-independent: the same corpus read from a different number of
    input partitions must write the same terms, encoded byte streams and
    block metadata as the Oracle-checked reference build."""
    _, ref = packed_ref
    out = _build(spark, _corpus(spark, partitions), str(tmp_path / "idx"))
    got = _postings_key(spark, out)
    assert got == _postings_key(spark, ref)
    assert len(got) > 100


def test_packed_wave_files_term_sorted(spark, tmp_path):
    """Row-group pruning depends on term-sorted files: every parquet file
    the packed wave writes must be internally term-ascending."""
    import glob

    import pyarrow.parquet as pq

    out = str(tmp_path / "sorted")
    build_index(spark, corpus_df(spark, 300, partitions=4), out,
                IndexConfig(seg_docs=100, wave_segments=4, block_size=16))
    files = glob.glob(
        out + "/postings/wave=*/segment_id=*/bucket=*/*.parquet")
    assert files
    for f in files:
        terms = pq.read_table(f, columns=["term"])["term"].to_pylist()
        assert terms == sorted(terms), f


def test_packed_positions_match_oracle(spark, packed_ref):
    """The packed positions wave must store, per (segment, term), each
    doc's token ordinals within ITS FIELD (positions restart per field of
    a multi-field sidecar), with the doc's doc_len and bits."""
    pdf, out = packed_ref
    got = {}
    for r in spark.read.parquet(out + "/positions").collect():
        ids, tfs, dls, bits, pos = decode_positions_row(
            r["ids"], r["tfs"], r["dls"], r["bits"], r["pos"])
        assert r["df"] == len(ids)
        got[(r["segment_id"], r["term"])] = (
            ids.tolist(), tfs.tolist(), dls.tolist(), bits.tolist(),
            pos.tolist())

    oracle = Oracle(pdf)
    rows = {(r["repo"], r["path"], r["commit"]): r
            for r in pdf.to_dict("records")}
    occ: dict[tuple, dict[int, list[int]]] = {}
    for d, doc in oracle.docs.items():
        row = rows[(doc["repo"], doc["path"], doc["commit"])]
        for f in FIELDS:
            for p, w in enumerate(tokenize_py(row[f])):
                key = (d // CFG.seg_docs, term_key(f, w))
                occ.setdefault(key, {}).setdefault(d, []).append(p)
    want = {}
    for key, per_doc in occ.items():
        ds = sorted(per_doc)
        want[key] = (ds, [len(per_doc[d]) for d in ds],
                     [oracle.doc_len[d] for d in ds],
                     [oracle.docs[d]["bits"] for d in ds],
                     [p for d in ds for p in per_doc[d]])
    assert got == want
    assert len(got) > 100


@pytest.mark.parametrize("partitions", [1, 4])
def test_packed_positions_bit_identical(spark, tmp_path, packed_ref,
                                        partitions):
    """The sidecar's flat position stream depends on the encoder's
    doc-order gather being independent of partial arrival order: a build
    from a different number of input partitions must write the same bytes
    as the Oracle-checked reference."""
    _, ref = packed_ref
    out = _build(spark, _corpus(spark, partitions), str(tmp_path / "idx"),
                 positions=True)
    got = _positions_key(spark, out)
    assert got == _positions_key(spark, ref)
    assert len(got) > 100


def test_packed_positions_files_term_sorted(spark, tmp_path):
    """The positions term scan relies on the same row-group term pruning
    as the main postings: packed-mode sidecar files must be internally
    term-ascending."""
    import glob

    import pyarrow.parquet as pq

    out = str(tmp_path / "pos_sorted")
    build_index(spark, corpus_df(spark, 300, partitions=4), out,
                IndexConfig(seg_docs=100, wave_segments=4, block_size=16))
    build_positions(spark, out, fields=("content",))
    files = glob.glob(
        out + "/positions/wave=*/segment_id=*/bucket=*/*.parquet")
    assert files
    for f in files:
        terms = pq.read_table(f, columns=["term"])["term"].to_pylist()
        assert terms == sorted(terms), f
