"""Searcher template (Q10-Q14 parity) + embedding similarity."""

from __future__ import annotations

import shutil

import pytest

from quicker_spark.engine import SearchEngine
from quicker_spark.fixtures import corpus_pdf
from quicker_spark.operators.build import IndexConfig, build_index
from quicker_spark.plans.searcher import (
    KeywordAuthorRecaller,
    KeywordRecaller,
    SearchContext,
    Searcher,
    range_filter,
)


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("searcher") / "idx")
    shutil.rmtree(out, ignore_errors=True)
    build_index(spark, spark.createDataFrame(corpus_pdf(250)), out,
                IndexConfig(seg_docs=250), resume=False)
    return SearchEngine(spark, out)


def test_keyword_recall_and_merge(eng):
    s = Searcher(eng, recallers=(KeywordRecaller(), KeywordAuthorRecaller()))
    ctx = SearchContext(keywords=("def", "return"),
                        extra={"user_name": "org3"})
    rows = s.search(ctx, k=5).collect()
    assert 0 < len(rows) <= 5
    # dedup by business id held
    ids = [r["id"] for r in rows]
    assert len(ids) == len(set(ids))
    # ordered by score desc
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_filter_chain(eng):
    s = Searcher(eng, filters=(range_filter("doc_id", 0, 100),))
    rows = s.search(SearchContext(keywords=("def",)), k=10).collect()
    assert all(0 <= r["doc_id"] <= 100 for r in rows)
    # degenerate range (lo >= hi) keeps everything — reference semantics
    s2 = Searcher(eng, filters=(range_filter("doc_id", 100, 100),))
    assert len(s2.search(SearchContext(keywords=("def",)), k=10).collect()) > 0


def test_empty_query_recall(eng):
    # KeywordAuthorRecaller with no session author contributes nothing
    s = Searcher(eng, recallers=(KeywordAuthorRecaller(),))
    assert s.search(SearchContext(keywords=("def",)), k=5).count() == 0


def test_rrf_fuse_math(spark):
    from quicker_spark.plans.searcher import rrf_fuse

    a = spark.createDataFrame(
        [(1, 9.0, "x"), (2, 5.0, "y"), (3, 1.0, "z")],
        "doc_id long, score double, id string")
    b = spark.createDataFrame(
        [(2, 0.9, "y"), (4, 0.5, "w")],
        "doc_id long, score double, id string")
    got = {r["doc_id"]: r["score"] for r in rrf_fuse([a, b], c=60).collect()}
    # ranks: a -> 1:1, 2:2, 3:3 ; b -> 2:1, 4:2
    assert got[1] == pytest.approx(1 / 61)
    assert got[2] == pytest.approx(1 / 62 + 1 / 61)
    assert got[3] == pytest.approx(1 / 63)
    assert got[4] == pytest.approx(1 / 62)
    # doc 2 fused above the singleton rank-1 doc — RRF rewards agreement
    order = sorted(got, key=lambda d: (-got[d], d))
    assert order[0] == 2
    # ride-along columns survive (one row per doc, no dup)
    rows = rrf_fuse([a, b]).collect()
    assert len(rows) == 4 and all(r["id"] for r in rows)


def test_searcher_rrf_matches_manual_fusion(eng):
    recallers = (KeywordRecaller(), KeywordAuthorRecaller())
    ctx = SearchContext(keywords=("def", "return"),
                        extra={"user_name": "org3"})
    s = Searcher(eng, recallers=recallers, fusion="rrf")
    got = [(r["doc_id"], r["score"]) for r in s.search(ctx, k=5).collect()]
    assert 0 < len(got) <= 5
    # manual fusion from the individual recalls
    fused = {}
    for rec in recallers:
        hits = sorted(rec.recall(eng, ctx, 5).collect(),
                      key=lambda r: (-r["score"], r["doc_id"]))
        for rank, r in enumerate(hits, 1):
            fused[r["doc_id"]] = fused.get(r["doc_id"], 0.0) + 1 / (60 + rank)
    want = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws)


def test_searcher_unknown_fusion_raises(eng):
    s = Searcher(eng, fusion="nope")
    with pytest.raises(ValueError, match="unknown fusion"):
        s.search(SearchContext(keywords=("def",)), k=5)


# -- embedding similarity: ANN quality + plan contracts -----------------------

import os

SF_DIR = "/root/testdata/sf0.001"
needs_testdata = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))


@needs_testdata
def test_ann_recall_at_10(spark, emb, tmp_path_factory):
    """Multi-probe bucketed ANN must reach recall@10 >= 0.8 vs the exact
    scan, averaged over queries ('approximate by construction' is a
    measured claim, not an unmeasured one)."""
    from quicker_spark.operators import simsearch

    ann_dir = str(tmp_path_factory.mktemp("ann") / "idx")
    simsearch.build_ann_index(emb, ann_dir, n_planes=4)
    hits = 0
    total = 0
    for qid in (0, 7, 42, 99, 250):
        exact = {r["vec_id"] for r in
                 simsearch.cosine_topk(emb, qid, k=10).collect()}
        approx = {r["vec_id"] for r in
                  simsearch.lsh_ann_topk_indexed(spark, ann_dir, qid,
                                                 k=10, probes=5).collect()}
        hits += len(exact & approx)
        total += len(exact)
    assert total > 0
    assert hits / total >= 0.8, f"recall@10 = {hits / total:.2f}"


@needs_testdata
def test_ann_probe_is_partition_pruned(spark, emb, tmp_path_factory):
    """The indexed probe must read only the probed bucket directories."""
    from quicker_spark.operators import simsearch

    ann_dir = str(tmp_path_factory.mktemp("annp") / "idx")
    simsearch.build_ann_index(emb, ann_dir, n_planes=4)
    df = simsearch.lsh_ann_topk_indexed(spark, ann_dir, 0, k=10, probes=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bucket IN" in plan or "PartitionFilters: [bucket" in plan \
        or "bucket#" in plan  # pruning filter present in scan
    # stronger: the optimized plan's scan carries partition filters
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "bucket" in opt


@needs_testdata
def test_near_pairs_lsh_recall(emb):
    """The banded sign-LSH candidate route: (a) never invents a pair
    (candidates are verified with the exact cosine), (b) finds >= 90% of
    pairs even at a deliberately loose 0.4 threshold, and (c) finds EVERY
    pair at 0.45+ — recall rises with similarity, so true near-dups
    (cos > 0.9, per-band collision ~0.87) are effectively never missed."""
    from quicker_spark.operators import simsearch

    exact = {(r["a"], r["b"]): r["cos"] for r in
             simsearch.near_pairs(emb, threshold=0.4).collect()}
    lsh = {(r["a"], r["b"]): r["cos"] for r in
           simsearch.near_pairs_lsh(emb, threshold=0.4).collect()}
    assert len(exact) >= 10  # loose threshold yields a meaningful sample
    assert set(lsh) <= set(exact)                       # no false pairs
    for p in lsh:
        assert abs(lsh[p] - exact[p]) < 1e-12           # exact cosines
    assert len(lsh) / len(exact) >= 0.9                 # recall floor
    strong = {p for p, c in exact.items() if c >= 0.45}
    assert strong <= set(lsh)                           # no strong misses


@needs_testdata
def test_near_pairs_lsh_plan_has_no_cartesian(emb):
    from quicker_spark.operators import simsearch

    plan = simsearch.near_pairs_lsh(emb, threshold=0.5)\
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_near_pairs_exactly_once_across_buckets(spark):
    """Identical vectors collide in EVERY band; the first-colliding-band
    check must still emit the pair exactly once (cos = 1.0)."""
    from quicker_spark.operators import simsearch

    rows = [(i, [1.0, 2.0] + [0.0] * 62) for i in range(3)]
    rows += [(10, [0.0] * 62 + [5.0, -1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = simsearch.near_pairs_lsh(emb, threshold=0.99).collect()
    pairs = sorted((r.a, r.b) for r in out)
    assert pairs == [(0, 1), (0, 2), (1, 2)]
    assert all(abs(r.cos - 1.0) < 1e-12 for r in out)


def test_near_pairs_verify_modes_bit_identical(spark):
    """The bucket verify finds every pair of the exact all-pairs check on
    a 40-vector corpus whose pairs all collide, with bit-identical
    cosines: both fold the dot in ascending-d order."""
    from quicker_spark.operators import simsearch

    rows = [(i, [float((i * 7 + d * 3) % 5 - 2) for d in range(64)])
            for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    bucket = {(r.a, r.b): r.cos
              for r in simsearch.near_pairs_lsh(emb, threshold=0.3).collect()}
    exact = {(r.a, r.b): r.cos
             for r in simsearch.near_pairs(emb, threshold=0.3).collect()}
    assert bucket == exact and len(bucket) > 0


def test_near_pairs_blocked_verify_matches_unblocked(spark, monkeypatch):
    """A tiny _VERIFY_BLOCK forces the hot-bucket chunked path; results
    must be identical to the single-block run."""
    from quicker_spark.operators import simsearch

    rows = [(i, [float((i * 7 + d * 3) % 5 - 2) for d in range(64)])
            for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = {(r.a, r.b): r.cos
            for r in simsearch.near_pairs_lsh(emb, threshold=0.3).collect()}
    monkeypatch.setattr(simsearch, "_VERIFY_BLOCK", 4)
    small = {(r.a, r.b): r.cos
             for r in simsearch.near_pairs_lsh(emb, threshold=0.3).collect()}
    assert base == small and len(base) > 0


@needs_testdata
def test_ann_probe_honors_meta_id_col(spark, emb, tmp_path_factory):
    """The probe's id column comes from the index's own _ann_meta.json —
    callers never need to repeat constructor args."""
    from quicker_spark.operators import simsearch

    ann_dir = str(tmp_path_factory.mktemp("annid") / "idx")
    renamed = emb.withColumnRenamed("vec_id", "emb_id")
    simsearch.build_ann_index(renamed, ann_dir, n_planes=4, id_col="emb_id")
    rows = simsearch.lsh_ann_topk_indexed(spark, ann_dir, 0, k=5).collect()
    assert rows and "emb_id" in rows[0].asDict()


# -- IVF ANN -------------------------------------------------------------------


@needs_testdata
def test_ivf_recall_at_10(spark, emb, tmp_path_factory):
    """IVF ANN at the default nprobe must reach recall@10 >= 0.8 vs the
    exact scan, averaged over queries — the same measured floor as the
    LSH probe."""
    from quicker_spark.operators import simsearch

    ivf_dir = str(tmp_path_factory.mktemp("ivf") / "idx")
    meta = simsearch.build_ivf_index(emb, ivf_dir)
    assert meta["nlist"] >= 4
    hits = 0
    total = 0
    for qid in (0, 7, 42, 99, 250):
        exact = {r["vec_id"] for r in
                 simsearch.cosine_topk(emb, qid, k=10).collect()}
        approx = {r["vec_id"] for r in
                  simsearch.ivf_ann_topk(spark, ivf_dir, qid, k=10).collect()}
        hits += len(exact & approx)
        total += len(exact)
    assert total > 0
    assert hits / total >= 0.8, f"recall@10 = {hits / total:.2f}"


@needs_testdata
def test_ivf_probe_is_partition_pruned(spark, emb, tmp_path_factory):
    """The IVF probe must read only the probed list directories."""
    from quicker_spark.operators import simsearch

    ivf_dir = str(tmp_path_factory.mktemp("ivfp") / "idx")
    simsearch.build_ivf_index(emb, ivf_dir)
    df = simsearch.ivf_ann_topk(spark, ivf_dir, 0, k=10, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "list_id IN" in plan or "PartitionFilters: [list_id" in plan \
        or "list_id#" in plan
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "list_id" in opt


@needs_testdata
def test_ivf_centroids_deterministic(spark, emb, tmp_path_factory):
    """Two builds over the same corpus produce identical centroids and
    identical probe results (the engine's determinism contract)."""
    import json
    import os as _os

    from quicker_spark.operators import simsearch

    d1 = str(tmp_path_factory.mktemp("ivf1") / "idx")
    d2 = str(tmp_path_factory.mktemp("ivf2") / "idx")
    m1 = simsearch.build_ivf_index(emb, d1)
    m2 = simsearch.build_ivf_index(emb, d2)
    assert m1["centroids"] == m2["centroids"]
    with open(_os.path.join(d1, "_ivf_meta.json")) as fh:
        assert json.load(fh)["nlist"] == m1["nlist"]
    r1 = simsearch.ivf_ann_topk(spark, d1, 42, k=10).collect()
    r2 = simsearch.ivf_ann_topk(spark, d2, 42, k=10).collect()
    assert [(r.vec_id, r.cos) for r in r1] == [(r.vec_id, r.cos) for r in r2]


@needs_testdata
def test_ivf_query_vec_matches_query_id(spark, emb, tmp_path_factory):
    """Supplying query_vec (the cluster-scale path: the vector comes from
    the id-partitioned forward table) must match the by-id lookup."""
    from quicker_spark.operators import simsearch

    ivf_dir = str(tmp_path_factory.mktemp("ivfq") / "idx")
    simsearch.build_ivf_index(emb, ivf_dir)
    qv = emb.filter("vec_id = 7").select("embedding").head()["embedding"]
    by_id = simsearch.ivf_ann_topk(spark, ivf_dir, 7, k=10).collect()
    by_vec = simsearch.ivf_ann_topk(spark, ivf_dir, 7, k=10,
                                    query_vec=list(qv)).collect()
    assert [(r.vec_id, r.cos) for r in by_id] == \
        [(r.vec_id, r.cos) for r in by_vec]
