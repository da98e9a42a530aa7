"""Embedding similarity search: exact cosine top-k + LSH and IVF ANN paths.

The reference has no vector path at all; these are the scale-path
additions a training-data pipeline needs (SURVEY.md §7). Vector math is
Catalyst higher-order functions (`zip_with` + `aggregate`) — float64,
fixed left-fold order, so a SQL oracle computing the same dot products
agrees to the ulp.

Scale notes (10^9+ vectors):
- `cosine_topk` broadcasts the query vector (a literal in the plan) and is
  one scan + TakeOrdered — the exact baseline; partial top-k per partition,
  driver merges k rows.
- `lsh_ann_topk` buckets vectors by random-hyperplane signs; the probe
  touches only matching buckets (partition-prunable when the table is
  written partitioned by bucket). Planes are generated with integer LCG
  arithmetic so every engine derives identical planes — no RNG state.
- `build_ivf_index`/`ivf_ann_topk` is the data-adaptive alternative: a
  spherical k-means coarse quantizer trained on a constant-size sample
  (driver-side, deterministic, no RNG), distributed assignment as one
  Arrow matmul per batch, and a probe that reads only the query's
  nprobe nearest list directories. On clustered corpora IVF needs far
  fewer probes than oblivious hyperplanes for the same recall.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (deterministic float64 order)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def _query_cos_udf(qv: list):
    """Arrow UDF: cosine of every row vector against the fixed query
    vector (a closure constant — the broadcast). Ascending-d fold for
    both the dot and the norms, bit-identical to :func:`cosine`."""
    import numpy as np

    q = np.asarray(qv, dtype=np.float64)
    qn = 0.0
    for d in range(len(q)):          # python floats ARE IEEE doubles:
        qn += float(q[d]) * float(q[d])  # same ascending fold as dot(q, q)
    qnorm = float(np.sqrt(qn))

    @F.pandas_udf("double")
    def query_cos(v):
        import pandas as pd

        if not len(v):
            return pd.Series(np.zeros(0))
        V = np.array(v.tolist(), dtype=np.float64)
        num = np.zeros(len(V))
        sq = np.zeros(len(V))
        for d in range(V.shape[1]):
            num += V[:, d] * q[d]
            sq += V[:, d] * V[:, d]
        return pd.Series(num / (np.sqrt(sq) * qnorm))

    return query_cos


def cosine_topk(emb: DataFrame, query_id: int, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors of one stored vector.

    (id, cos) ordered by (cosine desc, id asc).
    The query vector is fetched by one point lookup and shipped as a
    closure constant of the Arrow scan kernel; the scan + limit compiles
    to per-partition partial top-k (TakeOrdered).
    """
    e = emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
    qrow = e.filter(F.col(id_col) == query_id).select("v").head()
    if qrow is None:
        return emb.sparkSession.createDataFrame([], f"{id_col} long, cos double")
    # query vector is a closure constant of the Arrow kernel (the
    # broadcast); per-dimension ascending-d fold = the exact float64 add
    # order of the Catalyst `cosine` aggregate, so scores are bit-identical
    # to the higher-order expression (and the SQL oracle) while the scan
    # stays one vectorized numpy pass per Arrow batch instead of an
    # interpreted per-element lambda per row
    cos = _query_cos_udf(list(qrow["v"]))(F.col("v"))
    return (
        e.filter(F.col(id_col) != query_id)
        .select(F.col(id_col), cos.alias("cos"))
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


def near_pairs(emb: DataFrame, threshold: float = 0.9,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(a, b, cos): all pairs (a<b) with cosine >= threshold — the EXACT
    quadratic check. Test-oracle only: at scale use
    :func:`near_pairs_lsh`, which finds the same pairs through a banded
    sign-LSH candidate equi-join instead of an all-pairs theta join."""
    e = emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
    a, b = e.alias("a"), e.alias("b")
    ia, ib = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    cos = cosine(F.col("a.v"), F.col("b.v"))
    return (
        a.join(b, ib > ia)
        .select(ia.alias("a"), ib.alias("b"), cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def near_pairs_lsh(emb: DataFrame, threshold: float = 0.9,
                   n_planes: int = 16, bands: int = 8, dim: int = 64,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """(a, b, cos): near pairs through banded sign-LSH — the scale path
    for embedding near-dup detection.

    Each vector gets ``n_planes`` hyperplane sign bits, grouped into
    ``bands`` band keys; a pair is a candidate iff it shares >= 1 bucket
    (band, key). ONE shuffle (repartition by bucket) + a blocked
    all-pairs numpy verify per bucket in ``applyInPandas``: the vector
    shuffles ``bands``x, but candidate rows are never materialized, so
    the plan holds when candidates approach |all pairs| (low thresholds
    / tight corpora). The pairwise dot is an ascending-d per-dimension
    fold — the EXACT float64 add order of :func:`dot`'s Catalyst
    aggregate and of a SQL oracle performing the same left fold — and
    each pair is emitted exactly once WITHOUT a ``distinct`` over the
    candidate set: a pair colliding in m buckets is kept only where its
    FIRST colliding band matches (band bj collides iff the signatures'
    XOR has a zero bj-th r-bit slice).

    Probabilistic recall: a pair at cosine c collides per plane with
    prob 1 - arccos(c)/pi, so with 8 bands of 2 a 0.9-cosine pair is
    missed with prob ~(1 - 0.81)^8 ~ 2e-6; true near-dups (c > 0.99) are
    effectively never missed. Scale note: bucket population ~ n/2^r per
    band, so r (planes per band) must grow ~log2(n / target_bucket) with
    corpus size — same sizing rule as :func:`build_ann_index`; the
    bucket verify is blocked (``_VERIFY_BLOCK`` rows at a time) so
    memory stays bounded for hot buckets.
    """
    if n_planes % bands:
        raise ValueError(
            f"n_planes ({n_planes}) must be divisible by bands ({bands}) — "
            "otherwise the top n_planes % bands sign bits are silently "
            "ignored and the documented recall is weakened")
    e = emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
    r = n_planes // bands
    # one Arrow pass computes all n_planes sign bits as a single long;
    # the per-band keys are then cheap bit-slices of it in Catalyst
    sig = _buckets_udf(n_planes, dim)(F.col("v"))
    band_keys = [
        F.shiftrightunsigned(F.col("sig"), bi * r)
        .bitwiseAND(F.lit((1 << r) - 1))
        for bi in range(bands)
    ]
    tagged = e.select(F.col(id_col), F.col("v"), sig.alias("sig"))
    rows = tagged.select(
        F.col(id_col), F.col("v"), F.col("sig"),
        F.posexplode(F.array(*band_keys)).alias("band", "bkey"))
    fn = _bucket_verify_fn(threshold, r, id_col)
    return (rows.groupBy("band", "bkey")
            .applyInPandas(fn, "a long, b long, cos double"))


def _bucket_verify_fn(threshold: float, r: int, id_col: str):
    """Per-bucket exact verify for :func:`near_pairs_lsh` (see its
    docstring for the float-order and exactly-once contracts)."""
    import numpy as np
    import pandas as pd

    mask = (1 << r) - 1
    empty = pd.DataFrame({"a": pd.Series(dtype="int64"),
                          "b": pd.Series(dtype="int64"),
                          "cos": pd.Series(dtype="float64")})

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return empty
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        sigs = pdf["sig"].to_numpy(dtype=np.int64)[order]
        V = np.array(pdf["v"].to_numpy()[order].tolist(), dtype=np.float64)
        band = int(pdf["band"].iloc[0])
        # per-vector self-dot, ascending-d fold (== sqrt(dot(v, v)))
        sq = np.zeros(n)
        for d in range(V.shape[1]):
            sq += V[:, d] * V[:, d]
        norms = np.sqrt(sq)
        outs = []
        block = _VERIFY_BLOCK
        # tile BOTH pair dimensions: a hot bucket of n rows must never
        # allocate an n-wide tile, only block x block (upper triangle,
        # j-tile starting at the i-tile)
        for i0 in range(0, n, block):
            i1 = min(i0 + block, n)
            for j0 in range(i0, n, block):
                j1 = min(j0 + block, n)
                # pairwise dots of rows [i0:i1) x [j0:j1), ascending-d fold
                C = np.zeros((i1 - i0, j1 - j0))
                for d in range(V.shape[1]):
                    C += V[i0:i1, d:d + 1] * V[None, j0:j1, d]
                cos = C / (norms[i0:i1, None] * norms[None, j0:j1])
                jj, kk = np.nonzero(cos >= threshold)
                gi, gk = jj + i0, kk + j0
                upper = gk > gi            # each unordered pair once, a < b
                jj, kk, gi, gk = jj[upper], kk[upper], gi[upper], gk[upper]
                if not len(jj):
                    continue
                # exactly-once across buckets: keep only pairs whose first
                # colliding band is this bucket's band
                x = sigs[gi] ^ sigs[gk]
                first = np.ones(len(jj), dtype=bool)
                for bj in range(band):
                    first &= ((x >> (bj * r)) & mask) != 0
                if not first.any():
                    continue
                outs.append(pd.DataFrame({
                    "a": ids[gi[first]],
                    "b": ids[gk[first]],
                    "cos": cos[jj[first], kk[first]],
                }))
        return pd.concat(outs, ignore_index=True) if outs else empty

    return verify


_VERIFY_BLOCK = 2048


# -- LSH-bucketed ANN ---------------------------------------------------------

def _plane_component(p: int, d: int) -> float:
    """Deterministic pseudo-random plane component in [-0.5, 0.5) from
    integer LCG arithmetic — identical in any engine, no RNG state."""
    x = (1103515245 * (p * 131 + d * 7 + 12345) + 12345) % (1 << 31)
    return x / float(1 << 31) - 0.5


def lsh_bucket(vec: Column, n_planes: int, dim: int,
               plane_offset: int = 0) -> Column:
    """int bucket id = sign bits of ``n_planes`` hyperplane projections.
    ``plane_offset`` selects an independent plane family (one per hash
    table in multi-table LSH)."""
    acc = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(*[F.lit(_plane_component(plane_offset + p, d))
                          for d in range(dim)])
        proj = dot(vec, plane)
        acc = acc + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return acc


def _buckets_udf(n_planes: int, dim: int, plane_offset: int = 0):
    """Arrow UDF: array<double> vector -> int64 of ``n_planes`` sign bits.

    One vectorized pass per Arrow batch instead of a ~n_planes*dim-literal
    Catalyst expression (whose codegen dominated near-pair candidate
    generation). The accumulator adds v[d]*plane[d] in ascending-d order,
    the EXACT float64 fold `lsh_bucket`'s Catalyst aggregate performs, so
    both produce identical sign bits for every vector."""
    import numpy as np

    planes = np.array([[_plane_component(plane_offset + p, d)
                        for d in range(dim)] for p in range(n_planes)])

    @F.pandas_udf("long")
    def buckets(v):
        import pandas as pd

        V = np.array(v.tolist(), dtype=np.float64)
        if V.ndim != 2 or not len(V):
            return pd.Series(np.zeros(len(v), dtype=np.int64))
        acc = np.zeros((V.shape[0], n_planes), dtype=np.float64)
        for d in range(dim):
            acc += V[:, d:d + 1] * planes[None, :, d]
        bits = (acc > 0).astype(np.int64)
        return pd.Series((bits << np.arange(n_planes, dtype=np.int64)).sum(axis=1))

    return buckets


def _bucket_margins(vec, n_planes: int,
                    plane_offset: int = 0) -> tuple[int, list[float]]:
    """Driver-side (bucket, per-plane |projection|) of one vector — the
    bucket uses the exact left-fold float order of :func:`lsh_bucket` /
    :func:`_buckets_udf` (sign identity with the stored table); the
    margins rank multi-probe candidates (heuristic only, any float
    order is fine there)."""
    import numpy as np

    v = np.asarray(vec, dtype=np.float64)
    acc = 0
    margins: list[float] = []
    for p in range(n_planes):
        plane = np.array([_plane_component(plane_offset + p, d)
                          for d in range(len(v))])
        # left-fold sum, matching Catalyst's aggregate() order exactly
        proj = 0.0
        for x in v * plane:
            proj += float(x)
        if proj > 0:
            acc |= 1 << p
        margins.append(abs(proj))
    return acc, margins


def lsh_ann_topk(emb: DataFrame, query_id: int, k: int = 10,
                 n_planes: int = 4, dim: int = 64, probes: int = 1,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: exact cosine within the query's LSH bucket plus
    ``probes - 1`` extra Hamming-neighbor buckets (multi-probe: the
    nearest misclassified vectors differ in exactly one plane sign, so
    probing Hamming-1 buckets recovers most of single-probe's misses).
    Same output shape as :func:`cosine_topk`.

    This variant computes buckets on the fly (no prebuilt table); the
    scale path is :func:`build_ann_index` + :func:`lsh_ann_topk_indexed`,
    where the probe is a partition-pruned read.
    """
    e = emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
    e = e.withColumn("bucket", lsh_bucket(F.col("v"), n_planes, dim))
    qrow = (e.filter(F.col(id_col) == query_id)
             .select("v", "bucket").head())
    if qrow is None:
        return emb.sparkSession.createDataFrame([], f"{id_col} long, cos double")
    qv, qb = list(qrow["v"]), int(qrow["bucket"])
    cos = _query_cos_udf(qv)(F.col("v"))
    hamming = F.bit_count(F.col("bucket").bitwiseXOR(F.lit(qb)))
    max_ham = 0 if probes <= 1 else 1
    return (
        e.filter((hamming <= max_ham) & (F.col(id_col) != query_id))
        .select(F.col(id_col), cos.alias("cos"))
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


def ann_planes_for(n_vectors: int, target_bucket: int = 1024,
                   lo: int = 4, hi: int = 24) -> int:
    """Plane count so the EXPECTED bucket holds ~``target_bucket``
    vectors: n_planes = log2(n / target_bucket), clamped. At 10^9
    vectors this is ~20 planes (10^6 buckets of ~1k vectors) — the probe
    cost stays ~constant as the corpus grows, instead of a fixed 16
    buckets degenerating into a 1/16 table scan."""
    import math

    if n_vectors <= target_bucket:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n_vectors / target_bucket))))


def build_ann_index(emb: DataFrame, out_dir: str, n_planes: int | None = None,
                    dim: int = 64, n_tables: int = 3, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    target_bucket: int = 1024) -> dict:
    """Persist the embedding table partitioned by (hash table, LSH
    bucket) — standard multi-table LSH: ``n_tables`` independent plane
    families trade ``n_tables``x storage for union-of-probes recall. The
    probe side (:func:`lsh_ann_topk_indexed`) reads only the probed
    bucket directories (partition pruning) — ~n_tables * probes /
    2^n_planes of the data, never a full scan.

    ``n_planes=None`` sizes the bucket count from the corpus
    (:func:`ann_planes_for`, one column-pruned count job). The shuffle
    is salted so writer parallelism tracks the cluster, not the
    n_tables * 2^n_planes partition-combination count (which capped the
    write at 48 tasks with the old fixed defaults). The chosen geometry
    is recorded in ``_ann_meta.json`` so probes never need matching
    constructor args; returns the meta dict."""
    import json
    import math
    import os

    spark = emb.sparkSession
    if n_planes is None:
        n_vec = emb.select(id_col).count()
        n_planes = ann_planes_for(n_vec, target_bucket)
    else:
        n_vec = -1
    e = emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
    tables = F.explode(F.array(*[
        F.struct(F.lit(t).alias("tbl"),
                 _buckets_udf(n_planes, dim,
                              plane_offset=t * n_planes)(F.col("v"))
                 .alias("bucket"))
        for t in range(n_tables)
    ])).alias("tb")
    rows = (e.select(F.col(id_col), F.col("v"), tables)
            .select(id_col, "v", F.col("tb.tbl").alias("tbl"),
                    F.col("tb.bucket").alias("bucket")))
    # salt only as far as needed to fill the cluster's write slots: at
    # scale the (tbl, bucket) combination count alone exceeds the
    # parallelism and the salt collapses to 1 (no extra small files)
    par = spark.sparkContext.defaultParallelism
    n_combos = n_tables * (1 << n_planes)
    n_salt = max(1, math.ceil(2 * par / max(1, n_combos)))
    (rows.repartition(F.col("tbl"), F.col("bucket"),
                      F.pmod(F.col(id_col), F.lit(n_salt)))
     .write.mode("overwrite")
     .partitionBy("tbl", "bucket").parquet(out_dir))
    meta = {"n_planes": int(n_planes), "n_tables": int(n_tables),
            "dim": int(dim), "n_vectors": int(n_vec),
            "id_col": id_col}
    from quicker_spark.io import atomic_write_json

    atomic_write_json(os.path.join(out_dir, "_ann_meta.json"), meta)
    return meta


# -- IVF (inverted-file) ANN ---------------------------------------------------
#
# The second scale path for similarity search, complementary to the LSH
# index above: a coarse quantizer (spherical k-means centroids) routes
# each vector to ONE inverted list, the table is persisted partitioned
# by list id, and a query probes only its ``nprobe`` nearest lists —
# a partition-pruned read, like the LSH probe, but with data-adaptive
# cell boundaries instead of oblivious hyperplanes (fewer probes for the
# same recall on clustered corpora). Training runs on a deterministic
# driver-side SAMPLE — the standard IVF practice: quantizer quality
# needs only a representative sample, so training cost is constant in
# corpus size while assignment and probing stay fully distributed.


def ivf_nlist_for(n_vectors: int, target_list: int = 1024,
                  lo: int = 4, hi: int = 4096) -> int:
    """List count so the EXPECTED list holds ~``target_list`` vectors
    (same sizing law as :func:`ann_planes_for`: the probe cost stays
    ~constant as the corpus grows)."""
    import math

    if n_vectors <= target_list:
        return lo
    return max(lo, min(hi, math.ceil(n_vectors / target_list)))


def train_ivf_centroids(vectors, nlist: int, iters: int = 10):
    """Deterministic spherical k-means over a sample (numpy, no RNG).

    Rows are L2-normalized; init takes ``nlist`` evenly spaced rows of
    the (caller-sorted) sample; Lloyd assignment is max-dot with
    first-max tie-break; updates renormalize the member mean; an emptied
    list keeps its previous centroid. Every step is order-fixed, so two
    builds over the same corpus produce identical centroids — the same
    determinism contract as the LCG planes in :func:`lsh_bucket`.

    Returns float64 ``(nlist, dim)`` of unit-norm centroids.
    """
    import numpy as np

    V = np.asarray(vectors, dtype=np.float64)
    norms = np.sqrt((V * V).sum(axis=1))
    V = V[norms > 0] / norms[norms > 0, None]
    n = len(V)
    if n == 0:
        raise ValueError("cannot train IVF centroids on an empty sample")
    nlist = min(nlist, n)
    C = V[np.linspace(0, n - 1, nlist).astype(np.int64)].copy()
    for _ in range(iters):
        assign = np.argmax(V @ C.T, axis=1)       # first max wins ties
        for c in range(nlist):
            members = V[assign == c]
            if not len(members):
                continue                          # keep previous centroid
            m = members.mean(axis=0)
            nm = float(np.sqrt((m * m).sum()))
            if nm > 0:
                C[c] = m / nm
    return C


def _ivf_assign_udf(centroids):
    """Arrow UDF: array<double> vector -> int32 nearest-centroid list id
    (max cosine == max dot against unit-norm centroids; zero vectors go
    to list 0). One matmul per Arrow batch."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("int")
    def assign(v):
        import pandas as pd

        if not len(v):
            return pd.Series(np.zeros(0, dtype=np.int32))
        V = np.array(v.tolist(), dtype=np.float64)
        norms = np.sqrt((V * V).sum(axis=1))
        norms[norms == 0] = 1.0
        return pd.Series(
            np.argmax((V / norms[:, None]) @ C.T, axis=1).astype(np.int32))

    return assign


def build_ivf_index(emb: DataFrame, out_dir: str, nlist: int | None = None,
                    dim: int = 64, sample: int = 8192,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    target_list: int = 1024, iters: int = 10) -> dict:
    """Train (sampled, driver-side), assign (distributed Arrow matmul),
    and persist the embedding table partitioned by ``list_id``.

    The training sample is a deterministic SPREAD over the whole corpus:
    rows whose ``xxhash64(id) % stride == 0``, with stride sized so
    ~``sample`` rows survive. Content-independent and engine-reproducible
    like a lowest-ids prefix, but UNIFORM over the corpus — on real
    corpora id order correlates with content (ingestion is
    source-by-source), so a prefix sample trains the quantizer on one
    source and skews every list. The collect stays control-plane-sized
    (~sample x dim doubles — 4 MB at the defaults — regardless of corpus
    size); the driver sorts by id so k-means init order is fixed. The
    write is salted exactly like :func:`build_ann_index` so writer
    parallelism tracks the cluster, not nlist. Geometry + centroids land
    in ``_ivf_meta.json``; returns the meta dict."""
    import json
    import math
    import os

    spark = emb.sparkSession
    e = emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
    n_vec = e.select(id_col).count()
    if nlist is None:
        nlist = ivf_nlist_for(n_vec, target_list)
    stride = max(1, n_vec // max(1, sample))
    samp_rows = (e.filter(F.pmod(F.xxhash64(F.col(id_col)),
                                 F.lit(int(stride))) == 0)
                 .select(F.col(id_col).alias("_id"), "v").collect())
    samp_rows.sort(key=lambda r: r["_id"])
    samp = [r["v"] for r in samp_rows[:sample]]
    C = train_ivf_centroids(samp, nlist, iters=iters)
    nlist = len(C)
    rows = e.withColumn("list_id", _ivf_assign_udf(C)(F.col("v")))
    par = spark.sparkContext.defaultParallelism
    n_salt = max(1, math.ceil(2 * par / max(1, nlist)))
    (rows.repartition(F.col("list_id"),
                      F.pmod(F.col(id_col), F.lit(n_salt)))
     .write.mode("overwrite")
     .partitionBy("list_id").parquet(out_dir))
    meta = {"nlist": int(nlist), "dim": int(dim), "n_vectors": int(n_vec),
            "id_col": id_col, "centroids": C.tolist()}
    from quicker_spark.io import atomic_write_json

    atomic_write_json(os.path.join(out_dir, "_ivf_meta.json"), meta)
    return meta


def ivf_ann_topk(spark, ivf_dir: str, query_id: int, k: int = 10,
                 nprobe: int | None = None, query_vec=None,
                 id_col: str | None = None) -> DataFrame:
    """ANN top-k against a :func:`build_ivf_index` table.

    The query's ``nprobe`` nearest lists come from one driver-side
    centroid matmul (nlist x dim — control-plane-sized); probe order is
    query-aware (lists ranked by centroid similarity, ties to the lower
    list id), the candidate scan is pruned to those list directories
    (~nprobe/nlist of the data, never a full scan) and ranked by exact
    cosine, ordered (cos desc, id asc) like :func:`cosine_topk`.

    Default nprobe is ``min(nlist, max(16, ceil(sqrt(nlist))))`` — a
    SUB-LINEAR law: at nlist <= 16 every list is probed (exact within
    the quantizer — the honest small-corpus behavior), and as the corpus
    grows the probed fraction max(16, sqrt(nlist))/nlist -> 0 (nlist
    4096: 64 probes = 1.6% of the data; the previous ceil(nlist/8)
    default scanned a constant 1/8 of the corpus per query forever).
    Recall at a fixed sub-linear budget depends on corpus structure:
    clustered real-world embeddings concentrate neighbors in few cells;
    the sandbox's near-random vectors are the worst case (recall ~=
    probed fraction — no probe law beats the curse of dimensionality
    there; see the recall-vs-nprobe curve in BENCH.md). Raise ``nprobe``
    per query to buy recall with latency.

    ``query_vec`` short-circuits the point lookup; without it the query
    vector is fetched from the index by id (at cluster scale, fetch it
    from the id-partitioned forward table instead — the IVF table is
    partitioned by list, so an id-only lookup cannot prune)."""
    import json
    import math
    import os

    import numpy as np

    with open(os.path.join(ivf_dir, "_ivf_meta.json")) as fh:
        meta = json.load(fh)
    C = np.asarray(meta["centroids"], dtype=np.float64)
    nlist = len(C)
    id_col = meta.get("id_col", "vec_id") if id_col is None else id_col
    if nprobe is None:
        nprobe = min(nlist, max(16, math.ceil(math.sqrt(nlist))))
    e = spark.read.parquet(ivf_dir)
    if query_vec is None:
        qrow = e.filter(F.col(id_col) == query_id).select("v").head()
        if qrow is None:
            return spark.createDataFrame([], f"{id_col} long, cos double")
        query_vec = list(qrow["v"])
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.sqrt((q * q).sum()))
    sims = (C @ (q / qn)) if qn > 0 else np.zeros(nlist)
    # ties broken toward the lower list id (lexsort: last key primary)
    order = np.lexsort((np.arange(nlist), -sims))
    lists = [int(x) for x in order[:max(1, nprobe)]]
    cos = _query_cos_udf(list(query_vec))(F.col("v"))
    return (
        e.filter(F.col("list_id").isin(lists))
        .filter(F.col(id_col) != query_id)
        .select(F.col(id_col), cos.alias("cos"))
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


def lsh_ann_topk_indexed(spark, ann_dir: str, query_id: int, k: int = 10,
                         n_planes: int | None = None,
                         n_tables: int | None = None,
                         probes: int | None = None,
                         id_col: str | None = None) -> DataFrame:
    """ANN top-k against a :func:`build_ann_index` table.

    The query vector is one point lookup (control-plane-sized collect).
    Probing is QUERY-AWARE multi-probe (Lv et al., VLDB'07): for each
    table the candidate buckets are the query's own bucket plus
    Hamming-1/-2 neighbors RANKED by the summed |projection margin| of
    the flipped planes — a plane whose projection is near zero is the
    likeliest misclassification, so the probe budget goes where the
    misses are (measured: recall@10 0.72 -> 0.80 at the SAME 5-bucket
    budget, 0.96 at the default 2*n_planes budget on the sf0.01
    corpus). The candidate scan is pruned to the probed bucket
    directories — probe fraction ~2*log2(B)/B per table, vanishing as
    the corpus (and bucket count) grows. Candidates are deduped across
    tables; the exact cosine ranks them. Index geometry defaults come
    from the index's own ``_ann_meta.json``."""
    import json
    import os

    meta_path = os.path.join(ann_dir, "_ann_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        n_planes = meta["n_planes"] if n_planes is None else n_planes
        n_tables = meta["n_tables"] if n_tables is None else n_tables
        id_col = meta.get("id_col") if id_col is None else id_col
    n_planes = 4 if n_planes is None else n_planes
    n_tables = 3 if n_tables is None else n_tables
    id_col = "vec_id" if id_col is None else id_col
    if probes is None:
        probes = 2 * n_planes
    e = spark.read.parquet(ann_dir)
    # the index stores n_tables copies of every vector; the point lookup
    # needs one, so prune to table 0's partition directories (the true
    # bucket is unknowable before the vector is read, the table is not)
    qrow = (e.filter((F.col("tbl") == 0) & (F.col(id_col) == query_id))
            .select("v").head())
    if qrow is None:
        return spark.createDataFrame([], f"{id_col} long, cos double")
    qv = list(qrow["v"])
    cond = None
    for t in range(n_tables):
        qb, margins = _bucket_margins(qv, n_planes, plane_offset=t * n_planes)
        ranked = [(0.0, qb)]
        for i in range(n_planes):
            ranked.append((margins[i], qb ^ (1 << i)))
            for j in range(i + 1, n_planes):
                ranked.append((margins[i] + margins[j],
                               qb ^ (1 << i) ^ (1 << j)))
        ranked.sort()
        buckets = [b for _s, b in ranked[:max(1, probes)]]
        c = (F.col("tbl") == t) & F.col("bucket").isin(buckets)
        cond = c if cond is None else (cond | c)
    cos = _query_cos_udf(qv)(F.col("v"))
    return (
        e.filter(cond)
        .filter(F.col(id_col) != query_id)
        .dropDuplicates([id_col])
        .select(F.col(id_col), cos.alias("cos"))
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )
