"""Training-data text operators: dedup, similarity, analysis.

Large-scale corpus-curation operators the reference engine lacks but a
10^12-document pipeline needs next to the index (SURVEY.md §7). Everything
here is pure Catalyst column expressions — whole-stage-codegen'd JVM
execution, no Python in the hot path — and every operator has an exact
ANSI-SQL twin in ``quicker_spark.driver_queries`` so results are verifiable
against a DuckDB oracle bit-for-bit.

Scale notes (100 TB):
- hashing is `md5`-prefix → int64, computed JVM-side; no UDF, no collect.
- MinHash/LSH candidate generation is a self-equi-join on band keys — a
  shuffle on a high-cardinality key (band hash), which Spark distributes
  evenly; the quadratic all-pairs comparison never materializes.
- exact dedup is one hash `groupBy` with map-side partial aggregation.
- windowed Jaccard joins on a range condition over the id — with the
  corpus range-partitioned by id this is a co-partitioned merge join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from quicker_spark.functions.tokenize import tokenize_col

# Deterministic portable 60-bit hash: both Spark (`conv(substr(md5, 1, 15),
# 16, 10)`) and DuckDB (`('0x' || substr(md5, 1, 15))::bigint`) produce the
# identical non-negative int64 for identical input strings.


def md5_long(c: Column) -> Column:
    """Portable non-negative int64 hash of a string column."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def shingles_col(text: Column, n: int = 3) -> Column:
    """array<string> of word n-gram shingles (space-joined token runs).

    Built by zipping the token array with its own shifted suffixes —
    linear work per row. (Indexing via `element_at` inside a lambda would
    re-evaluate the tokenizer per element: O(len^2) per doc — measured 60x
    slower at sf0.1.) `concat` (not concat_ws) propagates the null padding
    zip_with adds past the shortest suffix; the final filter drops it.
    """
    toks = tokenize_col(text)
    # NB: a constant INT_MAX slice length overflows (start+length) inside
    # zip_with codegen and yields empty arrays — bound by size() instead.
    suffixes = [F.slice(toks, j + 1, F.size(toks)) for j in range(n)]
    sh = suffixes[n - 1]
    for j in range(n - 2, -1, -1):
        sh = F.zip_with(suffixes[j], sh,
                        lambda a, b: F.concat(a, F.lit(" "), b))
    return F.filter(sh, lambda x: x.isNotNull())


# -- exact dedup ---------------------------------------------------------------

def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """First-writer-wins exact dedup: (id, content hash, keep flag).

    One hash groupBy; at 100 TB the min-over-window is a two-phase
    aggregation on the md5 key — no skew (hashes are uniform).
    """
    w = Window.partitionBy("h")
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("h"))
        .withColumn("keep", F.col(id_col) == F.min(id_col).over(w))
    )


# -- MinHash + LSH -------------------------------------------------------------

def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 8,
                       shingle: int = 3) -> DataFrame:
    """(id, sig_0..sig_{k-1}): k-permutation MinHash over word shingles.

    Double hashing (Kirsch-Mitzenmacher): permutation i is
    ``h1 + i * h2`` from TWO md5-prefix hashes per shingle instead of k
    salted md5s — the per-shingle hash cost IS the minhash cost at
    corpus scale, and it no longer grows with k. Plain int64 arithmetic
    (h1 < 2^60, h2 < 2^56, so h1 + 63*h2 < 2^63 — ANSI-overflow-safe
    for k <= 64), portable: any engine computes identical signatures.

    ZERO-SHUFFLE plan: a doc's signature is a pure per-row function of
    its own shingles, so each ``sig_i`` is an ``array_min`` over a
    ``zip_with`` of two staged per-shingle hash arrays — no explode, no
    groupBy exchange. Staged projections (shingles, then the two hash
    arrays) keep the tokenizer and the two md5 passes single-evaluation
    per row; inlining them into all k consumers would re-hash every
    shingle k times. Docs with no shingles (< ``shingle`` tokens) are
    absent, matching the former explode+groupBy semantics. The round-2
    formulation shuffled one combined row per doc; shuffling anything to
    compute a row-local function is pure waste at corpus scale — this
    plan is a single map stage.
    """
    if k > 64:
        raise ValueError(f"k ({k}) > 64 would overflow the int64 "
                         "double-hash h1 + i*h2")
    sh = df.select(F.col(id_col),
                   shingles_col(F.col(text_col), shingle).alias("s"))
    hashed = sh.select(
        F.col(id_col),
        F.transform(F.col("s"), md5_long).alias("h1s"),
        # independent second hash, 56-bit so i*h2 stays in range
        F.transform(
            F.col("s"),
            lambda s: F.conv(
                F.substring(F.md5(F.concat(F.lit("x:"), s)), 1, 14),
                16, 10).cast("long")).alias("h2s"),
    )
    sigs = [
        F.array_min(F.zip_with(
            F.col("h1s"), F.col("h2s"),
            lambda a, b: a + F.lit(i) * b)).alias(f"sig_{i}")
        for i in range(k)
    ]
    return (hashed.where(F.size(F.col("h1s")) > 0)
            .select(F.col(id_col), *sigs))


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id",
                        k: int = 8, bands: int = 4) -> DataFrame:
    """(a, b) candidate near-dup pairs sharing >=1 LSH band bucket (a < b).

    Bands the k signature values into ``bands`` groups of ``k//bands``,
    hashes each band, and self-joins on the band key — the standard
    sub-quadratic LSH candidate join. The band hash is high-cardinality, so
    the shuffle is balanced; a pathological bucket (thousands of identical
    docs) is exactly the case where the pairs ARE all near-dups.

    Exactly-once WITHOUT a ``distinct`` over the candidate set: each band
    row carries the doc's k signature values, so a pair colliding in m
    bands is kept only where its FIRST colliding band matches (earlier
    bands must differ in >= 1 signature slot) — a filter pipelined into
    the join stage instead of a second full shuffle of the candidates.
    """
    r = k // bands
    keys = F.array(*[
        F.md5(F.concat_ws(",", F.lit(str(bi)),
                          *[F.col(f"sig_{bi * r + j}").cast("string")
                            for j in range(r)]))
        for bi in range(bands)
    ])
    # one pass over sigs: the band index is salted into each key, so a
    # single explode replaces a `bands`-way union (which would recompute
    # the signature aggregation per branch). shuffle_hash: a broadcast
    # is never right for this SELF-join (both sides are the full
    # corpus's band rows — at scale neither fits in memory, and at toy
    # scale broadcasting forfeits the shared shuffle and computes the
    # shingle-hash pipeline once per side); the hint pins the plan every
    # size picks at scale anyway.
    sig_cols = [F.col(f"sig_{i}") for i in range(k)]
    band_rows = sigs.select(
        F.col(id_col), *sig_cols,
        F.posexplode(keys).alias("band", "band_key")).hint("shuffle_hash")
    a = band_rows.alias("a")
    b = band_rows.alias("b")
    first = F.lit(True)
    for bj in range(bands - 1):
        differs = F.lit(False)
        for j in range(r):
            differs = differs | (F.col(f"a.sig_{bj * r + j}")
                                 != F.col(f"b.sig_{bj * r + j}"))
        first = first & ((F.lit(bj) >= F.col("a.band")) | differs)
    return (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .filter(first)
        .select(F.col(f"a.{id_col}").alias("a"), F.col(f"b.{id_col}").alias("b"))
    )


def jaccard_window_pairs(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", max_gap: int = 2,
                         shingle: int = 3) -> DataFrame:
    """(a, b, jac): exact n-gram Jaccard for id-windowed pairs
    (0 < b - a <= max_gap).

    The bounded-gap condition is materialized as an EQUI-join: the left
    side explodes a gap column g in 1..max_gap and joins on
    ``b.id == a.id + g``. A raw range predicate has no equi-key, so Spark
    plans it as BroadcastNestedLoopJoin — O(n^2) at scale; the exploded
    form hash-partitions both sides on the id and costs max_gap * n rows,
    a sort-merge/shuffled-hash plan that scales linearly
    (asserted in tests/test_plans.py).
    """
    arr = df.select(
        F.col(id_col),
        F.array_distinct(shingles_col(F.col(text_col), shingle)).alias("sh"),
    )
    left = arr.select(
        F.col(id_col).alias("a"), F.col("sh").alias("sh_a"),
        F.explode(F.sequence(F.lit(1), F.lit(int(max_gap)))).alias("g"),
    ).select("a", "sh_a", (F.col("a") + F.col("g")).alias("bid"))
    right = arr.select(F.col(id_col).alias("bid"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    na = F.size(F.col("sh_a")).cast("double")
    nb = F.size(F.col("sh_b")).cast("double")
    return (
        left.join(right, "bid")
        .select(F.col("a"), F.col("bid").alias("b"),
                (inter / (na + nb - inter)).alias("jac"))
    )


# -- SimHash -------------------------------------------------------------------

def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 16) -> DataFrame:
    """(id, simhash): ``bits``-wide SimHash over the doc's distinct terms.

    Bit j is set when the majority of term hashes have bit j set
    (equivalently: sum over terms of (2*((h(term)>>j)&1) - 1) > 0).

    ZERO-SHUFFLE plan: SimHash is a pure per-row function, so the term
    hashes are built once per row as an array (``transform`` over the
    distinct tokens — an intermediate projection keeps the md5 pass
    single-evaluation; inlining it into all ``bits`` consumers would
    re-tokenize+re-hash the doc 17x) and each output bit is a
    higher-order ``filter``+``size`` majority vote over that array. The
    round-2 formulation shuffled one row per (doc, term) into a 16-sum
    aggregation plus a rejoin for token-less docs; shuffling tokens to
    compute a row-local function is pure waste at corpus scale — this
    plan is a single embarrassingly-parallel map stage (plan-asserted:
    no Exchange).
    """
    staged = df.select(
        F.col(id_col),
        F.transform(F.array_distinct(tokenize_col(F.col(text_col))),
                    md5_long).alias("hs"))
    hs = F.col("hs")
    n = F.size(hs)
    sim = F.lit(0).cast("long")
    for j in range(bits):
        ones = F.size(F.filter(
            hs, lambda h: F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1))
        sim = sim + F.when(ones * 2 > n,
                           F.lit(1 << j).cast("long")).otherwise(F.lit(0))
    return staged.select(F.col(id_col), sim.alias("simhash"))


# -- text analysis -------------------------------------------------------------

STOPWORDS = ("a", "the")


# Two auxiliary counting modes beside the engine tokenizer: whitespace
# tokens (non-whitespace runs — symmetric in any regex engine, no
# trailing-empty-split ambiguity) and a BPE-ish segmentation (letter
# runs | digit runs | single non-alnum glyph — the shape of a byte-pair
# pre-tokenizer's coarsest pass). Escapes are regex-level (backslash-t),
# identical in Java regex and RE2, so the DuckDB oracle counts the same
# pieces.
WS_TOKEN_RE = r"[^ \t\n\r\f]+"
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f]"


def token_stats(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, n_tokens, n_uniq, ttr, n_ws, n_bpe): engine-tokenizer count,
    vocabulary size, type-token ratio, plus whitespace-token and BPE-ish
    sub-token counts (the two counting modes a training-data pipeline
    budgets with)."""
    toks = tokenize_col(F.col(text_col))
    n = F.size(toks).cast("long")
    nu = F.size(F.array_distinct(toks)).cast("long")
    n_ws = F.size(F.regexp_extract_all(
        F.col(text_col), F.lit(WS_TOKEN_RE), F.lit(0))).cast("long")
    n_bpe = F.size(F.regexp_extract_all(
        F.col(text_col), F.lit(BPE_TOKEN_RE), F.lit(0))).cast("long")
    # Guard the division: Spark's non-ANSI x/0 yields NULL while IEEE
    # engines yield NaN — an explicit NULL on zero tokens canonicalizes
    # identically everywhere (oracle uses nullif).
    return df.select(
        F.col(id_col), n.alias("n_tokens"), nu.alias("n_uniq"),
        F.when(n > 0, nu.cast("double") / n.cast("double")).alias("ttr"),
        n_ws.alias("n_ws"), n_bpe.alias("n_bpe"),
    )


def quality_score(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(id, stop_ratio, avg_len, quality): simple curation heuristics
    — stopword density, mean token length, and a linear quality score
    (avg_len/10 - stop_ratio)."""
    toks = tokenize_col(F.col(text_col))
    n = F.size(toks).cast("double")
    stop_cnt = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double")
    sum_len = F.aggregate(toks, F.lit(0).cast("long"),
                          lambda acc, t: acc + F.length(t)).cast("double")
    # zero-token docs: explicit NULL (not engine-specific NULL-vs-NaN)
    stop_ratio = F.when(n > 0, stop_cnt / n)
    avg_len = F.when(n > 0, sum_len / n)
    return df.select(
        F.col(id_col),
        stop_ratio.alias("stop_ratio"),
        avg_len.alias("avg_len"),
        (avg_len / F.lit(10.0) - stop_ratio).alias("quality"),
    )


# Marker vocabularies for the n-gram-free language-ID heuristic. Ordered
# dict: ties break on ascending language code.
LANG_MARKERS = {
    "de": ("hash", "big"),
    "en": ("the", "a", "table"),
    "es": ("slow", "agg"),
    "fr": ("scan", "batch"),
    "zh": ("join", "small"),
}


def lang_id(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text",
            markers: dict[str, tuple[str, ...]] = LANG_MARKERS) -> DataFrame:
    """(id, pred_lang): marker-set language ID — argmax of per-language
    marker occurrence counts, ties broken by ascending language code."""
    toks = tokenize_col(F.col(text_col))
    scored = df.select(
        F.col(id_col),
        *[
            F.size(F.filter(toks, lambda t: t.isin(*words))).alias(f"s_{lang}")
            for lang, words in markers.items()
        ],
    )
    # argmax via sort of (score desc, lang asc) structs
    pairs = F.array(*[
        F.struct((-F.col(f"s_{lang}")).alias("neg"), F.lit(lang).alias("lang"))
        for lang in markers
    ])
    return scored.select(
        id_col, F.array_sort(pairs)[0]["lang"].alias("pred_lang")
    )


def doc_fingerprint(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", shingle: int = 5) -> DataFrame:
    """(id, fp): order-invariant document fingerprint = min hash over
    character-level ``shingle``-gram hashes of the full text (winnowing's
    degenerate single-window form)."""
    txt = F.lower(F.col(text_col))
    idx = F.sequence(F.lit(1), F.greatest(F.length(txt) - (shingle - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: txt.substr(i, F.lit(shingle)))
    g = df.select(F.col(id_col), F.explode(grams).alias("g"))
    return g.groupBy(id_col).agg(F.min(md5_long(F.col("g"))).alias("fp"))


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 5,
                        w: int = 4) -> DataFrame:
    """(id, fp): winnowing fingerprint set — the rolling-hash scheme of
    Schleimer/Wilkerson/Aiken (SIGMOD'03, the MOSS algorithm): hash every
    character ``k``-gram, slide a window of ``w`` consecutive hashes, and
    select each window's minimum; the distinct selected values are the
    document's fingerprints. Guarantees any shared substring of length
    >= k + w - 1 contributes at least one common fingerprint, so an
    equi-join on ``fp`` finds partial overlaps (plagiarized/vendored code
    blocks) that whole-document hashes miss — the locality the
    single-window :func:`doc_fingerprint` gives up.

    ZERO-SHUFFLE plan, like the SimHash/MinHash rewrites: grams, hashes
    (staged once — one md5 pass per gram, not per window), window minima,
    and the distinct are all row-local higher-order expressions; the
    explode is a map-side fan-out. Docs shorter than k yield one gram
    (the whole text); fewer than w grams yield one window.
    """
    txt = F.lower(F.col(text_col))
    n_g = F.greatest(F.length(txt) - (k - 1), F.lit(1))
    grams = F.transform(F.sequence(F.lit(1), n_g),
                        lambda i: txt.substr(i, F.lit(k)))
    hashed = df.select(F.col(id_col), F.transform(grams, md5_long).alias("hs"))
    n_w = F.greatest(F.size(F.col("hs")) - (w - 1), F.lit(1))
    wins = F.transform(F.sequence(F.lit(1), n_w),
                       lambda p: F.array_min(F.slice(F.col("hs"), p, w)))
    return hashed.select(F.col(id_col),
                         F.explode(F.array_distinct(wins)).alias("fp"))


def binary_meta(df: DataFrame, id_col: str = "doc_id",
                payload_col: str = "text") -> DataFrame:
    """(id, n_bytes, sha): opaque-payload plumbing — byte length + sha256
    of the utf-8 payload. The pattern for multimodal binary columns: carry
    bytes opaquely, index typed metadata next to them."""
    c = F.col(payload_col)
    return df.select(
        F.col(id_col),
        F.octet_length(c).cast("long").alias("n_bytes"),
        F.sha2(c, 256).alias("sha"),
    )
