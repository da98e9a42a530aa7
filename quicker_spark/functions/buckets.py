"""Deterministic term->bucket mapping shared by the build and the query
planner.

``bucket = int(md5(term)[:8], 16) % n_buckets`` — md5 because it is the
one hash with bit-identical implementations on BOTH sides of the
contract: Catalyst (`F.md5`, evaluated executor-side during the build's
clustered write) and driver-side Python (`hashlib.md5`, evaluated per
query term during planning). xxhash64 (used for build-internal salting)
has no stable Python twin, and python's builtin `hash` is seed-randomized
per process.

Why buckets exist: the postings/positions trees are written
``partitionBy(segment_id, bucket)``, so a term-pruned scan becomes a
PARTITION-pruned scan — the planner maps each query term to its bucket
and Spark reads only ``1/n_buckets`` of every segment's directory tree
(visible as PartitionFilters in the plan). Parquet row-group stats alone
cannot do this: each written file is term-sorted, but a file's [min, max]
term range tells the reader nothing when files hold hash-random term
subsets — at the 10^12-doc design point the difference is reading ~GBs
(bucket dirs for the query's terms) vs ~TBs (every segment's full
postings). Within a bucket file, rows stay term-sorted, so row-group
stats still prune AT A FINER GRAIN once the directory pruning has done
the heavy lifting.

The bucket count is fixed per index (persisted in stats.json at build
time; maintenance and the query planner read it back) — a stable count
is what makes the mapping reproducible across builds, upserts, and
compactions. Sizing law: serving reads ``segment_bytes / n_buckets`` per
(term, segment), so pick the largest count that keeps per-(segment,
bucket) files above the small-file floor of the store (~32-64 MB on
object stores). The default (32) suits the sandbox's 200k-doc segments;
a 10M-doc-segment production index would raise it in proportion.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

# default bucket count for new indexes (IndexConfig.term_buckets). Every
# index is bucketed: IndexConfig rejects counts < 2, and both readers
# refuse an index whose stats.json has none (rebuild it)
N_BUCKETS_DEFAULT = 32


def term_bucket(term: str, n_buckets: int) -> int:
    """Driver-side bucket of one term (query planning)."""
    h = hashlib.md5(term.encode("utf-8")).hexdigest()
    return int(h[:8], 16) % int(n_buckets)


def bucket_col(term: Column, n_buckets: int) -> Column:
    """Executor-side bucket column (build write clustering) — bit-identical
    to :func:`term_bucket`: first 8 hex chars of md5(utf-8 bytes), mod n."""
    return F.pmod(
        F.conv(F.substring(F.md5(term), 1, 8), 16, 10).cast("long"),
        F.lit(int(n_buckets)),
    ).cast("int")
