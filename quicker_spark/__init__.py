"""quicker_spark — a PySpark-native full-text inverted-index + BM25 engine.

A from-scratch re-creation of the capabilities of hjrbill/quicker (a Go
boolean inverted-index framework; see SURVEY.md for the structural analysis)
re-expressed Spark-first:

- corpus ingestion over an Iceberg/parquet table of source-code rows
  ``(repo, path, commit, lang, content)``
- vectorized (Arrow/pandas-UDF) tokenization — no per-row Python
- per-segment sorted posting lists, delta + varbyte compressed, built by
  one map-side-combined exchange on (segment, term) (hot-token skew safe)
  into a term-bucketed layout
- boolean AND/OR query trees with bit-feature flag predicates (exact
  semantics of the reference's ``filterByBits``,
  reference: internal/reverse_index/skiplist_reverse_index.go:158-171)
- BM25 (k1=1.2, b=0.75) top-k serving with a block-max WAND kernel
- checkpointed segments + lineage manifests so a killed build resumes

Nothing in here is a port: the reference is row-at-a-time Go over skiplists
and gRPC scatter-gather; this engine is columnar DataFrames where Spark's
stages ARE the scatter-gather (SURVEY.md §3.3).
"""

__version__ = "0.1.0"

# first: every worker that unpickles an engine function installs it
from quicker_spark import zipcache  # noqa: F401
from quicker_spark.plans.term_query import TermQuery, And, Or, Empty, NewTermQuery

__all__ = [
    "TermQuery",
    "And",
    "Or",
    "Empty",
    "NewTermQuery",
    "__version__",
]
