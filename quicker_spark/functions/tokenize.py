"""Vectorized tokenization.

The reference has NO engine-side tokenizer — callers supply keywords
(reference: demo/job/build_index.go:85-91 splits CSV fields on ',' and
lowercases; README_EN.md notes the business side owns text handling). Our
engine ingests raw source-code ``content`` so it owns tokenization, done
vectorized per the north rule ("vectorized Arrow/pandas UDFs, no per-row
Python").

Token definition (shared verbatim by the Spark engine, the Python oracle,
and the DuckDB oracle SQL so all three agree bit-for-bit):

    lowercase the text, then extract maximal runs of ``[a-z0-9_]``

Three implementations of the same spec:

- :func:`tokenize_col` — pure Catalyst expression (``lower`` + ``split`` +
  ``filter``); computes each doc's ``doc_len`` in the forward index.
- :func:`batch_doc_term_tfs` — pandas' C string kernels
  (``str.findall(TOKEN_RE)``) over a whole Arrow batch; the build wave's
  term frequencies.
- :func:`tokenize_py` — one Python string, for the oracle and tests.

All three produce identical tokens on any input (tested), so ``doc_len``
and the term frequencies always count the same tokens.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# One regex, three engines: python `re`, pandas `.str.findall`, and (in
# complement form) Spark `split` / DuckDB `string_split_regex`.
TOKEN_RE = r"[a-z0-9_]+"
NON_TOKEN_RE = r"[^a-z0-9_]+"

# Spark-side separator pattern. Java's ASCII `\W` is [^A-Za-z0-9_]; on
# LOWERED text that is exactly [^a-z0-9_] (uppercase is gone, non-ASCII
# chars are separators under both classes) — and the JDK regex engine runs
# `\W+` ~15x faster than the spelled-out char class (measured 7.1s -> 0.4s
# over 60k docs), so tokenization stops dominating the index build.
SPARK_NON_TOKEN_RE = r"\W+"


def tokenize_col(content: Column) -> Column:
    """Catalyst-native tokenizer: array<string> of lowercase tokens."""
    parts = F.split(F.lower(content), SPARK_NON_TOKEN_RE)
    return F.filter(parts, lambda t: t != F.lit(""))


def tokenize_py(text: str) -> list[str]:
    """Single-string tokenizer for the driver-side oracle/tests."""
    import re

    return re.findall(TOKEN_RE, (text or "").lower())


def batch_doc_term_tfs(fields: tuple[str, ...], cols):
    """Batch-vectorized tokenize + per-doc term-frequency count.

    ``cols`` are pandas Series (one per field, call order = ``fields``).
    Returns flattened parallel arrays ``(doc_idx, terms, tfs)`` — one entry
    per unique (doc, field-namespaced term) pair in the batch, sorted
    stable by ``doc_idx``. The packed wave's map side
    (build._make_pack_iter) counts every term through it.

    Counting is C-speed: per field, flatten the batch's token lists,
    `pd.factorize` to int codes, then one `np.unique` over the combined
    (doc_index, code) integer key. (A per-row Counter loop measured
    ~26 us/token and made this UDF the whole build's bottleneck — python
    time, invisible to JVM CPU metrics.)

    NULL fields count as ``''``. A field named ``lang`` is taken
    verbatim as a single term (an empty/NULL lang emits none); the rest
    are tokenized.
    """
    import numpy as np

    n = len(cols[0])
    # accumulated unique (doc, term, tf) triples across fields
    all_docs, all_terms, all_tfs = [], [], []
    for fname, col in zip(fields, cols):
        filled = col.fillna("")
        if fname == "lang":
            # empty/NULL lang emits no term
            mask = (filled != "").to_numpy()
            if mask.any():
                idxs = np.nonzero(mask)[0].astype(np.int64)
                all_docs.append(idxs)
                all_terms.append(
                    ("lang\x01" + filled[mask]).to_numpy(dtype=object))
                all_tfs.append(np.ones(len(idxs), dtype=np.int64))
            continue
        found = filled.str.lower().str.findall(TOKEN_RE)
        lens = found.str.len().to_numpy(dtype=np.int64)
        total = int(lens.sum())
        if total == 0:
            continue
        flat = np.concatenate(
            [np.asarray(x, dtype=object) for x in found if x])
        doc_idx = np.repeat(np.arange(n, dtype=np.int64), lens)
        codes, uniques = pd.factorize(flat)
        v = len(uniques)
        key = doc_idx * v + codes
        uk, counts = np.unique(key, return_counts=True)
        all_docs.append(uk // v)
        all_terms.append(
            (fname + "\x01" + pd.Index(uniques)).to_numpy(
                dtype=object)[uk % v])
        all_tfs.append(counts.astype(np.int64))
    if not all_docs:
        z = np.empty(0, dtype=np.int64)
        return z, np.empty(0, dtype=object), z
    docs = np.concatenate(all_docs)
    terms = np.concatenate(all_terms)
    tfs = np.concatenate(all_tfs)
    order = np.argsort(docs, kind="stable")
    return docs[order], terms[order], tfs[order]

