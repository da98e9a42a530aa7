"""Deterministic synthetic source-code corpus (seed=42).

Generates the authoritative input shape from BASELINE.json / FIXTURES.md §1:

    repo:string, path:string, commit:string, lang:string, content:string

Every value is a pure function of the document index (splitmix64 counter
hashing), so the corpus is byte-identical no matter how many partitions or
executors generate it — which is what lets the local[8] vs local[32]
scaling runs share goldens. Content tokens follow a Zipf(s=1.1) draw over a
~5000-token vocabulary whose head is real code keywords (``def``,
``import``, ``return``, ...), so hot tokens land in >30% of docs and
exercise posting-list skew; a per-doc ``uniq_{i}`` token guarantees
singleton postings.

Generation is distributed: ``corpus_df(spark, n)`` is ``spark.range`` +
``mapInPandas`` — the driver never materializes the corpus.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

SEED = 42

# --- vocabulary --------------------------------------------------------------
_KEYWORDS = [
    "def", "import", "return", "if", "else", "for", "while", "class", "self",
    "x", "i", "func", "var", "let", "const", "int", "str", "len", "range",
    "print", "true", "false", "none", "null", "nil", "new", "try", "except",
    "catch", "raise", "throw", "from", "as", "in", "not", "and", "or", "is",
    "lambda", "yield", "async", "await", "match", "case", "struct", "enum",
    "impl", "trait", "pub", "fn", "mut", "void", "static", "final", "public",
    "private", "package", "interface", "extends", "string", "map", "list",
]
VOCAB_SIZE = 5000
VOCAB = np.array(_KEYWORDS + [f"tok{i}" for i in range(VOCAB_SIZE - len(_KEYWORDS))])

_ZIPF_S = 1.1
_w = 1.0 / np.power(np.arange(1, VOCAB_SIZE + 1, dtype=np.float64), _ZIPF_S)
_ZIPF_CDF = np.cumsum(_w / _w.sum())

LANGS = np.array(["python", "go", "java", "js", "rust", "c"])
_LANG_CDF = np.cumsum(np.array([0.35, 0.25, 0.15, 0.12, 0.08, 0.05]))
LANG_EXT = {"python": "py", "go": "go", "java": "java", "js": "js", "rust": "rs", "c": "c"}
_DIRS = np.array(["core", "util", "api", "io", "net", "db", "ui", "test"])

_U = np.uint64


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Counter-based hash: uint64 -> uint64 (public splitmix64 constants)."""
    z = (x + _U(0x9E3779B97F4A7C15)).astype(np.uint64)
    z = (z ^ (z >> _U(30))) * _U(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> _U(27))) * _U(0x94D049BB133111EB)
    return z ^ (z >> _U(31))


def _h(idx: np.ndarray, stream: int) -> np.ndarray:
    """Per-(doc, stream) hash; stream separates independent draws."""
    return _splitmix64(idx.astype(np.uint64) * _U(0x100000001B3) + _U(SEED + stream * 7919))


def _unit(h: np.ndarray) -> np.ndarray:
    return (h >> _U(11)).astype(np.float64) / float(1 << 53)


def generate_batch(idx: np.ndarray) -> pd.DataFrame:
    """Corpus rows for an array of doc indices (pure, vectorized)."""
    idx = np.asarray(idx, dtype=np.int64)
    n = idx.size
    u = idx.astype(np.uint64)

    org = _h(u, 1) % _U(20)
    repo_j = _h(u, 2) % _U(50)
    repos = np.char.add(
        np.char.add("org", org.astype(np.int64).astype(str)),
        np.char.add("/repo", repo_j.astype(np.int64).astype(str)),
    )
    lang_ix = np.searchsorted(_LANG_CDF, _unit(_h(u, 3)), side="right").clip(0, 5)
    langs = LANGS[lang_ix]
    dirs = _DIRS[(_h(u, 4) % _U(len(_DIRS))).astype(np.int64)]
    exts = np.array([LANG_EXT[l] for l in langs])
    paths = np.array(
        [f"src/{d}/f{int(i)}_{int(hh % 1000)}.{e}"
         for d, i, hh, e in zip(dirs, idx, _h(u, 5), exts)]
    )
    commits = np.array(
        [hashlib.sha256(f"{r}/{p}".encode()).hexdigest()[:40] for r, p in zip(repos, paths)]
    )

    # content: per-doc token count in [30, 300]
    doc_len = (30 + (_h(u, 6) % _U(271)).astype(np.int64))
    total = int(doc_len.sum())
    doc_of_pos = np.repeat(np.arange(n), doc_len)
    pos_in_doc = np.arange(total) - np.repeat(np.cumsum(doc_len) - doc_len, doc_len)
    tok_h = _splitmix64(
        u[doc_of_pos] * _U(0x9E3779B97F4A7C15) + pos_in_doc.astype(np.uint64) * _U(0xC2B2AE3D27D4EB4F) + _U(SEED)
    )
    ranks = np.searchsorted(_ZIPF_CDF, _unit(tok_h), side="right").clip(0, VOCAB_SIZE - 1)
    toks = VOCAB[ranks]
    bounds = np.cumsum(doc_len)
    starts = bounds - doc_len
    contents = [
        " ".join(toks[s:e]) + f" uniq_{int(i)}"
        for s, e, i in zip(starts, bounds, idx)
    ]
    return pd.DataFrame(
        {"repo": repos, "path": paths, "commit": commits, "lang": langs, "content": contents}
    )


def corpus_pdf(n_docs: int, start: int = 0) -> pd.DataFrame:
    """Driver-side corpus (tiny fixtures / the Python oracle)."""
    return generate_batch(np.arange(start, start + n_docs))


def corpus_df(spark, n_docs: int, partitions: int | None = None):
    """Distributed corpus as a Spark DataFrame (mapInPandas over a range)."""
    rng = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield generate_batch(b["id"].to_numpy())

    return rng.mapInPandas(
        gen, "repo string, path string, commit string, lang string, content string"
    )


# Hand-written edge cases for the tokenizer and the NULL-field contract:
# empty / whitespace-only / unicode / mixed-case content, a NULL lang, an
# empty lang and a NULL content. A NULL field indexes as '' (it never
# drops the doc's other terms) and a NULL or empty lang emits no term.
EDGE_ROWS = [
    ("r1", "a.py", "c1", "python", "def foo(): return 1"),
    ("r2", "b.py", "c2", "go", ""),
    ("r3", "c.py", "c3", "java", "   \t  "),
    ("r4", "d.py", "c4", "js", "héllo wörld déf naïve"),
    ("r5", "e.py", "c5", "rust", "DEF Def def dEf"),
    ("r6", "f.py", "c6", "c", "x1_y2 x1_y2 x1_y2 z"),
    ("r7", "g.py", "c7", None, "null lang still indexed"),
    ("r8", "h.py", "c8", "", "empty lang still indexed"),
    ("r9", "i.py", "c9", "python", None),
]


def edge_corpus_pdf() -> pd.DataFrame:
    """The :data:`EDGE_ROWS` corpus (NULLs kept as ``None``)."""
    return pd.DataFrame(EDGE_ROWS,
                        columns=["repo", "path", "commit", "lang", "content"])
