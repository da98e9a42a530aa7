"""Seeded benchmark inputs: the corpus, query streams and upsert batches.

Everything here is a pure function of the ``--seed`` argument. Corpus rows
come from ``quicker_spark.fixtures.generate_batch`` over a doc-index range
that the seed picks (the fixture hashes are fixed, so the seed selects the
offset); queries and upsert sets come from ``numpy.random.default_rng``.
The engine only ever sees the generated tables and ``TermQuery`` objects.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

from quicker_spark.fixtures import VOCAB, generate_batch
from quicker_spark.model import LANG_BITS
from quicker_spark.plans.term_query import (And, AndNot, NewTermQuery, Or,
                                            TermQuery)

# Hot set for the head-term draws: a few hundred terms, far below the
# resident searcher's max_terms cap, so head queries hit its cache.
HEAD_TERMS = 300
HEAD_ZIPF_S = 1.1
# Share of serve queries that carry a never-repeated ``uniq_<i>`` term
# (a compulsory miss of the resident cache).
COLD_SHARE = 0.2
STRING_COLS = ("repo", "path", "commit", "lang", "content")

_w = 1.0 / np.power(np.arange(1, HEAD_TERMS + 1, dtype=np.float64),
                    HEAD_ZIPF_S)
_HEAD_P = _w / _w.sum()


def utf8_bytes(pdf: pd.DataFrame) -> int:
    """UTF-8 bytes of the generated string columns."""
    return int(sum(pdf[c].str.encode("utf-8").str.len().sum()
                   for c in STRING_COLS))


def key_sha(repo: str, path: str, commit: str) -> str:
    """Hex sha256 of the business key, the order doc ids are ranked by."""
    return hashlib.sha256(f"{repo}\x01{path}\x01{commit}".encode()).hexdigest()


def content_term(word: str) -> TermQuery:
    """Leaf query on the content field."""
    return NewTermQuery("content", word)


@dataclass
class Request:
    """One search request: the query tree plus its filter arguments."""
    q: TermQuery
    on: int = 0
    exclude: TermQuery | None = None

    def oracle_query(self) -> TermQuery:
        """The same request as one tree: ``exclude`` is a top-level
        must_not (its terms filter, never score)."""
        if self.exclude is None:
            return self.q
        return AndNot(self.q, self.exclude)


@dataclass
class UpsertBatch:
    """Rows for one ``upsert_docs`` call and the doc ids they must get."""
    rows: pd.DataFrame
    uniq: list[int]                       # uniq_<i> token of each row
    expected_ids: list[int]
    input_bytes: int


class Inputs:
    """All inputs of one run, derived from ``seed``."""

    def __init__(self, seed: int, n_docs: int):
        corpus_ss, query_ss, upsert_ss = np.random.SeedSequence(seed).spawn(3)
        self.offset = int(np.random.default_rng(corpus_ss).integers(0, 10**9))
        self.doc_index = np.arange(self.offset, self.offset + n_docs)
        self.corpus = generate_batch(self.doc_index)
        self.input_bytes = utf8_bytes(self.corpus)
        self._q = np.random.default_rng(query_ss)
        # cold tail: every uniq_<i> is drawn at most once per run
        self._cold = iter(self._q.permutation(self.doc_index))
        self._u = np.random.default_rng(upsert_ss)
        self._replace_pool = iter(self._u.permutation(self.doc_index))
        self._next_new = self.offset + n_docs
        self._next_id = n_docs            # ids 0..n-1 are the dense rank

    # -- queries ------------------------------------------------------------
    def head_set(self, chunk: int = 50) -> list[TermQuery]:
        """OR queries that touch every head term once: served before the
        timed region, they make the whole hot set resident."""
        words = [str(w) for w in VOCAB[:HEAD_TERMS]]
        return [Or(*[content_term(w) for w in words[i:i + chunk]])
                for i in range(0, len(words), chunk)]

    def _head_words(self, n: int) -> list[str]:
        ranks = self._q.choice(HEAD_TERMS, size=n, replace=False, p=_HEAD_P)
        return [str(VOCAB[r]) for r in ranks]

    def query(self, cold_share: float = COLD_SHARE) -> TermQuery:
        """A flat OR (block-max WAND), flat AND (conjunctive) or nested
        And(Or(a, b), c) (exhaustive TAAT) over 2-3 Zipf head terms; with
        probability ``cold_share`` one term is a fresh ``uniq_<i>``."""
        shape = self._q.choice(3, p=[0.5, 0.25, 0.25])
        n = 3 if shape == 2 else int(self._q.integers(2, 4))
        words = self._head_words(n)
        if self._q.random() < cold_share:
            words[-1] = f"uniq_{int(next(self._cold))}"
        leaves = [content_term(w) for w in words]
        if shape == 0:
            return Or(*leaves)
        if shape == 1:
            return And(*leaves)
        return And(Or(leaves[0], leaves[1]), leaves[2])

    def request(self) -> Request:
        """A heterogeneous Spark-tier request: a plain query, a query
        restricted to one language bit, or one with a must_not term."""
        q = self.query(cold_share=0.0)
        kind = self._q.choice(3, p=[0.5, 0.25, 0.25])
        if kind == 1:
            lang = str(self._q.choice(["python", "go", "java"]))
            return Request(q, on=LANG_BITS[lang])
        if kind == 2:
            banned = set(q.terms())
            while True:
                ex = content_term(self._head_words(1)[0])
                if ex.keyword not in banned:
                    return Request(q, exclude=ex)
        return Request(q)

    # -- upserts ------------------------------------------------------------
    def upsert_batch(self, round_no: int, size: int) -> UpsertBatch:
        """``size // 2`` existing business keys with new content (drawn
        uniformly, so they spread over every segment) plus as many new
        docs. Replaced docs keep their ``uniq_<i>`` token; the engine must
        give every row a fresh id past the current maximum, in sha256-key
        rank order within the batch."""
        half = size // 2
        old = np.array([next(self._replace_pool) for _ in range(half)])
        replaced = self.corpus.iloc[old - self.offset].copy()
        replaced["content"] = replaced["content"] + f" rev{round_no}"
        new_ix = np.arange(self._next_new, self._next_new + (size - half))
        self._next_new += size - half
        rows = pd.concat([replaced, generate_batch(new_ix)],
                         ignore_index=True)
        uniq = [int(i) for i in old] + [int(i) for i in new_ix]
        order = sorted(range(len(rows)), key=lambda j: key_sha(
            rows.at[j, "repo"], rows.at[j, "path"], rows.at[j, "commit"]))
        expected = [0] * len(rows)
        for rank, j in enumerate(order):
            expected[j] = self._next_id + rank
        self._next_id += len(rows)
        return UpsertBatch(rows, uniq, expected, utf8_bytes(rows))
