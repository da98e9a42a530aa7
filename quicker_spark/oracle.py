"""Single-process reference engine (the golden oracle).

A plain dict/numpy inverted index with exhaustive BM25 scoring and the
reference's boolean/bit-filter semantics. This recreates what hjrbill/
quicker's in-RAM engine computes (term -> sorted posting list; AND = k-way
intersection, reference: internal/reverse_index/skiplist_reverse_index.go:77-130;
OR = dedup union, :133-156; leaf bit filter, :158-171) plus the north-rule
BM25 top-k — so the Spark engine can be checked for rank identity against
it (SURVEY.md §5).

Deliberately unoptimized and Spark-free: trusted by being obvious.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import pandas as pd

from quicker_spark.functions.tokenize import tokenize_py
from quicker_spark.model import (
    B,
    K1,
    LANG_BITS,
    bm25_idf,
    bm25_term_score,
    business_id,
    filter_by_bits,
    term_key,
)
from quicker_spark.plans.term_query import TermQuery


def doc_key_sha(repo: str, path: str, commit: str) -> str:
    return hashlib.sha256(f"{repo}\x01{path}\x01{commit}".encode()).hexdigest()


# -- set-op kernels (semantics of skiplist_reverse_index.go:77-156) ----------

def intersect_sorted(lists: list[list[int]]) -> list[int]:
    """k-way intersection; 0 lists -> empty, 1 list -> itself."""
    if not lists:
        return []
    if len(lists) == 1:
        return list(lists[0])
    out = set(lists[0])
    for l in lists[1:]:
        out &= set(l)
        if not out:
            return []
    return sorted(out)


def union_sorted(lists: list[list[int]]) -> list[int]:
    """Dedup union, returned in ascending doc_id order."""
    out: set[int] = set()
    for l in lists:
        out |= set(l)
    return sorted(out)


@dataclass
class OracleHit:
    doc_id: int
    id: str
    score: float


class Oracle:
    """Build from a corpus pandas DataFrame (repo,path,commit,lang,content)."""

    def __init__(self, corpus: pd.DataFrame, k1: float = K1, b: float = B):
        self.k1, self.b = k1, b
        rows = corpus.to_dict("records")
        # deterministic doc_id: dense rank over sha256(repo\x01path\x01commit)
        # (SURVEY.md §1.3 — replaces the reference's atomic counter,
        # index_service/indexer.go:82, which is partition-order dependent)
        keyed = sorted(
            (doc_key_sha(r["repo"], r["path"], r["commit"]), r) for r in rows
        )
        self.docs: dict[int, dict] = {}
        # per doc, each field's token stream (phrase matching)
        self.tokens: dict[int, dict[str, list[str]]] = {}
        self.postings: dict[str, dict[int, int]] = {}
        self.doc_len: dict[int, int] = {}
        for doc_id, (_sha, r) in enumerate(keyed):
            # the engine's NULL-field contract: a NULL field indexes as
            # '', and a NULL or empty lang emits no lang term
            text = {f: "" if pd.isna(r[f]) else r[f]
                    for f in ("content", "repo", "path", "lang")}
            toks = tokenize_py(text["content"])
            fields = {
                "content": toks,
                "repo": tokenize_py(text["repo"]),
                "path": tokenize_py(text["path"]),
                "lang": [text["lang"]] if text["lang"] else [],
            }
            self.docs[doc_id] = {
                "id": business_id(r["repo"], r["path"], r["commit"]),
                "bits": LANG_BITS.get(text["lang"], 0),
                "content_sha": hashlib.sha256(
                    text["content"].encode()).hexdigest(),
                **{k: r[k] for k in ("repo", "path", "commit", "lang")},
            }
            self.tokens[doc_id] = fields
            self.doc_len[doc_id] = len(toks)
            for f, words in fields.items():
                for w in words:
                    t = term_key(f, w)
                    tfm = self.postings.setdefault(t, {})
                    tfm[doc_id] = tfm.get(doc_id, 0) + 1
        self.n_docs = len(self.docs)
        self.avgdl = (sum(self.doc_len.values()) / self.n_docs) if self.n_docs else 0.0

    # -- boolean evaluation (skiplist_reverse_index.go:175-206) -----------
    def _leaf(self, term: str, on: int, off: int, or_flags) -> list[int]:
        hits = self.postings.get(term, {})
        return sorted(
            d for d in hits if filter_by_bits(self.docs[d]["bits"], on, off, or_flags)
        )

    def eval_bool(self, q: TermQuery, on: int = 0, off: int = 0,
                  or_flags=()) -> list[int]:
        if q.empty():
            return []
        if q.keyword:
            return self._leaf(q.keyword, on, off, or_flags)
        if q.must:
            out = intersect_sorted(
                [self.eval_bool(c, on, off, or_flags) for c in q.must])
        else:
            out = union_sorted(
                [self.eval_bool(c, on, off, or_flags) for c in q.should])
        if q.must_not and out:
            # nested exclusion: positive matches minus the union of the
            # must_not subtrees (same contract as kernels.eval_bool_tree)
            neg = set(union_sorted(
                [self.eval_bool(c, on, off, or_flags) for c in q.must_not]))
            out = [d for d in out if d not in neg]
        return out

    def search_bool(self, q: TermQuery, on: int = 0, off: int = 0,
                    or_flags=()) -> list[str]:
        """Business ids in doc_id order — the reference's Search contract
        (skiplist_reverse_index.go:214-227)."""
        return [self.docs[d]["id"] for d in self.eval_bool(q, on, off, or_flags)]

    # -- BM25 -------------------------------------------------------------
    def score(self, doc_id: int, terms: set[str]) -> float:
        dl = self.doc_len[doc_id]
        s = 0.0
        # fixed summation order: sorted by term key
        for t in sorted(terms):
            plist = self.postings.get(t)
            if not plist or doc_id not in plist:
                continue
            idf = bm25_idf(self.n_docs, len(plist))
            s += bm25_term_score(plist[doc_id], dl, self.avgdl, idf, self.k1, self.b)
        return s

    def search_topk(self, q: TermQuery, k: int = 10, on: int = 0, off: int = 0,
                    or_flags=(), demote: TermQuery | None = None,
                    demote_factor: float = 0.5) -> list[OracleHit]:
        """Candidates = boolean tree matches (bit-filtered); score = sum of
        BM25 over the tree's distinct POSITIVE leaf terms (negated
        subtrees never score); ties -> doc_id asc. ``demote``: candidates
        matching it keep their place but score *= demote_factor — one
        float64 multiply after the summation, the same operation order
        as the engine kernel (ES boosting-query semantics)."""
        cands = self.eval_bool(q, on, off, or_flags)
        terms = q.pos_terms()
        dem = (set(self.eval_bool(demote, on, off, or_flags))
               if demote is not None else ())
        scored = [(-(self.score(d, terms) * demote_factor) if d in dem
                   else -self.score(d, terms), d) for d in cands]
        scored.sort()
        return [
            OracleHit(d, self.docs[d]["id"], -neg) for neg, d in scored[:k]
        ]

    def search_phrase(self, words, field: str = "content", k: int = 10,
                      gap: int = 0, on: int = 0, off: int = 0,
                      or_flags=()) -> list[OracleHit]:
        """Candidates = docs whose ``field`` token stream holds the words
        in order, each next word at most ``gap`` tokens after the
        previous (0 = adjacent, the exact phrase), bit-filtered; score =
        :meth:`score` over the phrase's distinct words; ties -> doc_id
        asc."""
        words = [str(w).lower() for w in words if str(w)]
        if not words:
            return []
        scored = []
        for d in self._leaf(term_key(field, words[0]), on, off, or_flags):
            toks = self.tokens[d][field]
            # ends: positions where the phrase prefix read so far ends
            ends = {i for i, w in enumerate(toks) if w == words[0]}
            for w in words[1:]:
                ends = {i for i, x in enumerate(toks) if x == w
                        and any(e < i <= e + 1 + gap for e in ends)}
            if ends:
                terms = {term_key(field, w) for w in words}
                scored.append((-self.score(d, terms), d))
        scored.sort()
        return [
            OracleHit(d, self.docs[d]["id"], -neg) for neg, d in scored[:k]
        ]
