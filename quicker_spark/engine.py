"""Query serving: boolean + BM25 top-k over the segmented index.

The reference serves queries by gRPC scatter-gather over workers
(reference: index_service/sentinel.go:137-187 — broadcast the query to all
shards, gather, concatenate). Here one Spark job IS the scatter-gather:
one map-only Arrow task per segment (no exchange) reads its files in the
query terms' ``bucket=`` directories through :func:`term_filter` and
scores them, and the merge is ``orderBy(score desc, doc_id asc)
.limit(k)`` in the same job (TakeOrdered: per-partition top-k + merge).

Hydration (business payload lookup) is deferred until AFTER the top-k
limit — the reference hydrates every match because it has no limit
(index_service/indexer.go:126-157); deferring it keeps the forward-index
join proportional to k, not to the match count.
"""

from __future__ import annotations

import json
import os
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quicker_spark.functions.kernels import (
    EncodedPostings,
    bm25_u,
    eval_bool_tree,
    filter_by_bits_vec,
    merge_decoded_runs,
    score_segment_conjunctive,
    score_segment_dismax,
    score_segment_exhaustive,
    score_segment_wand,
)
from quicker_spark.functions.buckets import term_bucket
from quicker_spark.functions.phrase import (
    decode_positions_row,
    phrase_match_docs,
)
from quicker_spark.model import bm25_idf, term_key
from quicker_spark.operators.build import IndexConfig
from quicker_spark.operators.positions import require_positions
from quicker_spark.plans.term_query import (AndNot, NewTermQuery, Or,
                                            TermQuery)


def _row_to_encoded(row, block_size: int) -> EncodedPostings:
    """Stored row (a mapping of the postings columns) -> EncodedPostings.
    Reads the four streams and the per-block bound inputs; columns it
    does not name (an older index's per-block byte offsets) are ignored.
    The pruned scorers additionally need ``.with_bounds(avgdl)`` — the
    block-max bound is derived from the CURRENT avgdl at query time,
    never stored (keeps segments immutable under maintenance)."""
    return EncodedPostings(
        df=int(row["df"]),
        ids=bytes(row["ids"]), tfs=bytes(row["tfs"]),
        dls=bytes(row["dls"]), bits=bytes(row["bits"]),
        block_last=np.asarray(row["block_last"], dtype=np.int64),
        block_max_tf=np.asarray(row["block_max_tf"], dtype=np.int64),
        block_min_dl=np.asarray(row["block_min_dl"], dtype=np.int64),
        block_min_tf=np.asarray(row["block_min_tf"], dtype=np.int64),
        block_max_dl=np.asarray(row["block_max_dl"], dtype=np.int64),
        block_max_u_ref=np.asarray(row["block_max_u_ref"], dtype=np.float64),
        avgdl_ref=float(row["avgdl_ref"]),
        block_size=block_size,
    )


def _is_real_leaf(q: TermQuery) -> bool:
    return bool(q.keyword) and not q.keyword.startswith(PSEUDO_PREFIX)


def _is_flat_or(q: TermQuery) -> bool:
    if q.keyword:
        return _is_real_leaf(q)
    if q.must_not:
        return False
    return bool(q.should) and all(_is_real_leaf(c) for c in q.should)


def _is_flat_and(q: TermQuery) -> bool:
    if q.must_not:
        return False
    return bool(q.must) and all(_is_real_leaf(c) for c in q.must)


# pseudo-leaf keyword prefix: a tree leaf whose per-segment candidate
# array is computed OUTSIDE the postings (phrase match sets from the
# positional sidecar) and injected into eval_bool_tree via
# extra_leaf_ids. Contains no field separator, so it can never collide
# with a real ``field\x01word`` key.
PSEUDO_PREFIX = "\x02"


class PhraseSpec(NamedTuple):
    """One phrase CLAUSE of a boolean query (engine.search ``phrases=``):
    the tree (or the exclude tree) holds a pseudo-leaf
    ``TermQuery(keyword=key)``; per segment, the kernel resolves it to
    the phrase's bit-filtered match doc set from the positional sidecar.
    ``score_words=True`` adds the constituent terms to the SCORED set
    (the documented phrase-scoring contract: a phrase scores as its
    distinct words' BM25 sum); negated phrases pass False — their words
    must not contribute score."""
    key: str
    field: str
    words: tuple
    gap: int = 0
    score_words: bool = True

    @property
    def term_keys(self) -> tuple:
        return tuple(f"{self.field}\x01{w}" for w in self.words)


class SearchSpec(NamedTuple):
    """Validated + resolved search request — shared by the Spark engine
    (:meth:`SearchEngine.search`) and the resident single-node server
    (:class:`quicker_spark.serving.LocalSearcher`), so both paths make
    byte-identical strategy choices for the same request. The trees
    ride along parsed (:meth:`TermQuery.to_dict` form), the shape the
    kernels evaluate."""
    query: dict
    terms: list[str]
    strategy: str
    msm: int
    neg_terms: frozenset[str]
    exclude: dict | None    # must_not tree; None when it has no terms
    after: tuple[float, int] | None
    empty: bool   # request is valid but can match nothing
    phrases: tuple = ()   # validated PhraseSpec clauses
    demote: dict | None = None       # ES boosting-query negative tree
    demote_factor: float = 1.0       # ES negative_boost


def resolve_search_spec(q: TermQuery, mode: str = "auto",
                        boosts: dict[str, float] | None = None,
                        after: tuple[float, int] | None = None,
                        exclude: TermQuery | None = None,
                        min_should_match: int = 0,
                        phrases: tuple = (),
                        demote: TermQuery | None = None,
                        demote_factor: float = 0.5) -> SearchSpec:
    """Validate a BM25 top-k request and resolve its scoring strategy.

    Raises the same ValueErrors for the same invalid requests on every
    serving path; `empty=True` marks a request that is valid but can
    match nothing (no terms, or an unreachable quorum).

    Nested ``must_not`` in either tree, phrase pseudo-leaves
    (``phrases``), and a ``demote`` tree all force the exhaustive
    scorer — the pruned scorers' block-max bookkeeping cannot
    subtract, intersect, or rescale candidate sets losslessly
    mid-walk. Scored terms = the tree's POSITIVE real leaves + the
    words of score_words phrases; negated-subtree and demote-only
    terms join ``neg_terms`` (scanned for evaluation, never scored).

    ``demote`` (ES boosting-query ``negative`` clause): candidates
    matching it keep their place in the result but their score is
    multiplied by ``demote_factor`` (ES ``negative_boost``, required
    in [0, 1]) before the cursor and the top-k."""
    phrases = tuple(PhraseSpec(*p) for p in phrases)
    all_terms = q.terms()
    pseudo_in_trees = {t for t in all_terms if t.startswith(PSEUDO_PREFIX)}
    if exclude is not None:
        pseudo_in_trees |= {t for t in exclude.terms()
                            if t.startswith(PSEUDO_PREFIX)}
    if demote is not None and not (0.0 <= float(demote_factor) <= 1.0):
        raise ValueError(
            f"demote_factor must be in [0, 1] (ES negative_boost): "
            f"{demote_factor}")
    if demote is not None and demote.empty():
        demote = None
    if demote is not None:
        if any(t.startswith(PSEUDO_PREFIX) for t in demote.terms()):
            raise ValueError(
                "phrase pseudo-leaves are not supported in a demote "
                "tree — demote by terms, or exclude the phrase instead")
    spec_keys = {p.key for p in phrases}
    if pseudo_in_trees - spec_keys:
        raise ValueError(
            f"tree has pseudo-leaves with no PhraseSpec: "
            f"{sorted(pseudo_in_trees - spec_keys)}")
    for p in phrases:
        if not p.words:
            raise ValueError(f"phrase {p.key!r} has no words")
        if not p.key.startswith(PSEUDO_PREFIX):
            raise ValueError(f"phrase key {p.key!r} must start with "
                             "the pseudo-leaf prefix")
    pos_pseudo = {t for t in q.pos_terms() if t.startswith(PSEUDO_PREFIX)}
    for p in phrases:
        if p.key in pos_pseudo and not p.score_words:
            raise ValueError(
                f"phrase {p.key!r} sits in the positive tree and must "
                "have score_words=True — its words anchor the postings "
                "scan (and the documented phrase-scoring contract)")
    pos = {t for t in q.pos_terms() if not t.startswith(PSEUDO_PREFIX)}
    terms = sorted(pos | {k for p in phrases if p.score_words
                          for k in p.term_keys})
    if not terms and not phrases:
        return SearchSpec(q.to_dict(), [], "taat", 0, frozenset(), None,
                          None, True)
    empty = False
    needs_taat = bool(phrases) or demote is not None or q.has_must_not() \
        or (exclude is not None and exclude.has_must_not())
    if needs_taat:
        if mode not in ("auto", "taat"):
            raise ValueError(
                "nested must_not / phrase / demote clauses require "
                "mode='auto' or 'taat' (pruned scorers cannot subtract, "
                "intersect, or rescale candidate sets losslessly)")
        mode = "taat"
    msm = int(min_should_match)
    if msm > 1:
        if not _is_flat_or(q):
            raise ValueError(
                "min_should_match requires a flat OR-of-terms query "
                "(the quorum counts should clauses)")
        if mode not in ("auto", "taat"):
            raise ValueError(
                "min_should_match requires mode='auto' or 'taat'")
        if msm > len(set(terms)):
            empty = True
        mode = "taat"
    # negated-subtree terms: scanned so the kernel can evaluate the
    # exclusion, excluded from scoring (exclude_only)
    neg_terms: set[str] = {t for t in all_terms
                           if not t.startswith(PSEUDO_PREFIX)} - set(terms)
    exclude_tree = None
    if exclude is not None:
        neg_terms |= {t for t in exclude.terms()
                      if not t.startswith(PSEUDO_PREFIX)} - set(terms)
        if exclude.terms():
            exclude_tree = exclude.to_dict()
            if mode not in ("auto", "taat"):
                raise ValueError(
                    "exclude requires mode='auto' or 'taat' (pruned "
                    "scorers cannot exclude losslessly)")
            mode = "taat"
    demote_tree = None
    if demote is not None:
        # demote-only terms: scanned so the kernel can evaluate the
        # demotion match, excluded from scoring — same split as exclude
        neg_terms |= set(demote.terms()) - set(terms)
        demote_tree = demote.to_dict()
    if boosts:
        bad = {t: w for t, w in boosts.items() if not w > 0}
        if bad:
            raise ValueError(f"boosts must be > 0: {bad}")
    if after is not None:
        after = (float(after[0]), int(after[1]))
    if mode not in ("auto", "wand", "conj", "taat"):
        raise ValueError(f"unknown mode {mode!r}: expected 'auto', "
                         "'wand', 'conj', or 'taat'")
    # pruned modes are only defined for flat queries: flattening
    # And(Or(a,b), c) into an intersection would silently be wrong
    if (mode == "conj" and not _is_flat_and(q)) or (
            mode == "wand" and not _is_flat_or(q)):
        flat = "AND" if mode == "conj" else "OR"
        raise ValueError(f"mode={mode!r} requires a flat {flat}-of-terms "
                         "query; use mode='auto' or 'taat' for nested trees")
    # 'auto' is TAAT: over the same cached runs it beat the interval walk
    # at every measured window (5k-1M docs), k (10, 100) and term mix
    strategy = "taat" if mode == "auto" else mode
    return SearchSpec(q.to_dict(), terms, strategy, msm,
                      frozenset(neg_terms), exclude_tree, after, empty,
                      phrases, demote_tree, float(demote_factor))


def full_match_spec(q: TermQuery) -> SearchSpec:
    """The request whose answer is EVERY boolean match of ``q``,
    BM25-scored: TAAT over the tree, negated-only terms scanned for the
    in-tree setdiff and never scored. Shared by both tiers'
    ``_scored_matches`` so they reject the same requests."""
    terms = q.terms()
    if any(t.startswith(PSEUDO_PREFIX) for t in terms):
        raise ValueError(
            "phrase pseudo-leaves are not supported on the "
            "full-match-set scoring path (collapse/sort/facet) — "
            "it scans postings, not the positional sidecar")
    pos = q.pos_terms()
    return SearchSpec(q.to_dict(), sorted(pos), "taat", 0,
                      frozenset(terms - pos), None, None, not terms)


def batch_entries(queries: dict, on: int, off: int, or_flags: tuple,
                  flags: dict | None, boosts: dict | None,
                  after: dict | None, excludes: dict | None,
                  min_should_match: dict | None) -> list:
    """``search_many``'s request on both tiers -> [(qid, SearchSpec, on,
    off, or_flags, boosts)] for every query that can match. Every query
    resolves through :func:`resolve_search_spec` before any is scored;
    an invalid one raises its ValueError prefixed with its query id."""
    flags = flags or {}
    boosts = boosts or {}
    after = after or {}
    excludes = excludes or {}
    min_should_match = min_should_match or {}
    entries = []
    for qid, q in queries.items():
        try:
            spec = resolve_search_spec(
                q, boosts=boosts.get(qid), after=after.get(qid),
                exclude=excludes.get(qid),
                min_should_match=min_should_match.get(qid, 0))
        except ValueError as e:
            raise ValueError(f"queries[{qid!r}]: {e}") from None
        if spec.empty:
            continue   # no terms, or an unreachable quorum: no rows
        q_on, q_off, q_orf = flags.get(qid, (on, off, or_flags))
        entries.append((str(qid), spec, int(q_on), int(q_off),
                        tuple(q_orf), boosts.get(qid) or None))
    return entries


def phrase_query(words, field: str, gap: int):
    """``search_phrase``'s request on both tiers -> (tree, phrases) for
    ``search``: one pseudo-leaf whose candidates are the phrase's
    matches, scored as its distinct words' BM25 sum. None when no word
    is left."""
    words = tuple(str(w).lower() for w in words if str(w))
    if not words:
        return None
    key = PSEUDO_PREFIX + "phrase"
    return TermQuery(keyword=key), (PhraseSpec(key, field, words, int(gap)),)


def phrase_leaf_ids(phrases: tuple, runs: dict, on: int, off: int,
                    or_flags: tuple) -> dict:
    """{pseudo-leaf key: the phrase's bit-filtered match docs} in one
    segment, from its decoded sidecar ``runs`` ({term: run}); a phrase
    with a word absent from the segment matches nothing there (the conj
    early-exit)."""
    return {p.key: (phrase_match_docs(list(p.term_keys), runs, gap=p.gap,
                                      on=on, off=off, or_flags=or_flags)
                    if set(p.term_keys) <= runs.keys()
                    else np.empty(0, dtype=np.int64))
            for p in phrases}


def term_filter(ts_ds, terms: list[str]):
    """pyarrow filter for the sorted ``terms`` in ``term_stats``: ``isin``
    AND the [min, max] spans of the row groups that may hold them. pyarrow
    prunes row groups on such spans (never on ``isin``), and the table is
    range-partitioned by term, so a read takes at most one row group per
    term, never the vocabulary."""
    from bisect import bisect_left, bisect_right

    import pyarrow.compute as pc
    f = pc.field("term")
    held = pc.scalar(False)
    for frag in ts_ds.get_fragments():
        for rg in frag.row_groups:
            st = rg.statistics.get("term")
            if not st:  # no min/max recorded: nothing to prune on
                return f.isin(terms)
            if bisect_left(terms, st["min"]) < bisect_right(terms, st["max"]):
                held = held | ((f >= st["min"]) & (f <= st["max"]))
    return held & f.isin(terms)


def read_df_global(ts_ds, terms) -> dict[str, int]:
    """{term: df_global, 0 when absent} from the ``term_stats`` dataset,
    read through :func:`term_filter`."""
    terms = sorted(set(terms))
    ts = ts_ds.to_table(filter=term_filter(ts_ds, terms),
                        columns=["term", "df_global"]).to_pydict()
    dfg = dict(zip(ts["term"], ts["df_global"]))
    return {t: int(dfg.get(t, 0)) for t in terms}


class StaleIndexError(RuntimeError):
    """Maintenance replaced the index generation a reader opened."""


def check_fresh(index_dir: str, opened_mtime: float, reader: str) -> None:
    """Raise :class:`StaleIndexError` when maintenance has replaced
    (rewritten ``stats.json``) the generation a ``reader`` opened."""
    try:
        m = os.path.getmtime(os.path.join(index_dir, "stats.json"))
    except FileNotFoundError:
        raise StaleIndexError(f"index gone: {index_dir}") from None
    if m != opened_mtime:
        raise StaleIndexError(
            "index mutated since open (stats.json changed); "
            f"re-open a {reader} on the new generation")


# Most term_stats rows one dictionary verb reads into the calling
# process. On a 4-core host a 10^5-row slice costs 0.14 s (prefix) to
# 0.23 s (fuzzy) and 60-80 MB of peak memory, growing linearly (10^6
# rows: 1.7-3.3 s, 380-560 MB), so this bound keeps one call under
# ~0.6 s and ~200 MB. Every slice of the test and benchmark
# vocabularies (<= 2.5*10^4 terms) sits far below it; a one-letter
# prefix of a 10^9-term vocabulary sits far above it.
DICT_SLICE_MAX_ROWS = 250_000

_REGEX_META = set(".^$*+?{}[]|()\\")


def _count(n, name: str) -> int:
    n = int(n)
    if n < 0:
        raise ValueError(f"{name} must be >= 0, got {n}")
    return n


def _ranked(sl: pd.DataFrame, by: list, ascending: list,
            n: int) -> pd.DataFrame:
    return sl.sort_values(by, ascending=ascending, kind="mergesort").head(n)


def _regexp_anchor(pattern: str) -> str:
    """The literal prefix of every whole-word match of ``pattern``: the
    run before its first metacharacter, minus the run's last character
    when that metacharacter (``?``, ``*``, ``{``) can make it optional;
    empty when the pattern has a ``|`` (an alternative may start with
    anything)."""
    if "|" in pattern:
        return ""
    for i, ch in enumerate(pattern):
        if ch in _REGEX_META:
            return pattern[:max(i - 1, 0)] if ch in "?*{" else pattern[:i]
    return pattern


def _levenshtein(words, word: str) -> np.ndarray:
    """Edit distance (substitution cost 1, no transpositions) of each of
    ``words`` to ``word``: the Wagner-Fischer table of every word at
    once, one numpy row step per character of the longest word."""
    n, m = len(words), len(word)
    lens = np.fromiter(map(len, words), dtype=np.int64, count=n)
    width = int(lens.max(initial=0))
    chars = np.array(words, dtype=f"<U{width + 1}").view(np.int32) \
        .reshape(n, width + 1)
    target = np.array([ord(c) for c in word], dtype=np.int32)
    prev = np.broadcast_to(np.arange(m + 1), (n, m + 1))
    dist = np.full(n, m, dtype=np.int64)      # the empty words' distance
    for i in range(1, width + 1):
        cur = np.empty((n, m + 1), dtype=np.int64)
        cur[:, 0] = i
        sub = chars[:, i - 1, None] != target
        for j in range(1, m + 1):
            cur[:, j] = np.minimum(np.minimum(prev[:, j], cur[:, j - 1]) + 1,
                                   prev[:, j - 1] + sub[:, j - 1])
        dist[lens == i] = cur[lens == i, m]
        prev = cur
    return dist


class TermDictionary:
    """The term-dictionary verbs, one implementation for both tiers.

    ``term_stats`` is term-sorted and range-partitioned in ~1 MB row
    groups, so every verb reads one string-range slice of it with
    pyarrow in the calling process (row groups outside the range are
    pruned on their min/max statistics), then filters and ranks the
    slice in pandas: no Spark job runs. The index directory must
    therefore be readable with pyarrow where the verb is called.
    Subclasses provide ``_ts_ds`` (the ``term_stats`` dataset) and
    ``_check_fresh``.

    A negative count, an invalid pattern, and a slice of more than
    :data:`DICT_SLICE_MAX_ROWS` rows raise ValueError before any result
    is built."""

    def _dict_slice(self, field: str, start: str) -> pd.DataFrame:
        """(term, df_global, word) rows of ``field`` whose word starts
        with ``start`` ('\\x80' upper-bounds every [a-z0-9_\\x01]
        vocabulary byte), read batch by batch so an over-long slice is
        refused before it is collected. Every verb reads through here,
        so this is where they refuse a generation that maintenance has
        replaced."""
        import pyarrow as pa
        import pyarrow.compute as pc

        self._check_fresh()
        pref = f"{field}\x01{start}"
        scan = self._ts_ds.scanner(
            columns=["term", "df_global"],
            filter=(pc.field("term") >= pref) & (pc.field("term")
                                                 < pref + "\x80"))
        batches, rows = [], 0
        for b in scan.to_batches():
            rows += b.num_rows
            if rows > DICT_SLICE_MAX_ROWS:
                raise ValueError(
                    f"the dictionary slice {field}:{start}* holds more "
                    f"than {DICT_SLICE_MAX_ROWS} terms (read {rows} so "
                    "far), more than one process expands; lengthen the "
                    "prefix")
            batches.append(b)
        sl = pa.Table.from_batches(batches, scan.projected_schema) \
            .to_pandas()
        return sl.assign(word=sl["term"].str[len(field) + 1:])

    def _within_edits(self, field: str, word: str, max_edits: int,
                      prefix_len: int) -> pd.DataFrame:
        """Slice rows whose word starts with ``word[:prefix_len]`` (the
        required common prefix) and lies within ``max_edits``
        Levenshtein of ``word``, with their ``distance``; a length band
        drops most rows before any distance is computed."""
        if max_edits < 0:
            raise ValueError("max_edits must be >= 0")
        sl = self._dict_slice(field, word[:prefix_len])
        sl = sl[(sl["word"].str.len() - len(word)).abs() <= max_edits]
        sl = sl.assign(distance=_levenshtein(sl["word"].tolist(), word))
        return sl[sl["distance"] <= max_edits]

    def expand_prefix(self, field: str, prefix: str,
                      max_expansions: int = 64) -> list[str]:
        """Prefix -> matching vocabulary terms, highest df first, ties by
        term: the deterministic top-N rewrite of Lucene's PrefixQuery."""
        n = _count(max_expansions, "max_expansions")
        sl = self._dict_slice(field, prefix)
        return _ranked(sl, ["df_global", "term"], [False, True],
                       n)["term"].tolist()

    def expand_fuzzy(self, field: str, word: str, max_edits: int = 1,
                     prefix_len: int = 1,
                     max_expansions: int = 64) -> list[str]:
        """Fuzzy expansion (Lucene FuzzyQuery rewrite): vocabulary terms
        within ``max_edits`` Levenshtein of the lower-cased ``word``
        whose first ``prefix_len`` characters match it literally —
        Lucene's required common prefix, which bounds the dictionary
        slice (prefix_len=0 reads the field's whole vocabulary).
        Ranked distance asc, df desc, term asc; top
        ``max_expansions``."""
        n = _count(max_expansions, "max_expansions")
        sl = self._within_edits(field, str(word).lower(), int(max_edits),
                                prefix_len)
        return _ranked(sl, ["distance", "df_global", "term"],
                       [True, False, True], n)["term"].tolist()

    def expand_regexp(self, field: str, pattern: str,
                      max_expansions: int = 64) -> list[str]:
        """Regexp expansion (Lucene RegexpQuery rewrite): vocabulary
        terms whose WHOLE word matches ``pattern`` (Python ``re``
        syntax, applied with ``fullmatch``). The pattern's literal
        prefix (:func:`_regexp_anchor`) bounds the dictionary slice, so
        ``tab.*le`` reads the ``tab`` range; an unanchored pattern
        reads the field's whole vocabulary. Ranked df desc, term asc;
        top ``max_expansions``."""
        import re

        n = _count(max_expansions, "max_expansions")
        try:
            rx = re.compile(pattern)
        except re.error as e:
            raise ValueError(f"invalid regexp {pattern!r}: {e}") from None
        sl = self._dict_slice(field, _regexp_anchor(pattern))
        sl = sl[np.array([rx.fullmatch(w) is not None for w in sl["word"]],
                         dtype=bool)]
        return _ranked(sl, ["df_global", "term"], [False, True],
                       n)["term"].tolist()

    @staticmethod
    def wildcard_to_regexp(pattern: str) -> str:
        """Lucene WildcardQuery syntax -> whole-word regexp source:
        ``*`` = any run (incl. empty), ``?`` = exactly one char; every
        other char is matched literally (tokenizer terms are
        [a-z0-9_]+, but escaping keeps arbitrary input safe)."""
        out = []
        for ch in pattern:
            if ch == "*":
                out.append("[a-z0-9_]*")
            elif ch == "?":
                out.append("[a-z0-9_]")
            elif ch in _REGEX_META:
                out.append("\\" + ch)
            else:
                out.append(ch)
        return "".join(out)

    def suggest(self, field: str, word: str, max_edits: int = 2,
                prefix_len: int = 1, n: int = 5) -> pd.DataFrame:
        """Spell suggestion ("did you mean", the ES term suggester /
        Lucene DirectSpellChecker contract) -> pandas (word, distance,
        df): the :meth:`expand_fuzzy` candidates of the lower-cased
        ``word``, minus the word itself (a correct word is not a
        suggestion for itself), ranked distance asc, df desc, word asc;
        top ``n``. ``df`` lets callers apply DirectSpellChecker's
        more-popular refinement."""
        n = _count(n, "n")
        word = str(word).lower()
        sl = self._within_edits(field, word, int(max_edits), prefix_len)
        sl = _ranked(sl[sl["word"] != word],
                     ["distance", "df_global", "word"], [True, False, True],
                     n)
        return pd.DataFrame({
            "word": sl["word"].to_numpy(dtype=object),
            "distance": sl["distance"].to_numpy(dtype=np.int64),
            "df": sl["df_global"].to_numpy(dtype=np.int64)})


def _bucket_files(root: str) -> dict:
    """{bucket: {segment: [file paths]}} of a ``segment_id=S/bucket=B``
    partitioned tree, from one pyarrow dataset listing (no file read)."""
    import pyarrow.dataset as pads
    out: dict = {}
    for path in pads.dataset(os.path.abspath(root), format="parquet").files:
        seg, bk = (int(d.split("=")[1]) for d in path.split("/")[-3:-1])
        out.setdefault(bk, {}).setdefault(seg, []).append(path)
    return out


def _read_segment(files, terms: list, pos_files, pos_terms: list):
    """One segment's kernel frame, read in its task: the sorted ``terms``'
    rows of its postings ``files`` UNION the ``pos_terms``' rows of its
    sidecar ``pos_files``, both row-group-pruned by :func:`term_filter`."""
    import pyarrow as pa
    import pyarrow.dataset as pads
    tables = []
    for paths, want in ((files, terms), (pos_files, pos_terms)):
        if len(paths) and want:
            ds = pads.dataset(list(paths), format="parquet")
            tables.append(ds.to_table(filter=term_filter(ds, want)))
    pdf = pa.concat_tables(tables, promote_options="default").to_pandas()
    if pos_terms and "pos" not in pdf:
        pdf["pos"] = None
    return pdf


def _frame_rows(pdf: pd.DataFrame):
    """A kernel input frame's rows as {column: value} dicts, built
    column-wise: ``iterrows`` and ``to_dict("records")`` box per row and
    cost several times more."""
    cols = list(pdf.columns)
    return (dict(zip(cols, vals))
            for vals in zip(*(pdf[c].to_numpy() for c in cols)))


def _frame_postings(pdf: pd.DataFrame, block_size: int, dfg: dict) -> dict:
    """One segment's kernel input frame -> {term: (df_global,
    EncodedPostings)} in row order — the adapter from a Spark group to
    :func:`_score_segment_rows`."""
    return {r["term"]: (dfg[r["term"]], _row_to_encoded(r, block_size))
            for r in _frame_rows(pdf)}


def _frame_runs(pdf: pd.DataFrame, block_size: int) -> dict:
    """One segment's postings frame -> {term: decoded (ids, tfs, dls,
    bits)} in row order."""
    return {r["term"]: _row_to_encoded(r, block_size).decode_all()
            for r in _frame_rows(pdf)}


def _score_segment_rows(postings: dict, query: dict, strategy: str,
                        n_query_terms: int, n_docs: int, avgdl: float,
                        k: int, on: int, off: int, or_flags: tuple,
                        k1: float, b: float,
                        dec_cache: dict | None = None,
                        boosts: dict | None = None,
                        after: tuple | None = None,
                        exclude: dict | None = None,
                        exclude_only: frozenset = frozenset(),
                        min_match: int = 0,
                        extra_leaf_ids: dict | None = None,
                        demote: dict | None = None,
                        demote_factor: float = 1.0):
    """Score ONE query against one segment -> (doc_ids, scores).
    ``postings``: {term: (df_global, EncodedPostings)}, one entry per
    scanned query term present in the segment.

    This is the shared per-segment body of the Spark kernels (via
    :func:`_frame_postings`) and the resident tier — batch serving and
    ``LocalSearcher`` are rank-identical to one-at-a-time Spark searches
    because all of them run exactly this code per query. Every run is
    decoded once, before the strategy dispatch, through ``dec_cache``
    ({term: decoded run + its BM25 u at ``avgdl``}), which is read and
    filled here: all three scorers read the same decoded runs, so
    callers share them between queries that reuse a term (decode and
    compute u once per segment, not once per query).

    strategy: 'wand' (flat OR, block-max pruned), 'conj' (flat AND,
    block-max pruned intersection), 'taat' (any tree, exhaustive)."""
    _e = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
    if not postings:
        return _e
    if strategy == "conj" and len(postings) < n_query_terms:
        # a query term has no postings in this segment: the
        # intersection is empty here (reference early-exit,
        # skiplist_reverse_index.go:88-90)
        return _e
    idf = {t: bm25_idf(n_docs, dfg) for t, (dfg, _) in postings.items()}
    if boosts:
        # per-term boost folds into the idf WEIGHT (Lucene boost
        # semantics: contribution = (boost * idf) * u). Both pruned
        # scorers derive their block-max bounds from this same weight
        # (ub += w * block_max_u), so a boost scales the admissible
        # bound with the score and WAND/conj pruning stays lossless.
        # Positive-only (engine validates): a negative weight would
        # make w * block_max an UNDER-estimate and break admissibility.
        idf = {t: boosts.get(t, 1.0) * v for t, v in idf.items()}

    if dec_cache is None:
        dec_cache = {}
    decoded = {}
    for t, (_, e) in postings.items():
        d = dec_cache.get(t)
        if d is None:
            # the run's u rides along: computed once per decode, not
            # once per query (avgdl is fixed for a cache's lifetime)
            ids, tfs, dls, bits = e.decode_all()
            d = dec_cache[t] = (ids, tfs, dls, bits,
                                bm25_u(tfs, dls, avgdl, k1, b))
        decoded[t] = d
    if strategy in ("wand", "conj"):
        # with_bounds is idempotent at fixed avgdl (and a no-op re-store
        # when avgdl == avgdl_ref), so sharing encodings across queries
        # and threads is safe
        bounded = {t: e.with_bounds(avgdl, k1, b)
                   for t, (_, e) in postings.items()}
        scorer = (score_segment_wand if strategy == "wand"
                  else score_segment_conjunctive)
        return scorer(decoded, bounded, idf, avgdl, k, on, off, or_flags,
                      k1, b, after=after)
    return score_segment_exhaustive(
        query, decoded, idf, avgdl, k, on, off, or_flags, k1, b,
        after=after, exclude=exclude, exclude_only=exclude_only,
        min_match=min_match, extra_leaf_ids=extra_leaf_ids,
        demote=demote, demote_factor=demote_factor)


def _make_spec_kernel(entries: list, n_docs: int, avgdl: float, k: int,
                      k1: float, b: float, block_size: int, dfg: dict):
    """Per-segment kernel for resolved requests ``entries`` = [(qid,
    SearchSpec, on, off, or_flags, boosts)] -> (qid, doc_id, score).
    Every entry runs :func:`_score_segment_rows`, the body the resident
    tier runs, so a batch is rank- and score-identical to one-at-a-time
    searches on either tier; runs shared by several entries decode once
    per segment (``dec_cache``; flags, boosts and cursors all apply
    after decode). ``dfg``: :func:`read_df_global` of the scanned terms,
    read on the driver — the segment read needs no term-stats join, nor
    a job for one.

    When some spec has phrases, the input frame is the postings rows
    UNIONED with the positional sidecar rows of the phrase words (they
    carry a non-null ``pos`` stream); per segment each phrase's match
    set becomes its pseudo-leaf's candidate array
    (:func:`phrase_leaf_ids`) and the scoring walk is the unmodified
    TAAT path."""
    with_pos = any(spec.phrases for _, spec, *_ in entries)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        runs: dict = {}
        if with_pos:
            is_pos = pdf["pos"].notna()
            pos_rows, pdf = pdf[is_pos], pdf[~is_pos]
            runs = {r["term"]: decode_positions_row(
                        bytes(r["ids"]), bytes(r["tfs"]), bytes(r["dls"]),
                        bytes(r["bits"]), bytes(r["pos"]))
                    for r in _frame_rows(pos_rows)}
        postings = _frame_postings(pdf, block_size, dfg)
        dec_cache: dict = {}
        outs = []
        for qid, spec, on, off, or_flags, boosts in entries:
            scan = set(spec.terms) | spec.neg_terms
            ids, scores = _score_segment_rows(
                {t: p for t, p in postings.items() if t in scan},
                spec.query, spec.strategy, len(spec.terms), n_docs, avgdl,
                k, on, off, or_flags, k1, b, dec_cache=dec_cache,
                boosts=boosts, after=spec.after, exclude=spec.exclude,
                exclude_only=spec.neg_terms, min_match=spec.msm,
                extra_leaf_ids=(phrase_leaf_ids(spec.phrases, runs, on, off,
                                                or_flags)
                                if spec.phrases else None),
                demote=spec.demote, demote_factor=spec.demote_factor)
            outs.append(pd.DataFrame(
                {"qid": qid, "doc_id": ids, "score": scores}))
        return pd.concat(outs, ignore_index=True)

    return kernel


def _make_synonym_kernel(groups: tuple, idf_groups: tuple, avgdl: float,
                         k: int, on: int, off: int, or_flags: tuple,
                         k1: float, b: float, block_size: int):
    """``groups``: ((group key, (member term keys...)), ...). The group
    idf arrives precomputed (``idf_groups``) from the GLOBAL blended df
    (max over members, Lucene SynonymQuery docFreq), so every segment
    scores with the same weight even when some members are locally
    absent."""
    idf = dict(idf_groups)
    query = {"should": [
        {"keyword": {"field": g.split("\x01", 1)[0],
                     "word": g.split("\x01", 1)[1]}}
        for g, _ in groups]}

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        by_term = _frame_runs(pdf, block_size)
        dec: dict[str, tuple] = {}
        for gkey, members in groups:
            runs = [run for t, run in by_term.items() if t in members]
            if runs:
                dec[gkey] = merge_decoded_runs(runs)
        if not dec:
            return pd.DataFrame({"doc_id": np.empty(0, dtype=np.int64),
                                 "score": np.empty(0, dtype=np.float64)})
        ids, scores = score_segment_exhaustive(
            query, dec, idf, avgdl, k, on, off, or_flags, k1, b)
        return pd.DataFrame({"doc_id": ids, "score": scores})

    return kernel


def _make_dismax_kernel(tie: float, n_docs: int, avgdl: float, k: int,
                        on: int, off: int, or_flags: tuple,
                        k1: float, b: float, block_size: int, dfg: dict):
    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        dec = _frame_runs(pdf, block_size)
        idf = {t: bm25_idf(n_docs, dfg[t]) for t in dec}
        ids, scores = score_segment_dismax(
            dec, idf, avgdl, k, tie, on, off, or_flags, k1, b)
        return pd.DataFrame({"doc_id": ids, "score": scores})

    return kernel


def _make_bool_kernel(query_json: str, on: int, off: int, or_flags: tuple,
                      block_size: int):
    """All boolean matches of a tree per segment (``must_not`` at any
    node subtracts in-kernel, over the segment's window masks)."""
    query = json.loads(query_json)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        leaf_ids = {t: ids[filter_by_bits_vec(bits, on, off, or_flags)]
                    for t, (ids, _tfs, _dls, bits)
                    in _frame_runs(pdf, block_size).items()}
        return pd.DataFrame({"doc_id": eval_bool_tree(query, leaf_ids)})

    return kernel


# hydrate() is a point lookup; anything bigger than this is a misuse of
# the collect-based path and must go through hydrate_join instead
_HYDRATE_MAX = 10_000

# significant_terms background join: broadcast the whole-vocabulary
# term-stats projection only while the vocabulary is genuinely
# broadcast-sized (~2M terms ≈ tens of MB); beyond that a shuffle join
# keyed on word is the scale-safe default (a 10^12-file code corpus has
# 10^8-10^9 distinct content terms — far past any broadcast threshold)
_SIG_TERMS_BCAST_MAX = 2_000_000


class SearchEngine(TermDictionary):
    """Load an index directory built by :func:`quicker_spark.operators.build.build_index`."""

    def __init__(self, spark: SparkSession, index_dir: str):
        import pyarrow.dataset as pads
        self.spark = spark
        self.index_dir = index_dir
        stats_path = os.path.join(index_dir, "stats.json")
        with open(stats_path) as fh:
            self.stats = json.load(fh)
        self._stats_mtime = os.path.getmtime(stats_path)
        # refuses an index without the term-bucketed layout
        self._n_buckets = IndexConfig.from_stats(self.stats).term_buckets
        self.postings = spark.read.parquet(os.path.join(index_dir, "postings"))
        self._term_stats = spark.read.parquet(
            os.path.join(index_dir, "term_stats"))
        self._ts_ds = pads.dataset(os.path.join(index_dir, "term_stats"))
        self._post_files = _bucket_files(os.path.join(index_dir, "postings"))
        self._docs: DataFrame | None = None

    def _check_fresh(self) -> None:
        check_fresh(self.index_dir, self._stats_mtime, "SearchEngine")

    @property
    def term_stats(self) -> DataFrame:
        """The term dictionary; refuses a replaced generation."""
        self._check_fresh()
        return self._term_stats

    def _df_global(self, terms) -> dict[str, int]:
        self._check_fresh()
        return read_df_global(self._ts_ds, terms)

    # -- forward index -----------------------------------------------------
    @property
    def docs(self) -> DataFrame:
        if self._docs is None:
            self._docs = self.spark.read.parquet(os.path.join(self.index_dir, "docs"))
        return self._docs

    def count(self) -> int:
        """Indexed doc count (reference: Indexer.Count, indexer.go:60-67)."""
        return self.docs.count()

    def describe(self) -> dict:
        """Index topology + size report (the `_cat/indices` shape):
        doc/segment/wave counts, vocabulary size, and on-disk bytes per
        tree. Everything comes from stats.json, the directory listing,
        and one count over the vocabulary-sized term-stats table — no
        postings scan, no corpus-sized job."""
        def _tree(rel: str) -> dict:
            root = os.path.join(self.index_dir, rel)
            n_bytes = n_files = 0
            waves, segs = set(), set()
            for dp, _dn, fns in os.walk(root):
                base = os.path.basename(dp)
                if base.startswith("wave="):
                    waves.add(int(base.split("=", 1)[1]))
                elif base.startswith("segment_id="):
                    segs.add(int(base.split("=", 1)[1]))
                for f in fns:
                    if not f.startswith((".", "_")):
                        n_bytes += os.path.getsize(os.path.join(dp, f))
                        n_files += 1
            out = {"bytes": n_bytes, "files": n_files}
            if waves:
                out["waves"] = len(waves)
            if segs:
                out["segments"] = len(segs)
            return out

        trees = {rel: _tree(rel)
                 for rel in ("postings", "docs", "term_stats", "positions")
                 if os.path.isdir(os.path.join(self.index_dir, rel))}
        return {
            "n_docs": int(self.stats["n_docs"]),
            # from the live docs tree, not arithmetic on n_docs — upserts
            # append fresh higher-id segments without growing n_docs
            "n_segments": trees.get("docs", {}).get("segments", 0),
            "seg_docs": int(self.stats["seg_docs"]),
            "wave_segments": int(self.stats.get("wave_segments", 64)),
            "avgdl": float(self.stats["avgdl"]),
            "vocabulary": self.term_stats.count(),
            "trees": trees,
        }

    def lookup(self, doc_ids: list[int]) -> DataFrame:
        """Forward-index batch get, order-insensitive, missing ids absent
        (reference: kvdb BatchGet, internal/kvdb/kv_db.go:27). The ids'
        segment set (doc_id // seg_docs) prunes the scan to the affected
        segment DIRECTORIES (PartitionFilters — at 10^12 docs this is a
        few directory reads, never a table scan), and the doc_id
        IN-filter prunes parquet row groups within them (docs are sorted
        by doc_id)."""
        ids = [int(i) for i in doc_ids]
        if not ids:
            return self.docs.filter(F.lit(False))
        seg_docs = int(self.stats["seg_docs"])
        segs = sorted({i // seg_docs for i in ids})
        return self.docs.filter(
            F.col("segment_id").isin(segs)).filter(F.col("doc_id").isin(ids))

    def has(self, doc_id: int) -> bool:
        """Existence probe (reference: kvdb Has, kv_db.go:32)."""
        return bool(self.lookup([doc_id]).limit(1).take(1))

    # -- helpers ------------------------------------------------------------
    def _segment_files(self, tree: dict, terms, segments=None) -> dict:
        """{segment: files} of ``tree`` (:func:`_bucket_files`) in the
        ``terms``' bucket directories, optionally only of ``segments``."""
        out: dict = {}
        for bk in sorted({term_bucket(t, self._n_buckets) for t in terms}):
            for seg, paths in tree.get(bk, {}).items():
                if segments is None or seg in segments:
                    out.setdefault(seg, []).extend(paths)
        return out

    def _per_segment(self, terms, kernel, schema: str, segments=None,
                     positions_terms=()) -> DataFrame:
        """``kernel`` over every segment with files in the ``terms``' (or
        ``positions_terms``') buckets -> rows under ``schema``: one
        map-only stage over (segment_id, files, pos_files) rows, one
        segment per task up to ``defaultParallelism``, each task reading
        its frame (:func:`_read_segment`) with pyarrow — so executors must
        see the index path. No exchange: a top-k merge runs in the same
        job."""
        import pyarrow as pa
        self._check_fresh()
        files = self._segment_files(self._post_files, terms, segments)
        pos_files = (self._segment_files(_bucket_files(
                         os.path.join(self.index_dir, "positions")),
                         positions_terms, segments)
                     if positions_terms else {})
        segs = sorted(files.keys() | pos_files.keys())
        # a local table scans as min(rows, defaultParallelism) partitions
        paths = pa.list_(pa.string())
        src = self.spark.createDataFrame(pa.table({
            "segment_id": pa.array(segs, pa.int64()),
            "files": pa.array([files.get(s, []) for s in segs], paths),
            "pos_files": pa.array([pos_files.get(s, []) for s in segs],
                                  paths)}))
        terms, pos_terms = sorted(set(terms)), sorted(set(positions_terms))

        def run(parts):
            for part in parts:
                for fs, pfs in zip(part["files"], part["pos_files"]):
                    pdf = _read_segment(fs, terms, pfs, pos_terms)
                    out = kernel(pdf) if len(pdf) else pdf
                    if len(out):
                        yield out

        return src.mapInPandas(run, schema)

    # -- search -------------------------------------------------------------
    def search(self, q: TermQuery, k: int = 10, on: int = 0, off: int = 0,
               or_flags: tuple = (), mode: str = "auto",
               boosts: dict[str, float] | None = None,
               after: tuple[float, int] | None = None,
               exclude: TermQuery | None = None,
               min_should_match: int = 0,
               hydrate: bool = False,
               phrases: tuple = (),
               demote: TermQuery | None = None,
               demote_factor: float = 0.5) -> DataFrame:
        """BM25 top-k. Returns (doc_id, score) ordered by (score desc,
        doc_id asc); with ``hydrate`` also the business columns.

        mode: 'wand' (block-max WAND; flat OR queries), 'conj'
        (skip-pointer + block-max intersection; flat AND queries), 'taat'
        (exhaustive vectorized, any tree shape), 'auto' (TAAT: over
        cached runs it is the fastest at every measured segment size, k
        and term mix; all paths are lossless, so the choice affects
        latency only, never results).

        ``boosts``: optional term-key -> positive weight map (Lucene
        boost semantics): a boosted term contributes
        ``boost * idf * u(tf, dl)``. Weights must be > 0 — the pruned
        paths scale their block-max bounds by the same weight, which is
        only an upper bound for positive weights.

        ``after``: optional (score, doc_id) paging cursor — the last hit
        of the previous page. The result is the top-k strictly AFTER
        that rank position (Elasticsearch search_after semantics). Each
        segment kernel filters at the cursor BEFORE its heap, so page N
        costs the same as page 1 — no per-segment ``offset + k`` result
        growth, the property that makes deep paging viable at
        thousand-segment scale. Cursor scores must come from a prior
        result of this engine (the kernels recompute scores
        bitwise-identically, so the tie comparison is exact).

        ``exclude``: optional must_not tree (ES bool-query semantics) —
        its matches are removed from the candidate set IN-KERNEL,
        before each segment's top-k, and its terms never contribute to
        a score. Exclusion forces the exhaustive (TAAT) scorer: in a
        pruned scorer an excluded doc entering the heap could raise the
        pruning threshold above a legitimate hit's score, making
        post-hoc exclusion lossy. Scores of surviving docs are
        bitwise-identical to the same query without ``exclude``.

        ``min_should_match``: minimum number of DISTINCT query terms a
        doc must match to be a candidate (Elasticsearch should-clause
        semantics; Lucene ``BooleanQuery.setMinimumNumberShouldMatch``).
        Only meaningful for flat OR queries — the quorum counts should
        clauses, which for this engine's trees are term leaves.
        Survivors are scored over every matching term, so
        ``min_should_match <= 1`` is bitwise-identical to the plain
        query and ``== len(terms)`` has the AND query's candidate set
        with the OR query's scores. Forces the exhaustive scorer (the
        quorum filter runs before each segment's top-k heap, which a
        pruned scorer's threshold bookkeeping would make lossy).

        ``phrases``: PhraseSpec clauses — the tree (or ``exclude``)
        holds a pseudo-leaf per spec; per segment its candidate array
        is the phrase's adjacency match set folded from the positional
        sidecar (requires build_positions for the phrase field). Each
        segment task then reads postings-for-scored-terms UNION
        sidecar-rows-for-phrase-terms, one Arrow kernel per segment
        either way — same plan shape, same top-k merge. Forces TAAT.

        ``demote``/``demote_factor`` (ES boosting query): candidates
        matching the ``demote`` tree stay in the result but their score
        is multiplied by ``demote_factor`` (ES ``negative_boost``,
        in [0, 1]) — softer than ``exclude``, which removes them.
        Demote-only terms are scanned to evaluate the match, never
        scored. Forces TAAT; applied before the cursor and the top-k,
        so paging stays consistent with the demoted rank order.
        """
        spec = resolve_search_spec(q, mode, boosts, after, exclude,
                                   min_should_match, phrases=phrases,
                                   demote=demote,
                                   demote_factor=demote_factor)
        if spec.empty:
            return self._empty_hits(hydrate)
        hits = (self._spec_hits(
                    [("", spec, on, off, tuple(or_flags), boosts or None)], k)
                .drop("qid")
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
        return self.hydrate(hits) if hydrate else hits

    def _spec_hits(self, entries: list, k: int) -> DataFrame:
        """Per-segment (qid, doc_id, score) top-``k`` hits of resolved
        requests ``entries`` = [(qid, SearchSpec, on, off, or_flags,
        boosts)] — the one plan every BM25 top-k verb runs: one driver
        read of the scanned terms' df_global, then :func:`_make_spec_kernel`
        in :meth:`_per_segment`'s segment tasks, each reading every entry's
        terms (and the sidecar rows of their phrase words)."""
        scan_terms: set[str] = set()
        for _, spec, *_ in entries:
            scan_terms |= set(spec.terms) | spec.neg_terms
        phrases = tuple(p for _, spec, *_ in entries for p in spec.phrases)
        if phrases:
            require_positions(self.index_dir, {p.field for p in phrases})
        kern = _make_spec_kernel(
            entries, int(self.stats["n_docs"]), float(self.stats["avgdl"]),
            k, self.stats["k1"], self.stats["b"], self.stats["block_size"],
            self._df_global(scan_terms))
        return self._per_segment(
            scan_terms, kern, "qid string, doc_id long, score double",
            positions_terms={k for p in phrases for k in p.term_keys})

    def search_many(self, queries: dict[str, TermQuery], k: int = 10,
                    on: int = 0, off: int = 0, or_flags: tuple = (),
                    hydrate: bool = False,
                    flags: dict[str, tuple] | None = None,
                    boosts: dict[str, dict[str, float]] | None = None,
                    after: dict[str, tuple] | None = None,
                    excludes: dict[str, TermQuery] | None = None,
                    min_should_match: dict[str, int] | None = None
                    ) -> DataFrame:
        """BM25 top-k for MANY queries in one plan — the cluster serving
        shape. A batch shares one driver read of df_global and ONE
        map-only segment stage (:meth:`_per_segment`) that reads every
        query's terms once per segment and scores every query there
        (runs reused across queries sharing a term); the per-query top-k
        is a window shuffle over <= n_queries * n_segments * k rows above
        it. Issuing Q queries individually costs Q reads + Q jobs of
        scheduler latency; batched, both are paid once (the reference
        amortizes the same way by multiplexing concurrent RPCs over one
        resident index, index_service/sentinel.go:137-187 — here the
        index is storage, so the read is the cost to amortize).

        Each query resolves through :func:`resolve_search_spec` and runs
        the exact single-query code path per segment (same strategy
        choice, same float op order), so results are rank- and
        score-identical to :meth:`search` and invalid requests raise
        :meth:`search`'s ValueError, prefixed with their query id — the
        batch is a latency/throughput optimization, never a semantics
        change.

        Returns (qid, doc_id, score) ordered by (qid asc, score desc,
        doc_id asc); queries with no terms contribute no rows.

        ``on``/``off``/``or_flags`` are the batch-wide bit-flag filter;
        ``flags`` overrides them per query id with an
        ``(on, off, or_flags)`` tuple, so one batch can multiplex
        heterogeneous requests. ``boosts`` maps query id -> per-term
        boost dict (same positive-weight Lucene contract as
        :meth:`search`), ``after`` maps query id -> (score, doc_id)
        paging cursor, and ``excludes`` maps query id -> must_not tree
        (forces that query onto the exhaustive scorer, same as solo
        :meth:`search`) — so boosted, paged, filtered, and excluded
        requests all multiplex in one batch. ``min_should_match`` maps
        query id -> term-match quorum (flat OR queries only, same
        contract as solo :meth:`search`).
        """
        from pyspark.sql.window import Window

        entries = batch_entries(queries, on, off, or_flags, flags, boosts,
                                after, excludes, min_should_match)
        if not entries:
            df = self.spark.createDataFrame(
                [], "qid string, doc_id long, score double")
            return self.hydrate(df) if hydrate else df
        w = Window.partitionBy("qid").orderBy(F.desc("score"),
                                              F.asc("doc_id"))
        hits = (self._spec_hits(entries, k)
                .withColumn("_rnk", F.row_number().over(w))
                .filter(F.col("_rnk") <= k)
                .drop("_rnk")
                .orderBy("qid", F.desc("score"), F.asc("doc_id")))
        # hits are bounded (<= n_queries * k rows), so hydrate via the
        # pruned point-lookup path, not a full forward-index join
        return self.hydrate(hits) if hydrate else hits

    def search_phrase(self, words, field: str = "content", k: int = 10,
                      on: int = 0, off: int = 0, or_flags: tuple = (),
                      gap: int = 0, hydrate: bool = False) -> DataFrame:
        """Exact-phrase BM25 top-k over the positional sidecar
        (operators.positions.build_positions must have been run for
        ``field``). Matches docs where the words occur ADJACENTLY IN
        ORDER in ``field``'s token stream; scores are the same per-term
        BM25 sum the AND path uses — a phrase is the AND of its terms
        restricted to adjacent occurrences (no reference analog: the
        reference index stores no positions,
        skiplist_reverse_index.go:23-36). ``gap`` relaxes adjacency to
        ordered proximity: each next word within ``gap`` intervening
        tokens of the previous (0 = exact phrase).

        Served as :meth:`search` of one phrase clause
        (:func:`phrase_query`): same plan, same kernel, same top-k
        merge."""
        req = phrase_query(words, field, gap)
        if req is None:
            return self._empty_hits(hydrate)
        q, phrases = req
        return self.search(q, k=k, on=on, off=off, or_flags=or_flags,
                           phrases=phrases, hydrate=hydrate)

    def highlight(self, hits: DataFrame, words, field: str = "content",
                  window: int = 5) -> DataFrame:
        """Keyword-in-context snippets for POST-LIMIT hits: for each hit
        doc, ``first_tok`` is the smallest token ordinal (0-based, under
        the engine tokenizer spec) at which ANY of ``words`` occurs —
        read from the POSITIONAL SIDECAR, not by re-scanning the text
        (occurrence discovery at 10^12 docs must come from the index;
        only the k hit payloads are ever tokenized) — and ``snippet`` is
        the +-``window``-token context sliced from the hydrated content.
        Returns (doc_id, score, first_tok, snippet); hits where no word
        has a sidecar occurrence (e.g. a lang-field-only match) are kept
        with first_tok = -1 and an empty snippet. Input contract matches
        :meth:`hydrate`: post-limit hits only (> _HYDRATE_MAX raises).
        No reference analog (the reference index stores no positions,
        skiplist_reverse_index.go:23-36)."""
        from quicker_spark.functions.tokenize import tokenize_py
        require_positions(self.index_dir, {field})
        terms = sorted({f"{field}\x01{str(w).lower()}"
                        for w in words if str(w)})
        rows = hits.limit(_HYDRATE_MAX + 1).collect()
        if len(rows) > _HYDRATE_MAX:
            raise ValueError(
                f"highlight() is a post-limit operation "
                f"(> {_HYDRATE_MAX} rows supplied)")
        if not rows or not terms:
            return self.spark.createDataFrame(
                [], "doc_id long, score double, first_tok long, "
                    "snippet string")
        hit_ids = np.array(sorted(int(r["doc_id"]) for r in rows),
                           dtype=np.int64)

        def kern(pdf: pd.DataFrame) -> pd.DataFrame:
            best: dict[int, int] = {}
            for r in _frame_rows(pdf):
                ids_, tfs, _dls, _bits, pos = decode_positions_row(
                    bytes(r["ids"]), bytes(r["tfs"]), bytes(r["dls"]),
                    bytes(r["bits"]), bytes(r["pos"]))
                if not len(ids_):
                    continue
                starts = np.zeros(len(tfs), dtype=np.int64)
                np.cumsum(tfs[:-1], out=starts[1:])
                first = pos[starts]  # positions ascend within a doc
                sel = np.isin(ids_, hit_ids)
                for d, f in zip(ids_[sel], first[sel]):
                    d = int(d)
                    if d not in best or f < best[d]:
                        best[d] = int(f)
            return pd.DataFrame({"doc_id": list(best),
                                 "first_tok": list(best.values())})

        seg_docs = int(self.stats["seg_docs"])
        firsts = self._per_segment(
            (), kern, "doc_id long, first_tok long",
            segments={int(i) // seg_docs for i in hit_ids},
            positions_terms=terms)

        w = int(window)

        @F.pandas_udf("string")
        def snip(content: pd.Series, ft: pd.Series) -> pd.Series:
            out = []
            for text, j in zip(content, ft):
                j = int(j)
                if j < 0:
                    out.append("")
                    continue
                toks = tokenize_py(text)
                out.append(" ".join(toks[max(0, j - w): j + w + 1]))
            return pd.Series(out, dtype="object")

        hits_local = self.spark.createDataFrame(rows, hits.schema)
        payload = self.lookup([int(i) for i in hit_ids]).select(
            "doc_id", "content")
        return (F.broadcast(hits_local)
                .join(payload, "doc_id", "inner")
                .join(firsts, "doc_id", "left")
                .fillna(-1, subset=["first_tok"])
                .select("doc_id", "score", "first_tok",
                        snip(F.col("content"),
                             F.col("first_tok")).alias("snippet")))

    def explain(self, q: TermQuery, k: int = 10,
                **search_kwargs) -> DataFrame:
        """Per-term score breakdown for the top-k hits (Lucene explain /
        ES ``_explanation``). Runs the normal :meth:`search` (any mode /
        boosts / exclude / min_should_match kwargs pass through — the
        winners are whatever that call returns, k rows collected
        control-plane), then re-reads ONLY the winners' postings: the
        read selects the terms' bucket files of the winners' segments
        only (at 10^12 docs a handful of directories, never the postings
        tree) and prunes row groups by term (:func:`term_filter`).
        Returns one row per (hit doc, matching positive query term):
        (doc_id, field, word, tf, dl, idf_w, contrib) where
        ``idf_w`` is the boost-folded idf weight and ``contrib = idf_w *
        u`` is the exact float64 product every scorer accumulates
        (kernels.score_segment_exhaustive) — summing a doc's
        contribs in ascending word order reproduces its score
        bitwise. Exclude-only and nested-must_not terms never appear
        (they never contribute to a score); phrase constituents do
        (they carry the phrase's score). No reference analog (the
        reference returns ids only, index_service/sentinel.go:137-187)."""
        scored = {t for t in q.pos_terms()
                  if not t.startswith(PSEUDO_PREFIX)}
        for p in (search_kwargs.get("phrases") or ()):
            p = PhraseSpec(*p)
            if p.score_words:
                scored |= set(p.term_keys)
        terms = sorted(scored)
        empty_schema = ("doc_id long, field string, word string, "
                        "tf long, dl long, idf_w double, contrib double")
        if not terms:
            return self.spark.createDataFrame([], empty_schema)
        hits = self.search(q, k=k, **search_kwargs)
        rows = hits.collect()
        if not rows:
            return self.spark.createDataFrame([], empty_schema)
        hit_ids = np.array(sorted(int(r["doc_id"]) for r in rows),
                           dtype=np.int64)
        n_docs = int(self.stats["n_docs"])
        avgdl = float(self.stats["avgdl"])
        k1, b = self.stats["k1"], self.stats["b"]
        bs = self.stats["block_size"]
        boosts = dict(search_kwargs.get("boosts") or {})
        dfg = self._df_global(terms)

        def kern(pdf: pd.DataFrame) -> pd.DataFrame:
            outs = []
            for term, (dids, tfs, dls, _bits) in _frame_runs(pdf, bs).items():
                if not dids.size:
                    continue
                pos = np.searchsorted(dids, hit_ids)
                pos_c = np.clip(pos, 0, dids.size - 1)
                m = dids[pos_c] == hit_ids
                if not m.any():
                    continue
                sel = pos_c[m]
                w = boosts.get(term, 1.0) * bm25_idf(n_docs, dfg[term])
                u = bm25_u(tfs[sel], dls[sel], avgdl, k1, b)
                field, _, word = term.partition("\x01")
                outs.append(pd.DataFrame({
                    "doc_id": dids[sel], "field": field, "word": word,
                    "tf": tfs[sel], "dl": dls[sel],
                    "idf_w": np.full(sel.size, w), "contrib": w * u}))
            if not outs:
                return pd.DataFrame({
                    "doc_id": pd.Series(dtype="int64"),
                    "field": pd.Series(dtype="object"),
                    "word": pd.Series(dtype="object"),
                    "tf": pd.Series(dtype="int64"),
                    "dl": pd.Series(dtype="int64"),
                    "idf_w": pd.Series(dtype="float64"),
                    "contrib": pd.Series(dtype="float64")})
            return pd.concat(outs, ignore_index=True)

        seg_docs = int(self.stats["seg_docs"])
        return (self._per_segment(
                    terms, kern, empty_schema,
                    segments={int(i) // seg_docs for i in hit_ids})
                .orderBy("doc_id", "field", "word"))

    def mlt_terms(self, doc_id: int, field: str = "content",
                  max_terms: int = 5) -> list[str]:
        """The seed doc's representative terms, Lucene MoreLikeThis
        style: rank the doc's distinct terms by ``tf * idf`` (tf from
        the seed's token stream, idf from the ENGINE's global term
        stats), ties broken by term ascending, take ``max_terms``. Two
        control-plane reads: a point lookup for the seed payload
        (segment-directory pruned) and a term-stats fetch for the
        seed's distinct terms (<= one doc's vocabulary — bounded by doc
        length, never corpus-sized)."""
        from collections import Counter

        from quicker_spark.functions.tokenize import tokenize_py

        rows = self.lookup([int(doc_id)]).select(field).collect()
        if not rows:
            raise KeyError(f"doc {doc_id} not in the index")
        tf = Counter(tokenize_py(rows[0][field]))
        if not tf:
            return []
        keys = {f"{field}\x01{t}": t for t in tf}
        n_docs = int(self.stats["n_docs"])
        df = self._df_global(keys)
        ranked = sorted(
            tf, key=lambda t: (-(float(tf[t]) * bm25_idf(
                n_docs, df[f"{field}\x01{t}"])), t))
        return ranked[:int(max_terms)]

    def more_like_this(self, doc_id: int, field: str = "content",
                       max_terms: int = 5, k: int = 10, on: int = 0,
                       off: int = 0, or_flags: tuple = (),
                       mode: str = "auto",
                       hydrate: bool = False) -> DataFrame:
        """Find docs similar to a seed doc (Lucene MoreLikeThis / ES
        ``more_like_this``): the seed's :meth:`mlt_terms` become a flat
        OR query served through the normal scoring path (WAND-prunable),
        with the seed itself excluded from the hits. Searches k+1 then
        drops the seed — exact: top-k of (candidates minus seed) is the
        seed-free prefix of the top-(k+1). No reference analog (the
        reference has no query-by-document surface)."""
        terms = self.mlt_terms(doc_id, field=field, max_terms=max_terms)
        if not terms:
            return self._empty_hits(hydrate)
        q = Or(*[NewTermQuery(field, t) for t in terms])
        hits = (self.search(q, k=int(k) + 1, on=on, off=off,
                            or_flags=or_flags, mode=mode)
                .filter(F.col("doc_id") != int(doc_id))
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(int(k)))
        return self.hydrate(hits) if hydrate else hits

    def _search_expansion(self, terms: list[str], k: int, on: int,
                          off: int, or_flags: tuple,
                          hydrate: bool) -> DataFrame:
        """BM25 top-k of a dictionary expansion served as one flat OR
        through :meth:`search` (one Spark job), rank-identical to
        spelling the OR out by hand. Each expansion scores with its OWN
        idf (a rare misspelling outranks its common neighbor for docs
        that contain it — Lucene's constant-score rewrite is a
        different, cheaper contract; this is the scoring one). No
        reference analog (the reference matches whole keywords only)."""
        if not terms:
            return self._empty_hits(hydrate)
        return self.search(Or(*[TermQuery(keyword=t) for t in terms]),
                           k=k, on=on, off=off, or_flags=or_flags,
                           hydrate=hydrate)

    def search_prefix(self, field: str, prefix: str, k: int = 10,
                      on: int = 0, off: int = 0, or_flags: tuple = (),
                      max_expansions: int = 64,
                      hydrate: bool = False) -> DataFrame:
        """BM25 top-k for a prefix query (``field:prefix*``):
        :meth:`expand_prefix`, then :meth:`_search_expansion`."""
        return self._search_expansion(
            self.expand_prefix(field, prefix, max_expansions), k, on, off,
            or_flags, hydrate)

    def suggest(self, field: str, word: str, max_edits: int = 2,
                prefix_len: int = 1, n: int = 5) -> DataFrame:
        """:meth:`TermDictionary.suggest` as a DataFrame (word, distance,
        df): its <= ``n`` rows become a local relation, which collects
        without a Spark job when it has a row (an empty one runs one
        trivial job, as :meth:`_empty_hits` does)."""
        return self.spark.createDataFrame(
            super().suggest(field, word, max_edits, prefix_len, n),
            "word string, distance long, df long")

    def search_fuzzy(self, field: str, word: str, k: int = 10,
                     max_edits: int = 1, prefix_len: int = 1,
                     on: int = 0, off: int = 0, or_flags: tuple = (),
                     max_expansions: int = 64,
                     hydrate: bool = False) -> DataFrame:
        """BM25 top-k for a fuzzy term (``field:word~max_edits``):
        :meth:`expand_fuzzy`, then :meth:`_search_expansion`."""
        return self._search_expansion(
            self.expand_fuzzy(field, word, max_edits, prefix_len,
                              max_expansions), k, on, off, or_flags,
            hydrate)

    def search_regexp(self, field: str, pattern: str, k: int = 10,
                      on: int = 0, off: int = 0, or_flags: tuple = (),
                      max_expansions: int = 64,
                      hydrate: bool = False) -> DataFrame:
        """BM25 top-k for a whole-term regexp query (``field:/pattern/``):
        :meth:`expand_regexp`, then :meth:`_search_expansion`."""
        return self._search_expansion(
            self.expand_regexp(field, pattern, max_expansions), k, on, off,
            or_flags, hydrate)

    def search_wildcard(self, field: str, pattern: str, k: int = 10,
                        on: int = 0, off: int = 0, or_flags: tuple = (),
                        max_expansions: int = 64,
                        hydrate: bool = False) -> DataFrame:
        """BM25 top-k for a wildcard query (``field:ta?le*``): sugar
        over :meth:`search_regexp` via the Lucene ``*``/``?``
        translation — same scored-OR dictionary-expansion contract,
        each expansion with its own idf."""
        return self.search_regexp(
            field, self.wildcard_to_regexp(pattern), k=k, on=on,
            off=off, or_flags=or_flags, max_expansions=max_expansions,
            hydrate=hydrate)

    def _scored_matches(self, q: TermQuery, on: int = 0, off: int = 0,
                        or_flags: tuple = ()) -> DataFrame:
        """EVERY boolean match of ``q`` BM25-scored (no top-k): the TAAT
        kernel with the per-segment keep set equal to the segment size,
        so nothing is dropped. The building block for operators that
        rank within the full match set (field collapsing); cost is
        proportional to the match set, exactly like the boolean path."""
        spec = full_match_spec(q)
        if spec.empty:
            return self.spark.createDataFrame(
                [], "doc_id long, score double")
        return self._spec_hits(
            [("", spec, on, off, tuple(or_flags), None)],
            int(self.stats["n_docs"])).drop("qid")

    def search_rescore(self, q: TermQuery, rescore_q: TermQuery,
                       k: int = 10, window_size: int = 50,
                       query_weight: float = 1.0,
                       rescore_weight: float = 1.0,
                       on: int = 0, off: int = 0,
                       or_flags: tuple = (),
                       hydrate: bool = False) -> DataFrame:
        """Two-phase ranking (ES ``rescore``, score_mode=total): phase 1
        ranks with the (cheap) primary query ``q`` and keeps the global
        top ``window_size``; phase 2 re-ranks ONLY that window as

            query_weight * primary + rescore_weight * secondary

        where secondary is ``rescore_q``'s BM25 score for the doc — 0
        when the doc does not match it (ES: a rescorer contributes only
        where it matches; a partial match of an AND rescorer is no
        match). Returns the window's top-k under the combined score
        (ties doc_id asc).

        Plan shape: the window is k-bounded, the secondary pass is
        :meth:`_scored_matches` — cost proportional to ``rescore_q``'s
        match set, never the corpus — and the combine is one LEFT OUTER
        join on doc_id (the window is the preserved side, so it can never
        be the broadcast build side) + TakeOrdered. The
        expensive rescorer runs once over its match set instead of
        inside every primary candidate's scoring loop, which is the
        entire point of the ES rescore window. No reference analog
        (single-phase ranking only, index_service/sentinel.go:137-187);
        Lucene/ES ``QueryRescorer`` semantics."""
        if window_size < k:
            raise ValueError(
                f"window_size ({window_size}) must be >= k ({k}) — "
                "the rescore phase only sees the window")
        win = (self.search(q, k=window_size, on=on, off=off,
                           or_flags=or_flags)
               .withColumnRenamed("score", "p_score"))
        sec = (self._scored_matches(rescore_q, on, off, tuple(or_flags))
               .withColumnRenamed("score", "r_score"))
        combined = (F.lit(float(query_weight)) * F.col("p_score")
                    + F.coalesce(
                        F.lit(float(rescore_weight)) * F.col("r_score"),
                        F.lit(0.0)))
        hits = (win.join(sec, "doc_id", "left")
                .select("doc_id", combined.alias("score"))
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
        return self.hydrate(hits) if hydrate else hits

    def search_collapse(self, q: TermQuery, by: str = "lang", k: int = 10,
                        on: int = 0, off: int = 0,
                        or_flags: tuple = ()) -> DataFrame:
        """Field collapsing (ES ``collapse`` / Lucene grouping): the
        global top-k over the BEST-scoring doc per group key — each
        group contributes at most one hit, so the page shows diverse
        groups instead of one group's pile. Exact, not the
        oversample-then-dedup approximation: every match is scored
        (:meth:`_scored_matches`), the group key joins on via the
        prunable column-pruned hydration join, one window picks each
        group's best (score desc, doc_id asc — the engine tie-break),
        and TakeOrdered merges the per-group winners. The window
        shuffles by group key once; its input is the match set, never
        the corpus. Returns (doc_id, score, <by>)."""
        from pyspark.sql.window import Window

        scored = self._scored_matches(q, on=on, off=off, or_flags=or_flags)
        joined = self.hydrate_join(scored, cols=(by,))
        w = Window.partitionBy(by).orderBy(F.desc("score"),
                                           F.asc("doc_id"))
        return (joined
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select("doc_id", "score", by)
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(int(k)))

    def search_sorted(self, q: TermQuery, by: str = "doc_len",
                      ascending: bool = False, k: int = 10,
                      on: int = 0, off: int = 0,
                      or_flags: tuple = ()) -> DataFrame:
        """Boolean matches ordered by a FORWARD-INDEX column instead of
        relevance (Lucene SortField / doc-values sort): full match set
        from the boolean kernels, hydrated via the prunable
        (segment_id, doc_id) join, then global top-k by (column,
        doc_id-asc tiebreak). The sort+limit compiles to Spark's
        TakeOrderedAndProject — each partition keeps k rows and the
        driver merges n_partitions * k, never a full sort of the match
        set (the shape that survives a billion-match query). Returns
        (doc_id, <by>)."""
        matches = self.search_bool(q, on=on, off=off, or_flags=or_flags)
        joined = self.hydrate_join(matches.select("doc_id"), cols=(by,))
        order = F.asc(by) if ascending else F.desc(by)
        return (joined.select("doc_id", by)
                .orderBy(order, F.asc("doc_id")).limit(k))

    def facet_stats(self, q: TermQuery, on_col: str = "doc_len",
                    by=("lang",), on: int = 0, off: int = 0,
                    or_flags: tuple = ()) -> DataFrame:
        """Numeric stats facet over the FULL boolean match set (the
        Elasticsearch stats-aggregation shape): per facet bucket,
        count / min / max / sum of a forward-index column. One
        distributed aggregation over the prunable hydration join —
        nothing collected, same plan at ten matches or a billion.
        Averages are derivable as sum/count by the caller (sum is
        exactly representable for integer columns; an engine-computed
        float avg would hash-diverge from SQL oracles)."""
        matches = self.search_bool(q, on=on, off=off, or_flags=or_flags)
        joined = self.hydrate_join(matches.select("doc_id"),
                                   cols=(on_col,) + tuple(by))
        return (joined.groupBy(*by)
                .agg(F.count(F.lit(1)).alias("n"),
                     F.min(on_col).alias("min_v"),
                     F.max(on_col).alias("max_v"),
                     F.sum(on_col).alias("sum_v"))
                .orderBy(F.desc("n"), *[F.asc(c) for c in by]))

    def facet_histogram(self, q: TermQuery, on_col: str = "doc_len",
                        width: int = 10, on: int = 0, off: int = 0,
                        or_flags: tuple = ()) -> DataFrame:
        """Histogram facet over the FULL boolean match set (ES histogram
        aggregation): bucket = floor(col / width) * width, one
        distributed aggregation over the column-pruned hydration join.
        Returns (bucket, n) ordered by bucket asc — bucket keys are
        exact integers, so the result hashes stably against a SQL twin."""
        if width <= 0:
            raise ValueError(f"width must be > 0, got {width}")
        matches = self.search_bool(q, on=on, off=off, or_flags=or_flags)
        joined = self.hydrate_join(matches.select("doc_id"),
                                   cols=(on_col,))
        bucket = (F.floor(F.col(on_col) / F.lit(int(width)))
                  * F.lit(int(width))).cast("long").alias("bucket")
        return (joined.select(bucket)
                .groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.asc("bucket")))

    def facet_percentiles(self, q: TermQuery, on_col: str = "doc_len",
                          percentiles=(0.25, 0.5, 0.75, 0.875),
                          by=(), on: int = 0, off: int = 0,
                          or_flags: tuple = (), exact: bool = True,
                          accuracy: int = 10_000) -> DataFrame:
        """Percentiles facet over the FULL boolean match set (ES
        percentiles-aggregation shape): per facet bucket, the continuous
        (linearly interpolated, rank ``p*(n-1)``) quantiles of a
        forward-index column. Returns one row per (bucket, pct):
        ``(*by, pct, value)`` ordered by (by asc, pct asc).

        Scale: ``exact=True`` uses Spark's exact ``percentile``
        aggregate, whose buffer is a counts-map over the column's
        DISTINCT values — for bounded-domain integer columns like
        ``doc_len`` that is O(|domain|) per group regardless of corpus
        size, so the exact path survives the 100 TB shape. For genuinely
        high-cardinality columns pass ``exact=False`` to switch to the
        mergeable fixed-size-sketch ``percentile_approx`` (same row
        shape, approximate values — not oracle-hashable).

        Determinism: with dyadic percentiles (k/2^m — the defaults) and
        integer column values, every interpolation intermediate is
        exactly representable in binary double, so the result is
        bit-identical across engines and expression forms (Spark's
        ``lo + (hi-lo)*frac`` vs SQL ``quantile_cont``)."""
        pcts = [float(p) for p in percentiles]
        if not pcts or any(p < 0.0 or p > 1.0 for p in pcts):
            raise ValueError(f"percentiles must be in [0, 1]: {pcts}")
        matches = self.search_bool(q, on=on, off=off, or_flags=or_flags)
        joined = self.hydrate_join(matches.select("doc_id"),
                                   cols=(on_col,) + tuple(by))
        arr = F.array(*[F.lit(p) for p in pcts])
        col = F.col(on_col).cast("double")
        agg = (F.percentile(col, arr) if exact
               else F.percentile_approx(col, arr, F.lit(int(accuracy))))
        grouped = joined.groupBy(*by).agg(agg.alias("_q"))
        ex = grouped.select(*by, F.posexplode("_q").alias("_i", "value"))
        out = ex.select(*by,
                        F.element_at(arr, F.col("_i") + 1).alias("pct"),
                        F.col("value").cast("double").alias("value"))
        return out.orderBy(*[F.asc(c) for c in by], F.asc("pct"))

    def facet_cardinality(self, q: TermQuery, on_col: str = "repo",
                          by=(), on: int = 0, off: int = 0,
                          or_flags: tuple = (), exact: bool = True,
                          rsd: float = 0.05) -> DataFrame:
        """Cardinality facet over the FULL boolean match set (ES
        cardinality aggregation): distinct values of a forward-index
        column per facet bucket. Returns ``(*by, n_distinct)`` ordered
        by (n_distinct desc, by asc).

        Scale: ``exact=True`` is Spark's two-phase distinct aggregate —
        a partial map-side dedup, one shuffle keyed on
        ``(by, on_col)``, then the count; memory per task is bounded by
        the group's distinct values, and Catalyst expands it without a
        second corpus pass. ``exact=False`` switches to
        ``approx_count_distinct`` (HyperLogLog++): a fixed-size
        mergeable sketch per group — constant memory at any
        cardinality, the ES-default behavior, for columns whose
        distinct set itself is data-sized (e.g. a user-id column at
        10^12 events). The exact path is what the oracle hashes; the
        approx path is the 100 TB escape hatch."""
        matches = self.search_bool(q, on=on, off=off, or_flags=or_flags)
        joined = self.hydrate_join(matches.select("doc_id"),
                                   cols=(on_col,) + tuple(by))
        agg = (F.count_distinct(F.col(on_col)) if exact
               else F.approx_count_distinct(on_col, rsd))
        return (joined.groupBy(*by)
                .agg(agg.cast("long").alias("n_distinct"))
                .orderBy(F.desc("n_distinct"), *[F.asc(c) for c in by]))

    def significant_terms(self, q: TermQuery, field: str = "content",
                          size: int = 10, min_doc_count: int = 2,
                          on: int = 0, off: int = 0,
                          or_flags: tuple = ()) -> DataFrame:
        """Significant-terms aggregation over the FULL boolean match set
        (the ES ``significant_terms`` shape): terms overrepresented in
        the matching docs (foreground) relative to the whole corpus
        (background). Score = lift = (fg_df / fg_n) / (bg_df / n_docs);
        terms below ``min_doc_count`` foreground docs are dropped (rare
        flukes dominate raw lift); rank (lift desc, word asc), top
        ``size``. Returns (word, fg_df, bg_df, lift).

        Plan: the match set's payload joins column-pruned
        (:meth:`hydrate_join` reads ONLY ``field``), foreground dfs come
        from one map-side-distinct explode + aggregate — cost is
        proportional to the MATCH SET, never the corpus — and
        background dfs join from the term-stats table, broadcast ONLY
        when the corpus vocabulary is broadcast-sized
        (``n_terms <= _SIG_TERMS_BCAST_MAX``). term_stats scales with
        the corpus VOCABULARY (10^8+ distinct terms on a web-scale
        code corpus), so past the threshold the background join is a
        plain shuffle join keyed on ``word`` — the scale-safe default;
        AQE may still pick a broadcast at runtime if the filtered side
        turns out small. ``field`` must be a tokenized field (the
        engine token spec defines what a term is). One distributed
        aggregation; nothing corpus-sized is collected."""
        from quicker_spark.functions.tokenize import tokenize_col

        matches = self.search_bool(q, on=on, off=off, or_flags=or_flags)
        fg_n = matches.count()
        if fg_n == 0:
            return self.spark.createDataFrame(
                [], "word string, fg_df long, bg_df long, lift double")
        n_docs = int(self.stats["n_docs"])
        joined = self.hydrate_join(matches.select("doc_id"), cols=(field,))
        fg = (joined
              .select(F.explode(F.array_distinct(
                  tokenize_col(F.col(field)))).alias("word"))
              .groupBy("word")
              .agg(F.count(F.lit(1)).alias("fg_df"))
              .filter(F.col("fg_df") >= F.lit(int(min_doc_count))))
        bg = (self.term_stats
              .filter((F.col("term") >= f"{field}\x01")
                      & (F.col("term") < f"{field}\x02"))
              .select(F.expr(f"substring(term, {len(field) + 2})")
                      .alias("word"),
                      F.col("df_global").alias("bg_df")))
        if self.stats.get("n_terms") is None:
            # pre-n_terms index format: count-star is parquet footer
            # metadata only; cache so the gate costs one job ever
            self.stats["n_terms"] = int(self.term_stats.count())
        if int(self.stats["n_terms"]) <= _SIG_TERMS_BCAST_MAX:
            bg = F.broadcast(bg)
        lift = ((F.col("fg_df").cast("double") / F.lit(float(fg_n)))
                / (F.col("bg_df").cast("double") / F.lit(float(n_docs))))
        return (fg.join(bg, "word", "inner")
                .select("word", F.col("fg_df").cast("long").alias("fg_df"),
                        F.col("bg_df").cast("long").alias("bg_df"),
                        lift.alias("lift"))
                .orderBy(F.desc("lift"), F.asc("word"))
                .limit(int(size)))

    def search_fields(self, words, field_boosts: dict[str, float],
                      k: int = 10, on: int = 0, off: int = 0,
                      or_flags: tuple = (), mode: str = "auto",
                      hydrate: bool = False) -> DataFrame:
        """Weighted multi-field search (Lucene multi-field query with
        field boosts — BM25F-lite): each word is looked up in every
        field of ``field_boosts`` and scored as a flat OR whose per-term
        contribution is ``weight_field * idf_term * u(tf, dl)``. Serves
        through the normal pruned WAND path (boosted bounds stay
        admissible — see :meth:`search`). No reference analog: the
        reference namespaces terms by field (gen/document.go:3-9) but
        has no per-field weighting."""
        if isinstance(words, str):
            words = [words]
        terms: list[TermQuery] = []
        boosts: dict[str, float] = {}
        for f, w in sorted(field_boosts.items()):
            for word in words:
                t = NewTermQuery(f, word)
                if t.keyword:
                    terms.append(t)
                    boosts[t.keyword] = float(w)
        if not terms:
            return self._empty_hits(hydrate)
        return self.search(Or(*terms), k=k, on=on, off=off,
                           or_flags=or_flags, mode=mode, boosts=boosts,
                           hydrate=hydrate)

    def search_synonyms(self, groups: dict, field: str = "content",
                        k: int = 10, on: int = 0, off: int = 0,
                        or_flags: tuple = (),
                        hydrate: bool = False) -> DataFrame:
        """Lucene ``SynonymQuery`` top-k: each entry of ``groups``
        (name -> words) scores as ONE pseudo-term — tf(d) = sum of the
        member tfs in d, docFreq = MAX of the member global dfs (the
        Lucene blend: an OR of synonyms must not reward a doc for
        repeating the concept under different spellings, and the rarest
        member must not get a rarity bonus for what is one concept).
        Groups combine as a flat OR of pseudo-terms, scored exhaustively
        in :meth:`_per_segment`'s map-only segment tasks (TakeOrdered
        merge in the same job). The blended idf is computed driver-side from
        one control-plane-sized term-stats read (len(members) rows), so
        every segment scores with the same global weight regardless of
        which members it locally contains. No reference analog (the
        reference's OR rewrites score nothing; this follows Lucene's
        published SynonymQuery semantics)."""
        norm: dict[str, tuple] = {}
        for name, words in sorted(groups.items()):
            words = [words] if isinstance(words, str) else list(words)
            keys = tuple(dict.fromkeys(
                term_key(field, w) for w in words if w))
            if keys:
                norm[term_key(field, name)] = keys
        members = sorted({m for ks in norm.values() for m in ks})
        if not members:
            return self._empty_hits(hydrate)
        dfs = self._df_global(members)
        n_docs = int(self.stats["n_docs"])
        idf_groups = tuple(
            (g, bm25_idf(n_docs, max(dfs[m] for m in ms)))
            for g, ms in norm.items() if any(dfs[m] for m in ms))
        if not idf_groups:
            return self._empty_hits(hydrate)
        live = {g for g, _ in idf_groups}
        kern = _make_synonym_kernel(
            tuple((g, ms) for g, ms in norm.items() if g in live),
            idf_groups, float(self.stats["avgdl"]), k, on, off,
            tuple(or_flags), self.stats["k1"], self.stats["b"],
            self.stats["block_size"])
        scan = {m for g, ms in norm.items() if g in live for m in ms}
        hits = (self._per_segment(scan, kern, "doc_id long, score double")
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
        return self.hydrate(hits) if hydrate else hits

    def search_dismax(self, words, field: str = "content",
                      tie: float = 0.0, k: int = 10, on: int = 0,
                      off: int = 0, or_flags: tuple = (),
                      hydrate: bool = False) -> DataFrame:
        """Lucene ``DisjunctionMaxQuery`` top-k over term leaves:
        score(d) = (1 - tie) * max_t c_t(d) + tie * sum_t c_t(d) with
        c_t = idf * u (algebraically Lucene's max + tie * sumOfOthers) —
        the best-matching term dominates and the rest contribute only
        through ``tie`` in [0, 1], so a doc matching one term strongly
        outranks a doc matching every term weakly (the "pick the best
        clause" semantics a plain BM25 sum inverts). tie=1 is bitwise
        the flat OR query's sum; tie=0 the pure max. Served like
        :meth:`search`: one driver read of df_global, the dismax kernel
        in :meth:`_per_segment`'s map-only segment tasks, TakeOrdered
        merge in the same job."""
        if isinstance(words, str):
            words = [words]
        if not 0.0 <= tie <= 1.0:
            raise ValueError(f"tie must be in [0, 1]: {tie}")
        terms = {term_key(field, w) for w in words if w}
        if not terms:
            return self._empty_hits(hydrate)
        kern = _make_dismax_kernel(
            float(tie), int(self.stats["n_docs"]),
            float(self.stats["avgdl"]), k, on, off, tuple(or_flags),
            self.stats["k1"], self.stats["b"], self.stats["block_size"],
            self._df_global(terms))
        hits = (self._per_segment(terms, kern, "doc_id long, score double")
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
        return self.hydrate(hits) if hydrate else hits

    def facet_counts(self, q: TermQuery, by=("lang",), on: int = 0,
                     off: int = 0, or_flags: tuple = ()) -> DataFrame:
        """Facet aggregation over the FULL boolean match set: doc counts
        grouped by forward-index columns (descending count, then facet
        values). The match set stays distributed (search_bool ->
        hydrate_join -> groupBy — one aggregation over a prunable join,
        nothing collected), so faceting over a billion-match query is
        the same plan as over ten. No reference analog (the reference
        returns raw match lists; faceting is the standard search-engine
        aggregation layered on top)."""
        matches = self.search_bool(q, on=on, off=off, or_flags=or_flags)
        joined = self.hydrate_join(matches)
        return (joined.groupBy(*by)
                .agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.desc("n"), *[F.asc(c) for c in by]))

    def search_bool(self, q: TermQuery, on: int = 0, off: int = 0,
                    or_flags: tuple = (), hydrate: bool = False) -> DataFrame:
        """All boolean matches, ascending doc_id — the reference's Search
        contract (returns every match, no ranking;
        skiplist_reverse_index.go:214-227). Nested ``must_not`` in the
        tree evaluates in-kernel (``&~`` of the segment's window masks,
        against the node's own candidates); phrase pseudo-leaves are
        refused — this path scans postings, not the positional
        sidecar."""
        terms = q.terms()
        if any(t.startswith(PSEUDO_PREFIX) for t in terms):
            raise ValueError(
                "phrase pseudo-leaves are not supported on the boolean "
                "path — it scans postings, not the positional sidecar")
        if not terms:
            return self._empty_bool(hydrate)
        kern = _make_bool_kernel(q.to_json(), on, off, tuple(or_flags),
                                 self.stats["block_size"])
        out = self._per_segment(terms, kern, "doc_id long").orderBy("doc_id")
        return self.hydrate_join(out) if hydrate else out

    def search_bool_not(self, q: TermQuery, exclude: TermQuery,
                        on: int = 0, off: int = 0, or_flags: tuple = (),
                        hydrate: bool = False) -> DataFrame:
        """Boolean must_not (ES bool-query shape, beyond the reference's
        And/Or IR): all matches of ``q`` MINUS all matches of
        ``exclude``, ascending doc_id — :meth:`search_bool` of
        ``AndNot(q, exclude)``, so both trees evaluate inside ONE
        per-segment kernel over one shared term-pruned postings read
        (no second job, no anti-join shuffle) and phrase pseudo-leaves
        are refused the same way. Bit filters apply to both sides (the
        flag context frames the whole request). A bare NOT is
        deliberately unsupported: its match set is corpus-sized."""
        return self.search_bool(AndNot(q, exclude), on=on, off=off,
                                or_flags=or_flags, hydrate=hydrate)

    _PAYLOAD_COLS = ("doc_id", "id", "repo", "path", "commit", "lang",
                     "doc_sha")

    def hydrate(self, hits: DataFrame) -> DataFrame:
        """Forward-index point lookup for POST-LIMIT hits (reference:
        BatchGet + decode, indexer.go:126-157). The hits are materialized
        first — they are k rows, so this is a control-plane-sized
        collect, the same k keys the reference hands to BatchGet
        (kv_db.go:27) — and their segment set + id list prune the docs
        scan exactly like :meth:`lookup` (partition directories, then
        row groups). Without the pruning a broadcast-hash join still
        READS every docs partition: at 10^12 docs that is a full
        forward-index scan to fetch k payloads. For unbounded hit sets
        (boolean search) use :meth:`hydrate_join` — collecting those
        would put data-sized results on the driver; passing one here
        raises rather than silently collecting a data-sized result."""
        rows = hits.limit(_HYDRATE_MAX + 1).collect()
        if len(rows) > _HYDRATE_MAX:
            raise ValueError(
                f"hydrate() is a point lookup for post-limit hits "
                f"(> {_HYDRATE_MAX} rows supplied); use hydrate_join() "
                "for unbounded hit sets")
        hits_local = (self.spark.createDataFrame(rows, hits.schema)
                      if rows else hits.limit(0))
        ids = [int(r["doc_id"]) for r in rows]
        payload = self.lookup(ids).select(*self._PAYLOAD_COLS)
        return F.broadcast(hits_local).join(payload, "doc_id", "inner")

    def hydrate_join(self, hits: DataFrame,
                     cols: tuple | None = None) -> DataFrame:
        """Lazy hydration for UNBOUNDED hit sets (all boolean matches —
        the reference hydrates every match, indexer.go:126-157): a
        distributed join against the forward index, nothing collected.
        The hits side derives ``segment_id`` (doc_id // seg_docs — the
        engine's id→partition law) and joins on (segment_id, doc_id), so
        the docs scan is prunable: when the hits side broadcasts, AQE's
        dynamic partition pruning drops every docs directory with no
        hit; a shuffle join on the composite key is no worse than the
        doc_id-only join. Hits stay executor-side either way.

        ``cols`` narrows the forward-index projection (default: the
        standard payload columns) — sort/facet paths pass only the
        column they rank or aggregate on so the parquet scan's
        ReadSchema stays minimal."""
        seg_docs = int(self.stats["seg_docs"])
        keyed = hits.withColumn(
            "segment_id",
            (F.col("doc_id") / F.lit(seg_docs)).cast("long"))
        want = self._PAYLOAD_COLS if cols is None else \
            ("doc_id",) + tuple(c for c in cols if c != "doc_id")
        payload = self.docs.select("segment_id", *want)
        return (keyed.join(payload, ["segment_id", "doc_id"], "inner")
                .drop("segment_id"))

    def _empty_hits(self, hydrate: bool) -> DataFrame:
        df = self.spark.createDataFrame([], "doc_id long, score double")
        return self.hydrate(df) if hydrate else df

    def _empty_bool(self, hydrate: bool) -> DataFrame:
        df = self.spark.createDataFrame([], "doc_id long")
        return self.hydrate_join(df) if hydrate else df
