"""Resident single-node serving tier: BM25 top-k without a Spark job.

The reference serves queries from worker processes that keep their index
shard RESIDENT in process memory (``index_service/sentinel.go:137-187``
scatter-gathers RPCs over workers; each worker answers from its in-memory
reverse index, ``index_service/worker.go``). The Spark engine's
:meth:`SearchEngine.search` is the cluster scatter-gather analog, but a
solo call pays one Spark job of scheduler latency (~0.3-0.5 s) no matter
how few bytes the pruned scan touches — the right cost model for
analytics and batch serving (``search_many``), the wrong one for a
point-query serving tier.

:class:`LocalSearcher` is that serving tier. It reads the SAME on-disk
index through pyarrow's dataset API — partition-pruned to the query
terms' ``bucket=`` directories (v5 layout), row-group-pruned by the
term-sorted file statistics, i.e. the reads each Spark segment task
performs, minus the scheduler — and scores with the SAME
``_score_segment_rows`` numpy kernels the executor kernels run, via the
SAME ``resolve_search_spec`` strategy resolution. Every result is
therefore rank- AND score-identical to ``SearchEngine.search``
(tests/test_local_serving.py asserts bitwise equality across modes,
boosts, paging cursors, excludes, and quorums; the ``bm25_local_top10``
driver query certifies it against the DuckDB oracle).

Hot terms stay resident in the form the kernels consume (``df_global``
+ per-segment ``EncodedPostings`` + decoded runs carrying their BM25
tf-part ``u`` at the searcher's fixed avgdl, LRU-bounded by
``max_terms``), so a warm query builds no DataFrame, recomputes no
``u`` and serves at kernel speed — the resident-index property the
reference's workers have by construction. Segments score in the calling thread: the GIL
serializes the Python between numpy calls, so a per-query thread pool
only adds overhead. Many threads may share one searcher: residency is
mutated under one lock, scoring runs outside it on per-call snapshots.

Scale story: nothing here is driver-specific. At the 10^12-doc design
point this class IS the per-shard serving worker — one long-lived
process per index shard (a shard = a subtree of segment directories),
its hot postings resident, behind any RPC fabric; the scatter-gather on
top is the reference's sentinel shape. The same bytes stay queryable by
the Spark path for analytics — one index, two latency tiers.

Staleness: maintenance (upsert/delete/force_merge) rewrites
``stats.json``; the searcher records its mtime at open and raises
:class:`StaleIndexError` when it changes, mirroring the reference's
index-reload-then-reopen discipline.
"""

from __future__ import annotations

import json
import os
import threading
from collections import OrderedDict

import numpy as np
import pandas as pd

from quicker_spark.engine import (
    SearchSpec,
    TermDictionary,
    _row_to_encoded,
    _score_segment_rows,
    batch_entries,
    check_fresh,
    full_match_spec,
    phrase_leaf_ids,
    phrase_query,
    read_df_global,
    resolve_search_spec,
)
from quicker_spark.engine import StaleIndexError  # noqa: F401 (re-export)
from quicker_spark.functions.buckets import term_bucket
from quicker_spark.operators.build import IndexConfig
from quicker_spark.operators.positions import require_positions
from quicker_spark.plans.term_query import TermQuery


class LocalSearcher(TermDictionary):
    """Serve BM25 top-k point queries from an index directory built by
    :func:`quicker_spark.operators.build.build_index` — no SparkSession,
    no Spark job; pyarrow pruned reads + the engine's numpy kernels.

    ``max_terms`` bounds the resident cache (LRU over terms; a term's
    residency = its df_global + per-segment encoded and decoded runs).
    The term-dictionary verbs (``expand_*``, ``suggest`` -> pandas) are
    :class:`~quicker_spark.engine.TermDictionary`'s, the one
    implementation both tiers share.

    Safe to share between threads: concurrent calls return exactly the
    sequential answers (tested), whatever the ``max_terms`` cap.
    """

    def __init__(self, index_dir: str, max_terms: int = 65536):
        import pyarrow.dataset as pads

        self.index_dir = index_dir
        self._stats_path = os.path.join(index_dir, "stats.json")
        with open(self._stats_path) as fh:
            self.stats = json.load(fh)
        self._stats_mtime = os.path.getmtime(self._stats_path)
        # refuses an index without the term-bucketed layout
        self._n_buckets = IndexConfig.from_stats(self.stats).term_buckets
        self._post_ds = pads.dataset(
            os.path.join(index_dir, "postings"), partitioning="hive")
        self._ts_ds = pads.dataset(os.path.join(index_dir, "term_stats"))
        self._docs_ds = pads.dataset(
            os.path.join(index_dir, "docs"), partitioning="hive")
        self.max_terms = int(max_terms)
        self._block_size = int(self.stats["block_size"])
        # resident state, LRU over terms: term -> (df_global,
        # {segment: EncodedPostings}, {segment: decoded run + its u});
        # the decoded dict only grows, and dies with its term's entry
        self._rows: OrderedDict[str, tuple] = OrderedDict()
        # positional-sidecar residency (phrase serving): term ->
        # {segment: decoded sidecar run}, LRU-bounded by the same cap
        self._pos_ds = None                   # opened lazily (optional)
        self._pos_runs: OrderedDict[str, dict] = OrderedDict()
        # guards every mutation of _rows, _pos_runs and the decoded dicts
        self._lock = threading.Lock()

    # -- residency ----------------------------------------------------------
    def _check_fresh(self) -> None:
        check_fresh(self.index_dir, self._stats_mtime, "LocalSearcher")

    def _resident(self, cache: OrderedDict, terms: set[str], load) -> dict:
        """LRU-resident entries of ``cache`` for ``terms``: hits move to
        the MRU end; misses come from ``load(sorted missing)`` (one
        pruned read, outside the lock). Returns a snapshot taken BEFORE
        eviction, so the current call keeps its inputs even when
        ``max_terms`` is smaller than its own term count."""
        snap = {}
        with self._lock:
            for t in terms:
                if t in cache:
                    cache.move_to_end(t)
                    snap[t] = cache[t]
        missing = sorted(terms - snap.keys())
        if missing:
            fresh = load(missing)
            with self._lock:
                for t in missing:
                    # a concurrent caller may have inserted t meanwhile:
                    # keep its entry (same bytes, maybe more runs decoded)
                    snap[t] = cache.setdefault(t, fresh[t])
                    cache.move_to_end(t)
                while len(cache) > self.max_terms:
                    cache.popitem(last=False)
        return snap

    def _pruned_filter(self, missing: list[str]):
        """term IN missing, plus the bucket-directory pruning the Spark
        tier's file selection applies (SearchEngine._segment_files)."""
        import pyarrow.compute as pc

        bks = sorted({term_bucket(t, self._n_buckets) for t in missing})
        return pc.field("bucket").isin(bks) & pc.field("term").isin(missing)

    def _ensure_terms(self, terms: set[str]) -> dict[str, tuple]:
        """{term: resident entry} for ``terms``; absent terms negative-
        cache an empty entry so repeats never re-read."""
        return self._resident(self._rows, terms, self._load_terms)

    def _load_terms(self, missing: list[str]) -> dict[str, tuple]:
        rows = self._post_ds.to_table(
            filter=self._pruned_filter(missing))
        dfg = read_df_global(self._ts_ds, missing)
        fresh = {t: (dfg[t], {}, {}) for t in missing}
        for r in rows.to_pylist():
            fresh[r["term"]][1][int(r["segment_id"])] = _row_to_encoded(
                r, self._block_size)
        return fresh

    def _gather(self, scan_terms: set[str]) -> dict[int, tuple]:
        """Assemble the kernel inputs per segment: ({term: (df_global,
        EncodedPostings)}, {term: resident decoded run}) over the
        scan_terms present there — the same rows the Spark path's pruned
        scan hands its kernels, without building a frame."""
        entries = self._ensure_terms(scan_terms)
        segs: dict[int, tuple] = {}
        for t in sorted(scan_terms):
            dfg, enc, dec = entries[t]
            for seg, e in enc.items():
                post, memo = segs.setdefault(seg, ({}, {}))
                post[t] = (dfg, e)
                if seg in dec:
                    memo[t] = dec[seg]
        return segs

    # -- positional sidecar (phrase serving) --------------------------------
    def _positions_dataset(self, fields: set[str]):
        """Open (once) and validate the positional sidecar for the
        phrase fields — same errors as the Spark path."""
        require_positions(self.index_dir, fields)
        if self._pos_ds is None:
            import pyarrow.dataset as pads
            self._pos_ds = pads.dataset(
                os.path.join(self.index_dir, "positions"),
                partitioning="hive")
        return self._pos_ds

    def _gather_positions(self, terms: set[str]) -> dict[int, dict]:
        """Decoded sidecar runs {segment: {term: run}} for the phrase
        terms — the same bucket-directory + term-IN pruned read the
        postings cache uses, LRU-resident."""
        by_seg: dict[int, dict] = {}
        for t, runs in self._resident(self._pos_runs, terms,
                                      self._load_positions).items():
            for seg, run in runs.items():
                by_seg.setdefault(seg, {})[t] = run
        return by_seg

    def _load_positions(self, missing: list[str]) -> dict[str, dict]:
        from quicker_spark.functions.phrase import decode_positions_row

        fresh: dict[str, dict] = {t: {} for t in missing}
        for r in self._pos_ds.to_table(
                filter=self._pruned_filter(missing)
        ).to_pylist():
            fresh[r["term"]][int(r["segment_id"])] = decode_positions_row(
                r["ids"], r["tfs"], r["dls"], r["bits"], r["pos"])
        return fresh

    def _phrase_extra_ids(self, phrases: tuple, segments,
                          on: int, off: int,
                          or_flags: tuple) -> dict[int, dict]:
        """Per-segment pseudo-leaf candidate arrays from the resident
        sidecar runs — :func:`phrase_leaf_ids`, as the Spark kernel
        runs it per segment."""
        self._positions_dataset({p.field for p in phrases})
        runs = self._gather_positions(
            {k for p in phrases for k in p.term_keys})
        return {seg: phrase_leaf_ids(phrases, runs.get(seg, {}), on, off,
                                     or_flags)
                for seg in segments}

    # -- serving ------------------------------------------------------------
    def search(self, q: TermQuery, k: int = 10, on: int = 0, off: int = 0,
               or_flags: tuple = (), mode: str = "auto",
               boosts: dict[str, float] | None = None,
               after: tuple[float, int] | None = None,
               exclude: TermQuery | None = None,
               min_should_match: int = 0,
               phrases: tuple = (),
               demote: TermQuery | None = None,
               demote_factor: float = 0.5) -> pd.DataFrame:
        """BM25 top-k -> pandas (doc_id, score), ordered (score desc,
        doc_id asc) — same contract, arguments, validation errors, and
        bitwise scores as :meth:`SearchEngine.search` (including
        ``phrases`` pseudo-leaf clauses, served from the local
        positional sidecar, and ``demote`` boosting-query trees)."""
        self._check_fresh()
        spec = resolve_search_spec(q, mode, boosts, after, exclude,
                                   min_should_match, phrases=phrases,
                                   demote=demote,
                                   demote_factor=demote_factor)
        if spec.empty:
            return _empty_hits()
        return self._score_segments(spec, k, on, off, tuple(or_flags),
                                    boosts)

    def _scored_matches(self, q: TermQuery, on: int = 0, off: int = 0,
                        or_flags: tuple = ()) -> pd.DataFrame:
        """EVERY boolean match of ``q`` BM25-scored — same contract and
        errors as :meth:`SearchEngine._scored_matches`: the TAAT kernel
        keeping n_docs per segment, so nothing is dropped."""
        spec = full_match_spec(q)
        if spec.empty:
            return _empty_hits()
        return self._score_segments(spec, int(self.stats["n_docs"]),
                                    on, off, tuple(or_flags))

    def _score_segments(self, spec: SearchSpec, k: int,
                        on: int, off: int, or_flags: tuple,
                        boosts: dict | None = None) -> pd.DataFrame:
        """Score every segment holding a scan term with the engine's
        shared per-segment body, in the calling thread; merge =
        orderBy(score desc, doc_id asc).limit(k)."""
        segs = self._gather(set(spec.terms) | spec.neg_terms)
        if not segs:
            return _empty_hits()
        extra_by_seg = (self._phrase_extra_ids(spec.phrases, list(segs),
                                               on, off, or_flags)
                        if spec.phrases else {})
        st = self.stats
        parts = [_score_segment_rows(
            post, spec.query, spec.strategy, len(spec.terms),
            int(st["n_docs"]), float(st["avgdl"]), k, on, off, or_flags,
            float(st["k1"]), float(st["b"]), dec_cache=memo, boosts=boosts,
            after=spec.after, exclude=spec.exclude,
            exclude_only=spec.neg_terms, min_match=spec.msm,
            extra_leaf_ids=extra_by_seg.get(seg), demote=spec.demote,
            demote_factor=spec.demote_factor)
            for seg, (post, memo) in segs.items()]
        with self._lock:
            # publish the runs this call decoded, for terms still resident
            for seg, (_, memo) in segs.items():
                for t, d in memo.items():
                    if t in self._rows:
                        self._rows[t][2].setdefault(seg, d)
        return _top_k(np.concatenate([p[0] for p in parts]),
                      np.concatenate([p[1] for p in parts]), k)

    def search_rescore(self, q: TermQuery, rescore_q: TermQuery,
                       k: int = 10, window_size: int = 50,
                       query_weight: float = 1.0,
                       rescore_weight: float = 1.0,
                       on: int = 0, off: int = 0,
                       or_flags: tuple = ()) -> pd.DataFrame:
        """Two-phase ranking (ES rescore, score_mode=total) — same
        contract, errors, and bitwise scores as
        :meth:`SearchEngine.search_rescore`: primary top-window from the
        resident postings, secondary = the rescore query's full scored
        match set (:meth:`_scored_matches`), combined
        as query_weight * primary + rescore_weight * secondary (0 where
        the rescorer doesn't match), top-k ties doc_id asc."""
        if window_size < k:
            raise ValueError(
                f"window_size ({window_size}) must be >= k ({k}) — "
                "the rescore phase only sees the window")
        win = self.search(q, k=window_size, on=on, off=off,
                          or_flags=or_flags)
        if not len(win):
            return _empty_hits()
        sec = self._scored_matches(rescore_q, on, off, tuple(or_flags))
        r = dict(zip(sec["doc_id"].to_numpy(),
                     sec["score"].to_numpy()))
        qw, rw = float(query_weight), float(rescore_weight)
        comb = np.array([qw * s + (rw * r[d] if d in r else 0.0)
                         for d, s in zip(win["doc_id"].to_numpy(),
                                         win["score"].to_numpy())],
                        dtype=np.float64)
        return _top_k(win["doc_id"].to_numpy(), comb, k)

    def search_phrase(self, words, field: str = "content", k: int = 10,
                      on: int = 0, off: int = 0, or_flags: tuple = (),
                      gap: int = 0) -> pd.DataFrame:
        """Exact-phrase / ordered-proximity BM25 top-k from the local
        positional sidecar — same contract, errors, and bitwise scores
        as :meth:`SearchEngine.search_phrase`: :meth:`search` of one
        phrase clause (:func:`phrase_query`)."""
        req = phrase_query(words, field, gap)
        if req is None:
            return _empty_hits()
        q, phrases = req
        return self.search(q, k=k, on=on, off=off, or_flags=or_flags,
                           phrases=phrases)

    def search_many(self, queries: dict[str, TermQuery], k: int = 10,
                    on: int = 0, off: int = 0, or_flags: tuple = (),
                    flags: dict[str, tuple] | None = None,
                    boosts: dict[str, dict[str, float]] | None = None,
                    after: dict[str, tuple] | None = None,
                    excludes: dict[str, TermQuery] | None = None,
                    min_should_match: dict[str, int] | None = None
                    ) -> pd.DataFrame:
        """Batch point serving -> (qid, doc_id, score) ordered (qid asc,
        score desc, doc_id asc) — same arguments (minus ``hydrate``) and
        the same request resolution (:func:`batch_entries`) as
        :meth:`SearchEngine.search_many`, so an invalid batch raises the
        same error on both tiers. Unlike the Spark batch (whose win is
        amortizing ONE scan+job over the batch), the local batch scores
        query by query — the resident cache already amortizes the
        reads."""
        self._check_fresh()
        entries = batch_entries(queries, on, off, or_flags, flags, boosts,
                                after, excludes, min_should_match)
        frames = []
        for qid, spec, q_on, q_off, q_orf, q_boosts in sorted(
                entries, key=lambda e: e[0]):
            hits = self._score_segments(spec, k, q_on, q_off, q_orf,
                                        q_boosts)
            if len(hits):
                hits.insert(0, "qid", qid)
                frames.append(hits)
        if not frames:
            return pd.DataFrame({"qid": pd.Series([], dtype=object),
                                 "doc_id": pd.Series([], dtype=np.int64),
                                 "score": pd.Series([], dtype=np.float64)})
        return pd.concat(frames, ignore_index=True)

    def lookup(self, doc_ids: list[int]) -> pd.DataFrame:
        """Forward-index batch get -> pandas rows, doc_id ascending;
        missing ids absent. Same segment-directory pruning as
        :meth:`SearchEngine.lookup` (ids' segment set -> partition
        filter, doc_id IN -> row-group pruning)."""
        import pyarrow.compute as pc

        self._check_fresh()
        ids = sorted({int(i) for i in doc_ids})
        if not ids:
            return pd.DataFrame()
        seg_docs = int(self.stats["seg_docs"])
        segs = sorted({i // seg_docs for i in ids})
        pdf = self._docs_ds.to_table(
            filter=(pc.field("segment_id").isin(segs)
                    & pc.field("doc_id").isin(ids))).to_pandas()
        return pdf.sort_values("doc_id", ignore_index=True)

    def hydrate(self, hits: pd.DataFrame,
                cols: tuple[str, ...] | None = None) -> pd.DataFrame:
        """Attach forward-index columns to a hits frame, hit order
        preserved (point-read; hits are k-row serving results)."""
        if len(hits) == 0:
            return hits
        docs = self.lookup(hits["doc_id"].tolist())
        if cols is not None:
            docs = docs[["doc_id", *[c for c in cols if c != "doc_id"]]]
        return hits.merge(docs, on="doc_id", how="left", sort=False)


def _top_k(ids: np.ndarray, scores: np.ndarray, k: int) -> pd.DataFrame:
    """Global merge = orderBy(score desc, doc_id asc).limit(k)."""
    order = np.lexsort((ids, -scores))[:k]
    return pd.DataFrame({"doc_id": ids[order].astype(np.int64),
                         "score": scores[order]})


def _empty_hits() -> pd.DataFrame:
    return pd.DataFrame({"doc_id": pd.Series([], dtype=np.int64),
                         "score": pd.Series([], dtype=np.float64)})
