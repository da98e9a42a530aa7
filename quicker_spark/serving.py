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
term-sorted file statistics, i.e. exactly the reads the Spark plan
performs, minus the scheduler — and scores with the SAME
``_score_segment_rows`` numpy kernels the executor kernels run, via the
SAME ``resolve_search_spec`` strategy resolution. Every result is
therefore rank- AND score-identical to ``SearchEngine.search``
(tests/test_local_serving.py asserts bitwise equality across modes,
boosts, paging cursors, excludes, and quorums; the ``bm25_local_top10``
driver query certifies it against the DuckDB oracle).

Hot terms stay resident in the form the kernels consume (``df_global``
+ per-segment ``EncodedPostings`` + decoded runs, LRU-bounded by
``max_terms``), so a warm query builds no DataFrame and serves at
kernel speed — the resident-index property the reference's workers have
by construction. Segments score in the calling thread: the GIL
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
    _row_to_encoded,
    _score_segment_rows,
    full_match_terms,
    resolve_search_spec,
)
from quicker_spark.functions.buckets import term_bucket
from quicker_spark.plans.term_query import TermQuery


class StaleIndexError(RuntimeError):
    """The index was mutated (stats.json changed) after this searcher
    opened it; re-open a fresh LocalSearcher on the new generation."""


class LocalSearcher:
    """Serve BM25 top-k point queries from an index directory built by
    :func:`quicker_spark.operators.build.build_index` — no SparkSession,
    no Spark job; pyarrow pruned reads + the engine's numpy kernels.

    ``max_terms`` bounds the resident cache (LRU over terms; a term's
    residency = its df_global + per-segment encoded and decoded runs).

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
        self._post_ds = pads.dataset(
            os.path.join(index_dir, "postings"), partitioning="hive")
        self._ts_ds = pads.dataset(os.path.join(index_dir, "term_stats"))
        self._docs_ds = pads.dataset(
            os.path.join(index_dir, "docs"), partitioning="hive")
        self._n_buckets = int(self.stats.get("term_buckets") or 0)
        self._has_bucket = ("bucket" in self._post_ds.schema.names
                            and self._n_buckets > 1)
        self.max_terms = int(max_terms)
        self._block_size = int(self.stats["block_size"])
        # resident state, LRU over terms: term -> (df_global,
        # {segment: EncodedPostings}, {segment: decoded run}); the
        # decoded dict only grows, and dies with its term's entry
        self._rows: OrderedDict[str, tuple] = OrderedDict()
        # positional-sidecar residency (phrase serving): term ->
        # {segment: decoded sidecar run}, LRU-bounded by the same cap
        self._pos_ds = None                   # opened lazily (optional)
        self._pos_runs: OrderedDict[str, dict] = OrderedDict()
        # guards every mutation of _rows, _pos_runs and the decoded dicts
        self._lock = threading.Lock()

    # -- residency ----------------------------------------------------------
    def _check_fresh(self) -> None:
        try:
            m = os.path.getmtime(self._stats_path)
        except FileNotFoundError:
            raise StaleIndexError(f"index gone: {self.index_dir}")
        if m != self._stats_mtime:
            raise StaleIndexError(
                "index mutated since open (stats.json changed); "
                "re-open a LocalSearcher on the new generation")

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

    def _pruned_filter(self, ds, missing: list[str]):
        """term IN missing, plus the bucket-directory pruning the Spark
        plan gets from _bucket_filter (v5 layout)."""
        import pyarrow.compute as pc

        filt = pc.field("term").isin(missing)
        if self._has_bucket and "bucket" in ds.schema.names:
            bks = sorted({term_bucket(t, self._n_buckets) for t in missing})
            filt = pc.field("bucket").isin(bks) & filt
        return filt

    def _ensure_terms(self, terms: set[str]) -> dict[str, tuple]:
        """{term: resident entry} for ``terms``; absent terms negative-
        cache an empty entry so repeats never re-read."""
        return self._resident(self._rows, terms, self._load_terms)

    def _load_terms(self, missing: list[str]) -> dict[str, tuple]:
        import pyarrow.compute as pc

        rows = self._post_ds.to_table(
            filter=self._pruned_filter(self._post_ds, missing))
        ts = self._ts_ds.to_table(
            filter=pc.field("term").isin(missing),
            columns=["term", "df_global"]).to_pydict()
        # engine: left join + fillna(0) — absent terms score df 0
        dfg = dict(zip(ts["term"], ts["df_global"]))
        fresh = {t: (int(dfg.get(t, 0)), {}, {}) for t in missing}
        for r in rows.to_pylist():
            fresh[r["term"]][1][int(r["segment_id"])] = _row_to_encoded(
                r, self._block_size)
        return fresh

    def _gather(self, scan_terms: set[str]) -> dict[int, tuple]:
        """Assemble the kernel inputs per segment: ({term: (df_global,
        EncodedPostings)}, {term: resident decoded run}) over the
        scan_terms present there — the same rows the Spark path's pruned
        scan + term-stats join produces, without building a frame."""
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
        from quicker_spark.operators.positions import positions_meta

        meta = positions_meta(self.index_dir)
        if meta is None:
            raise ValueError(
                "phrase queries need the positional sidecar; run "
                "operators.positions.build_positions(spark, index_dir) "
                "first")
        for f in fields:
            if f not in meta["fields"]:
                raise ValueError(
                    f"field {f!r} has no positions (sidecar covers "
                    f"{meta['fields']})")
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
                filter=self._pruned_filter(self._pos_ds, missing)
        ).to_pylist():
            fresh[r["term"]][int(r["segment_id"])] = decode_positions_row(
                r["ids"], r["tfs"], r["dls"], r["bits"], r["pos"])
        return fresh

    def _phrase_extra_ids(self, phrases: tuple, segments,
                          on: int, off: int,
                          or_flags: tuple) -> dict[int, dict]:
        """Per-segment pseudo-leaf candidate arrays: fold each phrase's
        adjacency match set from the sidecar rows — the same
        phrase_match_docs kernel the Spark path runs per segment."""
        from quicker_spark.engine import PhraseSpec
        from quicker_spark.functions.phrase import phrase_match_docs

        specs = tuple(PhraseSpec(*p) for p in phrases)
        self._positions_dataset({p.field for p in specs})
        decoded = self._gather_positions(
            {k for p in specs for k in p.term_keys})
        by_seg: dict[int, dict] = {}
        for seg in segments:
            dec = decoded.get(seg, {})
            extra = {}
            for p in specs:
                if set(p.term_keys) <= set(dec):
                    extra[p.key] = phrase_match_docs(
                        list(p.term_keys), dec, gap=p.gap,
                        on=on, off=off, or_flags=or_flags)
                else:
                    extra[p.key] = np.empty(0, dtype=np.int64)
            by_seg[seg] = extra
        return by_seg

    # -- term-dictionary expansion (the query-string compiler's needs) ------
    def _dict_slice(self, pref: str) -> pd.DataFrame:
        """(term, df_global) rows for the ``pref`` string range — a
        pushed-down range filter over the term-sorted stats files (the
        pyarrow analog of the engine's StartsWith dictionary slice;
        '\\x80' upper-bounds every [a-z0-9_\\x01] vocabulary byte)."""
        import pyarrow.compute as pc

        filt = (pc.field("term") >= pref) & (pc.field("term")
                                             < pref + "\x80")
        return self._ts_ds.to_table(
            filter=filt, columns=["term", "df_global"]).to_pandas()

    def expand_prefix(self, field: str, prefix: str,
                      max_expansions: int = 64) -> list[str]:
        """Same contract + ordering as :meth:`SearchEngine.expand_prefix`
        (df desc, term asc, top N), served from the local stats files."""
        sl = self._dict_slice(f"{field}\x01{prefix}")
        sl = sl.sort_values(["df_global", "term"],
                            ascending=[False, True],
                            kind="mergesort")
        return sl["term"].head(int(max_expansions)).tolist()

    def expand_regexp(self, field: str, pattern: str,
                      max_expansions: int = 64) -> list[str]:
        """Same contract as :meth:`SearchEngine.expand_regexp`: any
        literal prefix of the pattern anchors the dictionary slice, then
        the WHOLE word must match. Vocabulary terms are [a-z0-9_]+ and
        the supported pattern alphabet is shared by Java and Python
        regex, so the expansion set equals the Spark path's."""
        import re as _re

        from quicker_spark.engine import SearchEngine

        lit = []
        for ch in pattern:
            if ch in SearchEngine._REGEX_META:
                break
            lit.append(ch)
        sl = self._dict_slice(f"{field}\x01" + "".join(lit))
        if not len(sl):
            return []
        words = sl["term"].str[len(field) + 1:]
        rx = _re.compile(f"^(?:{pattern})$")
        sl = sl[words.map(lambda w: rx.fullmatch(w) is not None)]
        sl = sl.sort_values(["df_global", "term"],
                            ascending=[False, True], kind="mergesort")
        return sl["term"].head(int(max_expansions)).tolist()

    def expand_fuzzy(self, field: str, word: str, max_edits: int = 1,
                     prefix_len: int = 1,
                     max_expansions: int = 64) -> list[str]:
        """Same contract + (distance asc, df desc, term asc) ordering as
        :meth:`SearchEngine.expand_fuzzy`."""
        if max_edits < 0:
            raise ValueError("max_edits must be >= 0")
        word = str(word).lower()
        pref = f"{field}\x01{word[:prefix_len]}" if prefix_len \
            else f"{field}\x01"
        sl = self._dict_slice(pref)
        if not len(sl):
            return []
        words = sl["term"].str[len(field) + 1:]
        sl = sl[(words.str.len() - len(word)).abs() <= int(max_edits)]
        if not len(sl):
            return []
        dist = sl["term"].str[len(field) + 1:].map(
            lambda t: _levenshtein(t, word))
        sl = sl.assign(_d=dist)
        sl = sl[sl["_d"] <= int(max_edits)]
        sl = sl.sort_values(["_d", "df_global", "term"],
                            ascending=[True, False, True],
                            kind="mergesort")
        return sl["term"].head(int(max_expansions)).tolist()

    def suggest(self, field: str, word: str, max_edits: int = 2,
                prefix_len: int = 1, n: int = 5) -> pd.DataFrame:
        """Spell suggestion from the local term-stats files — same
        contract, exclusions, and (distance asc, df desc, word asc)
        ranking as :meth:`SearchEngine.suggest`; returns pandas
        (word, distance, df)."""
        if max_edits < 0:
            raise ValueError("max_edits must be >= 0")
        word = str(word).lower()
        pref = f"{field}\x01{word[:prefix_len]}" if prefix_len \
            else f"{field}\x01"
        sl = self._dict_slice(pref)
        empty = pd.DataFrame({"word": pd.Series(dtype=object),
                              "distance": pd.Series(dtype=np.int64),
                              "df": pd.Series(dtype=np.int64)})
        if not len(sl):
            return empty
        words = sl["term"].str[len(field) + 1:]
        sl = sl.assign(word=words)
        sl = sl[(sl["word"].str.len() - len(word)).abs()
                <= int(max_edits)]
        if not len(sl):
            return empty
        sl = sl.assign(distance=sl["word"].map(
            lambda t: _levenshtein(t, word)))
        sl = sl[(sl["distance"] <= int(max_edits))
                & (sl["word"] != word)]
        sl = sl.sort_values(["distance", "df_global", "word"],
                            ascending=[True, False, True],
                            kind="mergesort").head(int(n))
        return pd.DataFrame({
            "word": sl["word"].to_numpy(dtype=object),
            "distance": sl["distance"].to_numpy(dtype=np.int64),
            "df": sl["df_global"].to_numpy(dtype=np.int64)})

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
        return self._score_segments(q, spec, k, on, off, tuple(or_flags),
                                    boosts)

    def _scored_matches(self, q: TermQuery, on: int = 0, off: int = 0,
                        or_flags: tuple = ()) -> pd.DataFrame:
        """EVERY boolean match of ``q`` BM25-scored — same contract and
        errors as :meth:`SearchEngine._scored_matches`: the TAAT kernel
        keeping n_docs per segment, so nothing is dropped."""
        terms, neg = full_match_terms(q)
        if not terms:
            return _empty_hits()
        spec = SearchSpec(sorted(terms - neg), "taat", 0, frozenset(neg),
                          None, None, False)
        return self._score_segments(q, spec, int(self.stats["n_docs"]),
                                    on, off, or_flags)

    def _score_segments(self, q: TermQuery, spec: SearchSpec, k: int,
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
        query = json.loads(q.to_json())
        exclude = json.loads(spec.exclude_json) if spec.exclude_json else None
        demote = json.loads(spec.demote_json) if spec.demote_json else None
        st = self.stats
        parts = [_score_segment_rows(
            post, query, spec.strategy, len(spec.terms), int(st["n_docs"]),
            float(st["avgdl"]), k, on, off, or_flags, float(st["k1"]),
            float(st["b"]), dec_cache=memo, boosts=boosts, after=spec.after,
            exclude=exclude, exclude_only=spec.neg_terms, min_match=spec.msm,
            extra_leaf_ids=extra_by_seg.get(seg), demote=demote,
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
        as :meth:`SearchEngine.search_phrase` (tested rank-identical).
        Per segment: decode the phrase terms' sidecar rows, fold the
        adjacency match set, score with the shared
        ``score_segment_phrase`` kernel; global merge is the same
        (score desc, doc_id asc) total order."""
        from quicker_spark.functions.phrase import score_segment_phrase
        from quicker_spark.model import bm25_idf

        self._check_fresh()
        self._positions_dataset({field})
        words = [str(w).lower() for w in words if str(w)]
        if not words:
            return _empty_hits()
        terms = [f"{field}\x01{w}" for w in words]
        need = set(terms)
        decoded = self._gather_positions(need)
        # engine parity: term stats left-join + fillna(0)
        import pyarrow.compute as pc
        ts = self._ts_ds.to_table(
            filter=pc.field("term").isin(sorted(need)),
            columns=["term", "df_global"]).to_pandas()
        dfg = dict(zip(ts["term"], ts["df_global"].astype(np.int64)))
        idf = {t: bm25_idf(int(self.stats["n_docs"]), int(dfg.get(t, 0)))
               for t in need}
        parts = []
        for seg in sorted(decoded):
            dec = decoded[seg]
            if need <= set(dec):
                parts.append(score_segment_phrase(
                    terms, dec, idf, float(self.stats["avgdl"]), k,
                    on, off, tuple(or_flags),
                    float(self.stats["k1"]), float(self.stats["b"]),
                    gap=int(gap)))
        if not parts:
            return _empty_hits()
        return _top_k(np.concatenate([p[0] for p in parts]),
                      np.concatenate([p[1] for p in parts]), k)

    def search_many(self, queries: dict[str, TermQuery], k: int = 10,
                    **kwargs) -> pd.DataFrame:
        """Batch point serving -> (qid, doc_id, score) ordered (qid asc,
        score desc, doc_id asc). Unlike the Spark ``search_many`` (whose
        win is amortizing ONE scan+job over the batch), the local batch
        is just a loop — the resident cache already amortizes the reads;
        per-query kwargs follow :meth:`SearchEngine.search_many`'s
        ``flags``/``boosts``/``after``/``excludes``/``min_should_match``
        maps."""
        flags = kwargs.get("flags") or {}
        boosts = kwargs.get("boosts") or {}
        after = kwargs.get("after") or {}
        excludes = kwargs.get("excludes") or {}
        msm = kwargs.get("min_should_match") or {}
        on, off = int(kwargs.get("on", 0)), int(kwargs.get("off", 0))
        orf = tuple(kwargs.get("or_flags", ()))
        frames = []
        for qid in sorted(queries, key=str):
            q_on, q_off, q_orf = flags.get(qid, (on, off, orf))
            hits = self.search(
                queries[qid], k=k, on=q_on, off=q_off, or_flags=q_orf,
                boosts=boosts.get(qid), after=after.get(qid),
                exclude=excludes.get(qid),
                min_should_match=int(msm.get(qid, 0)))
            if len(hits):
                hits.insert(0, "qid", str(qid))
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


def _levenshtein(a: str, b: str) -> int:
    """Plain edit distance — same metric as Spark's `levenshtein`
    (substitution cost 1, no transpositions)."""
    if a == b:
        return 0
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _top_k(ids: np.ndarray, scores: np.ndarray, k: int) -> pd.DataFrame:
    """Global merge = orderBy(score desc, doc_id asc).limit(k)."""
    order = np.lexsort((ids, -scores))[:k]
    return pd.DataFrame({"doc_id": ids[order].astype(np.int64),
                         "score": scores[order]})


def _empty_hits() -> pd.DataFrame:
    return pd.DataFrame({"doc_id": pd.Series([], dtype=np.int64),
                         "score": pd.Series([], dtype=np.float64)})
