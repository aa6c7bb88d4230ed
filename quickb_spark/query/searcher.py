"""Serving-path BM25: a Searcher bound to one index, fixed costs cached.

`bm25_topk_segments` is self-contained and re-pays per call: a directory
listing for the segment scan, a Spark job to tokenize+collect query terms,
a job to sum candidate df for the auto range split, and a postings-metadata
groupBy for the global per-term df. Those fixed costs don't shrink with
more executors, which is exactly why round 2's query batches scaled
NEGATIVELY from N to 4N workers.

The Searcher removes all of them from the per-batch path:

- segment + lexicon DataFrames are created lazily, on first use, and
  then kept (Spark caches the file listing inside the DataFrame's
  InMemoryFileIndex). Only the channel fallback and the lazy-lexicon
  lookup read them; the direct path lists files with pyarrow, so opening
  an index runs no listing job;
- queries are tokenized DRIVER-side (the engine tokenizer is a plain regex
  — quickb_spark.functions.tokenize.tokenize_py — and a query is a short
  string; no Spark job to discover the term set);
- term -> bucket pruning literals use the pure-Python xxhash64 mirror
  (functions/hashing.py, bit-identical to F.xxhash64 — tested);
- global per-term df comes from the build-time lexicon (segments.py phase
  3). At `preload()` (index open) the whole lexicon loads DRIVER-side into
  two sorted NumPy arrays when it fits QKB_LEX_DRIVER_MB (default 1024 —
  a (term_h, df) pair is 16 bytes, so the default holds ~67M terms; the
  4M-doc fixture's vocabulary is ~3 orders of magnitude under that), the
  same way Lucene loads the term dictionary at reader open: a df lookup
  is then a searchsorted probe, and NO Spark job exists on the serving
  path at all (the round-4 pools measured the fresh-server lexicon-scan
  job costing 1.5-17s at 4N depending on which executor JVMs the tiny
  scan landed on — a fixed cost no parallelism can shrink). Indexes
  whose lexicon exceeds the cap (or a Searcher that never preloads) fall
  back to the bucket-pruned Spark lookup, cached per term with negative
  caching — a serving workload's repeated terms never touch storage
  twice;
- the auto range split is computed from those cached dfs.

Per batch the remaining Spark work is ONE job, and by default it is the
DIRECT one (query/serve_direct.py): R range tasks read the candidate
segment rows themselves with pyarrow and return only top-k tuples — no
stream bytes on the JVM<->Python Arrow channel, no shuffle, no window job
(the channel was the measured reason round-3 query batches scaled at half
the build's rate). The channel path (pruned scan ⋈ broadcast (query, term)
relation → JVM range slicing → applyInPandas scorer → top-k window)
remains as the automatic fallback for FS schemes pyarrow cannot reach and
as the A/B control (QKB_SERVE_CHANNEL=1). Both paths score through the
same kernels and return identical results, also identical to
bm25_topk_segments (asserted in tests/test_searcher.py).

Phrase mode (`topk(..., phrase=True)`): exact-phrase retrieval — BM25
scores unchanged, result set restricted to docs whose token stream
contains the query terms consecutively; candidate postings are verified by
block-sliced position decode (format v5 block_pos_off). Direct path only.

Staleness: the Searcher snapshots one index state. After a rebuild or a
delta fold, call `refresh()` (or construct a new Searcher) — cached file
listings and dfs would otherwise serve the old segment files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quickb_spark.config import BM25_B, BM25_K1
from quickb_spark.functions.hashing import bucket_of, xxhash64
from quickb_spark.functions.tokenize import tokenize_py
from quickb_spark.index.segments import load_stats
from quickb_spark.query.wand import _auto_ranges, _score_segments

__all__ = ["Searcher"]

#: Bound on the term->df negative/positive cache: serving processes are
#: long-lived and open-vocabulary query streams would otherwise grow the
#: dict without limit. Simple FIFO eviction — a serving workload's hot
#: terms re-enter the cache on first miss.
_DF_CACHE_MAX = 262_144


class Searcher:
    """BM25 top-k serving against one built index directory."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        k1: float = BM25_K1,
        b: float = BM25_B,
    ) -> None:
        self.spark = spark
        self.index_dir = index_dir
        self.k1 = k1
        self.b = b
        self.refresh()

    def refresh(self) -> None:
        """Re-snapshot the index (after a rebuild/fold): stats, segment and
        lexicon file listings, and the df cache are all dropped."""
        self.stats = load_stats(self.index_dir)
        self.n_buckets = int(self.stats["term_buckets"])
        self._seg: DataFrame | None = None
        self._lex: DataFrame | None = None
        #: term -> global df; 0 for terms proven absent (negative caching —
        #: absent terms are the common case for open-vocabulary queries and
        #: must not re-probe storage per batch)
        self._df_cache: dict[str, int] = {}
        #: bucket -> candidate segment file paths (direct serving path);
        #: None means the direct path is unavailable for this index's FS
        self._seg_files: dict[int, list[str]] | None = {}
        #: driver-resident term dictionary: (term_h sorted int64, df int64)
        #: arrays, loaded by load_lexicon()/preload(); None = lazy Spark path
        self._lex_mem: tuple | None = None

    @property
    def seg(self) -> DataFrame:
        """Segment rows as a DataFrame (channel fallback), read on first use."""
        if self._seg is None:
            self._seg = self.spark.read.parquet(f"{self.index_dir}/segments")
        return self._seg

    @property
    def lex(self) -> DataFrame:
        """Lexicon rows as a DataFrame (lazy df lookup), read on first use."""
        if self._lex is None:
            self._lex = self.spark.read.parquet(f"{self.index_dir}/lexicon")
        return self._lex

    def _files_for(self, buckets: list[int]) -> list[str] | None:
        """Cached candidate segment files for the buckets; None when the
        index FS is not reachable from Python (channel fallback)."""
        if self._seg_files is None:
            return None
        missing = [b for b in buckets if b not in self._seg_files]
        if missing:
            try:
                from quickb_spark.index.p2_direct import list_bucket_files

                listed = list_bucket_files(
                    f"{self.index_dir}/segments", missing
                )
            except Exception:
                self._seg_files = None
                return None
            by_b: dict[int, list[str]] = {b: [] for b in missing}
            for b, p, _sz in listed:
                by_b[b].append(p)
            self._seg_files.update(by_b)
        return [p for b in buckets for p in self._seg_files[b]]

    def load_lexicon(self, max_mb: int | None = None) -> bool:
        """Load the whole (term_h, df) lexicon driver-side as two sorted
        NumPy arrays — the term dictionary a search server holds in memory
        from reader open. A df lookup becomes a searchsorted probe and the
        serving path runs ZERO Spark jobs besides the one scoring job.

        Skipped (returns False) when the lexicon's on-disk parquet exceeds
        `max_mb` (default QKB_LEX_DRIVER_MB, 1024 — decoded pairs are 16
        bytes/term, so the parquet cap keeps the driver arrays well under
        ~2 GB even at ~100M terms) or the FS is not pyarrow-reachable; the
        bucket-pruned Spark lookup then remains the lazy path."""
        import numpy as np

        if max_mb is None:
            max_mb = int(os.environ.get("QKB_LEX_DRIVER_MB", "1024"))
        try:
            from quickb_spark.index.p2_direct import (
                list_bucket_files,
                pyarrow_fs_for,
            )

            lex_dir = f"{self.index_dir}/lexicon"
            listed = list_bucket_files(lex_dir, list(range(self.n_buckets)))
            if not listed or sum(sz for _, _, sz in listed) > max_mb << 20:
                return False
            import pyarrow.parquet as pq

            fsys, _ = pyarrow_fs_for(lex_dir)
            th_parts, df_parts = [], []
            for _b, path, _sz in listed:
                t = pq.read_table(
                    path, columns=["term_h", "df"], filesystem=fsys
                )
                th_parts.append(
                    t.column("term_h").to_numpy(zero_copy_only=False)
                )
                df_parts.append(t.column("df").to_numpy(zero_copy_only=False))
        except Exception:
            return False
        th = np.concatenate(th_parts).astype(np.int64, copy=False)
        df = np.concatenate(df_parts).astype(np.int64, copy=False)
        order = np.argsort(th, kind="stable")
        self._lex_mem = (th[order], df[order])
        return True

    def preload(self, phrase: bool = False,
                pretouch_mb: int | None = None) -> int:
        """Index-open for serving: load every segment file's decoded table
        into the executor workers' caches (best-effort, one task per slot
        x2 rounds) so the first query batch pays no cold segment reads —
        the same warm-open any search server does before taking traffic.
        Opt-in: sparse workloads may prefer lazy loading. Returns the
        per-worker decoded byte count (0 when the FS is not reachable from
        Python — the channel fallback has no worker cache to warm).
        pretouch_mb additionally pre-grows each worker's malloc arena (see
        serve_direct.preload_files; default QKB_SERVE_PRETOUCH_MB).
        Also loads the term dictionary driver-side (load_lexicon) so no
        per-batch Spark lookup job remains."""
        if self._lex_mem is None:
            self.load_lexicon()
        files = self._files_for(list(range(self.n_buckets)))
        if not files:
            return 0
        from quickb_spark.query.serve_direct import preload_files

        return preload_files(self.spark, files, want_pos=phrase,
                             pretouch_mb=pretouch_mb)

    def _lookup_dfs(self, terms: list[str]) -> dict[str, int]:
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            # v4 lexicon is keyed by term_h; hash with the bit-identical
            # driver-side mirror, then map back to the query's strings
            mh = {xxhash64(t): t for t in missing}
            if self._lex_mem is not None:
                import numpy as np

                th_arr, df_arr = self._lex_mem
                probe = np.fromiter(mh, dtype=np.int64, count=len(mh))
                pos = np.searchsorted(th_arr, probe)
                ok = (pos < len(th_arr)) & (th_arr[np.minimum(
                    pos, len(th_arr) - 1)] == probe)
                found = {
                    mh[int(h)]: int(df_arr[int(p)])
                    for h, p, o in zip(probe, pos, ok) if o
                }
            else:
                buckets = sorted(
                    {bucket_of(t, self.n_buckets) for t in missing}
                )
                rows = (
                    self.lex.filter(F.col("bucket").isin(buckets))
                    .filter(F.col("term_h").isin(list(mh)))
                    .select("term_h", "df")
                    .collect()
                )
                found = {mh[int(r["term_h"])]: int(r["df"]) for r in rows}
            if len(self._df_cache) + len(missing) > _DF_CACHE_MAX:
                drop = len(self._df_cache) + len(missing) - _DF_CACHE_MAX
                for key in list(self._df_cache)[:drop]:
                    del self._df_cache[key]
            for t in missing:
                self._df_cache[t] = found.get(t, 0)
        return {t: self._df_cache[t] for t in terms}

    def topk(
        self,
        queries: list[tuple[str, str]] | DataFrame,
        k: int = 10,
        strategy: str = "auto",
        ranges: int | str = "auto",
        phrase: bool = False,
        match_all: bool = False,
        slop: int = 0,
    ) -> DataFrame:
        """(query_id, rank, doc_id, score); queries as (query_id, text)
        pairs (preferred for serving — driver-side tokenize, zero extra
        jobs) or a (query_id, query_text) DataFrame (collected: a query
        batch is small by definition).

        phrase=True: phrase retrieval — each query's tokens must occur in
        a doc IN ORDER with successive-token position gaps <= slop + 1
        (slop=0, the default: exact consecutive phrase; slop=N: "these
        terms in order within N extra tokens" — the code-search follow-up
        to exact phrase). Scores are the unchanged BM25 sums, ranked
        identically. Requires an index built with store_positions and a
        pyarrow-reachable FS (the direct serving path position-verifies
        candidates block by block).

        match_all=True: conjunctive (AND-mode) retrieval — only docs
        containing EVERY query term are returned; scores and ranking are
        the unchanged BM25 sums (gate analog: t6_bm25_conjunctive).
        Works on BOTH serving paths (AND-mode needs no positions); phrase
        already implies all-terms containment, so combining the two is
        rejected."""
        if phrase and match_all:
            raise ValueError(
                "phrase=True already requires every term (in order); "
                "pass only one of phrase/match_all"
            )
        if slop and not phrase:
            raise ValueError("slop only applies to phrase=True queries")
        if slop < 0:
            raise ValueError("slop must be >= 0")
        if isinstance(queries, DataFrame):
            queries = [
                (r["query_id"], r["query_text"]) for r in queries.collect()
            ]
        toks_by_q = {
            qid: tokenize_py(text or "") for qid, text in queries
        }
        qt_pairs = sorted(
            {(qid, t) for qid, toks in toks_by_q.items() for t in toks}
        )
        terms = sorted({t for _, t in qt_pairs})
        dfs = self._lookup_dfs(terms)
        live = [t for t in terms if dfs[t] > 0]
        empty = self.spark.createDataFrame(
            [], "query_id string, rank int, doc_id long, score double"
        )
        if not live:
            return empty
        th = {t: xxhash64(t) for t in live}
        buckets = sorted({bucket_of(t, self.n_buckets) for t in live})
        if ranges == "auto":
            r_count = _auto_ranges(
                sum(dfs[t] for t in live),
                self.spark.sparkContext.defaultParallelism,
            )
        else:
            r_count = int(ranges)
        qt_pairs_h = [(q, th[t]) for q, t in qt_pairs if t in th]
        dfs_h = {th[t]: dfs[t] for t in live}

        phrase_seqs = None
        if phrase:
            if not self.stats.get("store_positions", True):
                raise ValueError(
                    "phrase queries need an index built with "
                    "store_positions=True"
                )
            # a query whose tokens aren't all live can't match anywhere
            phrase_seqs = {
                qid: [th[t] for t in toks]
                for qid, toks in toks_by_q.items()
                if toks and all(dfs.get(t, 0) > 0 for t in toks)
            }
            if not phrase_seqs:
                return empty

        conj_seqs = None
        if match_all:
            # a query any of whose tokens is corpus-absent can't match
            conj_seqs = {
                qid: [th[t] for t in toks]
                for qid, toks in toks_by_q.items()
                if toks and all(dfs.get(t, 0) > 0 for t in toks)
            }
            if not conj_seqs:
                return empty

        files = (
            None
            if os.environ.get("QKB_SERVE_CHANNEL") == "1"
            else self._files_for(buckets)
        )
        if files is not None:
            from quickb_spark.query.serve_direct import serve_topk_direct

            return serve_topk_direct(
                self.spark, files, qt_pairs_h, dfs_h, self.stats, k,
                self.k1, self.b, strategy, r_count,
                phrase_seqs=phrase_seqs, conj_seqs=conj_seqs, slop=slop,
            )
        if phrase:
            raise ValueError(
                "phrase queries require the direct serving path "
                "(pyarrow-reachable index FS, QKB_SERVE_CHANNEL unset) — "
                "position verification reads the v5 block slices directly"
            )
        # match_all needs no positions, so unlike phrase it is expressible
        # on the channel scorer too: HDFS-only deployments keep AND-mode
        # (same _conj_topk kernel both paths — identity tested)
        seg = self.seg.filter(F.col("bucket").isin(buckets)).filter(
            F.col("term_h").isin(list(th.values()))
        )
        return _score_segments(
            self.spark, seg, qt_pairs_h, dfs_h, self.stats, k,
            self.k1, self.b, strategy, r_count, conj_seqs=conj_seqs,
        )
