"""Serving-path BM25: a Searcher bound to one index, fixed costs cached.

Every BM25 query is served the same way: the driver plans (tokenize, df
lookup, bucket listing, range split) and the docID-range task scores the
batch (query/serve_direct.py): in the driver for a small auto-ranged plan
(no Spark job), else in ONE Spark job of range tasks. The result is a
local `TopK` list of rows, so reading it runs no further job. A fresh
Searcher per call is the one-shot form (`wand.bm25_topk_segments`); the
streaming tier adds its delta postings to the same plan
(`streaming.query_with_deltas`).

A long-lived Searcher keeps the per-batch path free of fixed costs:

- queries are tokenized DRIVER-side (the engine tokenizer is a plain regex
  — quickb_spark.functions.tokenize.tokenize_py — and a query is a short
  string; no Spark job to discover the term set);
- term -> bucket pruning literals use the pure-Python xxhash64 mirror
  (functions/hashing.py, bit-identical to F.xxhash64 — tested);
- candidate segment files are listed with pyarrow per bucket and cached,
  so opening an index runs no listing job. An index whose filesystem
  pyarrow cannot list raises `UnreachableIndexError` naming its URI;
- global per-term df comes from the build-time lexicon (segments.py phase
  3). At `preload()` (index open) the whole lexicon loads DRIVER-side into
  two sorted NumPy arrays when it fits min(1 GiB, RAM/16) of parquet
  (a (term_h, df) pair is 16 bytes, so 1 GiB holds ~67M terms; the
  4M-doc fixture's vocabulary is ~3 orders of magnitude under that), the
  same way Lucene loads the term dictionary at reader open: a df lookup
  is then a searchsorted probe, and NO Spark job exists on the serving
  path besides the range job, if any (the round-4 pools measured the
  fresh-server lexicon-scan job costing 1.5-17s at 4N depending on which
  executor JVMs the tiny scan landed on — a fixed cost no parallelism can
  shrink). Indexes whose lexicon exceeds the cap (or a Searcher that
  never preloads) read only the missing terms' rows from their buckets'
  lexicon files with pyarrow — no Spark job either — cached per term with
  negative caching, so a serving workload's repeated terms never touch
  storage twice;
- the auto range split is computed from those cached dfs.

Phrase mode (`topk(..., phrase=True)`): exact-phrase retrieval — BM25
scores unchanged, result set restricted to docs whose token stream
contains the query terms consecutively; candidate postings are verified by
block-sliced position decode (format v5 block_pos_off).

Staleness: the Searcher snapshots one index state. After a rebuild or a
delta fold, call `refresh()` (or construct a new Searcher) — cached file
listings and dfs would otherwise serve the old segment files.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from quickb_spark.config import BM25_B, BM25_K1
from quickb_spark.fs import (
    UnreachableIndexError,
    list_bucket_files,
    pyarrow_fs_for,
)
from quickb_spark.functions.hashing import bucket_of, xxhash64
from quickb_spark.functions.tokenize import tokenize_py
from quickb_spark.index.segments import load_stats
from quickb_spark.query.serve_direct import TopK, _host_budget, driver_map
from quickb_spark.query.wand import _auto_ranges

__all__ = ["Searcher", "TopK", "UnreachableIndexError"]

#: Bound on the term->df negative/positive cache: serving processes are
#: long-lived and open-vocabulary query streams would otherwise grow the
#: dict without limit. Simple FIFO eviction — a serving workload's hot
#: terms re-enter the cache on first miss.
_DF_CACHE_MAX = 262_144


class ExtraPostings(NamedTuple):
    """Postings outside the segment files (the streaming delta tier), merged
    into a plan's corpus stats and scored beside the segments. `postings`:
    term -> (docs, tfs, dls), doc-sorted; `n_docs`/`tokens`: the tier's
    document count and token sum. Doc ids must be disjoint from the
    index's."""

    n_docs: int
    tokens: int
    postings: dict[str, tuple]


def _tokenize(queries) -> dict[str, list[str]]:
    """query_id -> tokens, from (query_id, text) pairs or a (query_id,
    query_text) DataFrame (collected: a query batch is small by
    definition)."""
    if isinstance(queries, DataFrame):
        queries = [
            (r["query_id"], r["query_text"]) for r in queries.collect()
        ]
    return {qid: tokenize_py(text or "") for qid, text in queries}


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
        #: term -> global df; 0 for terms proven absent (negative caching —
        #: absent terms are the common case for open-vocabulary queries and
        #: must not re-probe storage per batch)
        self._df_cache: dict[str, int] = {}
        #: bucket -> candidate segment file paths
        self._seg_files: dict[int, list[str]] = {}
        #: driver-resident term dictionary: (term_h sorted int64, df int64)
        #: arrays, loaded by load_lexicon()/preload(); None = per-term reads
        self._lex_mem: tuple | None = None

    def _files_for(self, buckets: list[int]) -> list[str]:
        """Cached candidate segment files for the buckets."""
        missing = [b for b in buckets if b not in self._seg_files]
        if missing:
            listed = list_bucket_files(f"{self.index_dir}/segments", missing)
            by_b: dict[int, list[str]] = {b: [] for b in missing}
            for b, p, _sz in listed:
                by_b[b].append(p)
            self._seg_files.update(by_b)
        return [p for b in buckets for p in self._seg_files[b]]

    def load_lexicon(self, max_mb: int | None = None) -> bool:
        """Load the whole (term_h, df) lexicon driver-side as two sorted
        NumPy arrays — the term dictionary a search server holds in memory
        from reader open. A df lookup becomes a searchsorted probe. The
        bucket files are read on the driver_map pool, no Spark job.

        Skipped (returns False) when the lexicon's on-disk parquet exceeds
        `max_mb` (default min(1 GiB, RAM/16) — decoded pairs are 16
        bytes/term, so 1 GiB keeps the driver arrays well under ~2 GB even
        at ~100M terms); lookups then read each missing term's rows.
        Raises UnreachableIndexError when pyarrow cannot list the index's
        filesystem."""
        if max_mb is None:
            max_mb = _host_budget("driver lexicon", 1 << 30, 16) >> 20
        lex = self._read_lexicon(list(range(self.n_buckets)), max_mb)
        if lex is None:
            return False
        self._lex_mem = lex
        return True

    def _read_lexicon(self, buckets: list[int], max_mb: int | None = None,
                      terms: list[str] | None = None):
        """-> (term_h sorted int64, df int64): the lexicon rows of
        `buckets`, read driver-side with pyarrow, or None when their
        parquet exceeds `max_mb`. With `terms`, only those terms' rows are
        read: a partial dictionary, valid for lookups of `terms` only.
        Raises UnreachableIndexError when pyarrow cannot list the index's
        filesystem."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        lex_dir = f"{self.index_dir}/lexicon"
        listed = list_bucket_files(lex_dir, buckets)
        fsys, _ = pyarrow_fs_for(lex_dir)
        if max_mb is not None and sum(sz for _, _, sz in listed) > max_mb << 20:
            return None
        keep = None if terms is None else pc.field("term_h").isin(
            pa.array([xxhash64(t) for t in terms], pa.int64())
        )

        def _read(entry):
            t = pq.read_table(
                entry[1], columns=["term_h", "df"], filesystem=fsys,
                filters=keep,
            )
            return (t.column("term_h").to_numpy(zero_copy_only=False),
                    t.column("df").to_numpy(zero_copy_only=False))

        # the whole-lexicon load is index-open work, on the driver pool;
        # a per-term read touches few files and stays a plain loop
        parts = [(np.empty(0, dtype=np.int64),) * 2] + (
            driver_map(self.spark.sparkContext, _read, listed)
            if terms is None else [_read(e) for e in listed]
        )
        th = np.concatenate([p[0] for p in parts]).astype(np.int64, copy=False)
        df = np.concatenate([p[1] for p in parts]).astype(np.int64, copy=False)
        order = np.argsort(th, kind="stable")
        return th[order], df[order]

    def preload(self, phrase: bool = False, pretouch_mb: int = 0) -> int:
        """Index-open for serving (the warm open a search server does
        before taking traffic): load the term dictionary driver-side
        (load_lexicon), then decode every segment file once so the first
        query batch pays no cold segment reads (serve_direct.preload_files).
        On a local / local-cluster master with the host-shared
        decoded-table cache enabled, both run on a driver thread pool and
        no Spark job: the driver publishes the decoded tables to the
        shared cache and keeps them memory-mapped for driver-path calls,
        and range tasks memory-map the same entries. Otherwise a decode job
        and per-slot worker rounds warm the executor workers; pretouch_mb
        > 0 also pre-grows each worker's malloc arena and always takes
        that path. Opt-in: sparse workloads may prefer lazy loading.
        Returns the decoded byte count; raises UnreachableIndexError when
        pyarrow cannot list the index's filesystem."""
        if self._lex_mem is None:
            self.load_lexicon()
        files = self._files_for(list(range(self.n_buckets)))
        if not files:
            return 0
        from quickb_spark.query.serve_direct import preload_files

        return preload_files(self.spark, files, want_pos=phrase,
                             pretouch_mb=pretouch_mb)

    def _lookup_dfs(self, terms: list[str]) -> dict[str, int]:
        # reads each cached value once: a concurrent call may evict it
        out = {t: self._df_cache.get(t) for t in terms}
        missing = [t for t, v in out.items() if v is None]
        if missing:
            # v4 lexicon is keyed by term_h; hash with the bit-identical
            # driver-side mirror, then map back to the query's strings
            import numpy as np

            mh = {xxhash64(t): t for t in missing}
            th_arr, df_arr = self._lex_mem or self._read_lexicon(
                sorted({bucket_of(t, self.n_buckets) for t in missing}),
                terms=missing,
            )
            probe = np.fromiter(mh, dtype=np.int64, count=len(mh))
            pos = np.searchsorted(th_arr, probe)
            ok = pos < len(th_arr)
            ok[ok] = th_arr[pos[ok]] == probe[ok]
            found = {
                mh[int(h)]: int(df_arr[int(p)])
                for h, p, o in zip(probe, pos, ok) if o
            }
            if len(self._df_cache) + len(missing) > _DF_CACHE_MAX:
                drop = len(self._df_cache) + len(missing) - _DF_CACHE_MAX
                for key in list(self._df_cache)[:drop]:
                    self._df_cache.pop(key, None)
            for t in missing:
                out[t] = self._df_cache[t] = found.get(t, 0)
        return out

    def topk(
        self,
        queries: list[tuple[str, str]] | DataFrame,
        k: int = 10,
        ranges: int | str = "auto",
        phrase: bool = False,
        match_all: bool = False,
        slop: int = 0,
    ) -> TopK:
        """Ranked (query_id, rank, doc_id, score) rows as a local `TopK`
        list (`.toDF()` for a DataFrame); queries as (query_id, text)
        pairs or a (query_id, query_text) DataFrame.

        Query input cost: a list is tokenized in the driver and runs no
        Spark job. A DataFrame costs one Spark collect per call (a query
        batch is small by definition), and the first collect after the
        index is opened also pays the JVM warm-up, about 1.4 s on the
        `fixed-cost` benchmark index. Serving loops should pass lists.

        ranges="auto" sizes the docID-range fan-out from the candidate
        postings and scores a small plan in the driver with no Spark job
        (serve_direct.serve_topk_direct); an int always runs a range job
        of that many tasks. Every value returns the same rows.

        phrase=True: phrase retrieval — each query's tokens must occur in
        a doc IN ORDER with successive-token position gaps <= slop + 1
        (slop=0, the default: exact consecutive phrase; slop=N: "these
        terms in order within N extra tokens" — the code-search follow-up
        to exact phrase). Scores are the unchanged BM25 sums, ranked
        identically. Requires an index built with store_positions (the
        range tasks position-verify candidates block by block).

        match_all=True: conjunctive (AND-mode) retrieval — only docs
        containing EVERY query term are returned; scores and ranking are
        the unchanged BM25 sums (gate analog: t6_bm25_conjunctive). Needs
        no positions; phrase already implies all-terms containment, so
        combining the two is rejected."""
        if phrase and match_all:
            raise ValueError(
                "phrase=True already requires every term (in order); "
                "pass only one of phrase/match_all"
            )
        if slop and not phrase:
            raise ValueError("slop only applies to phrase=True queries")
        if slop < 0:
            raise ValueError("slop must be >= 0")
        return self._serve(self._plan(
            _tokenize(queries), k, ranges, phrase=phrase,
            match_all=match_all, slop=slop,
        ))

    def _serve(self, plan) -> TopK:
        """Score a plan; an empty result when there is no plan."""
        if plan is None:
            return TopK([], self.spark)
        from quickb_spark.query import serve_direct

        return serve_direct.serve_topk_direct(self.spark, plan)

    def _plan(
        self,
        toks_by_q: dict[str, list[str]],
        k: int,
        ranges: int | str = "auto",
        phrase: bool = False,
        match_all: bool = False,
        slop: int = 0,
        extra: ExtraPostings | None = None,
    ):
        """Driver-side planning -> serve_direct.RangePlan, or None when no
        query term occurs in the corpus. `extra` merges the delta tier's
        postings and corpus stats into the plan (any-mode queries only:
        they carry no positions)."""
        from quickb_spark.query.serve_direct import RangePlan

        qt_pairs = sorted(
            {(qid, t) for qid, toks in toks_by_q.items() for t in toks}
        )
        terms = sorted({t for _, t in qt_pairs})
        dfs = self._lookup_dfs(terms)
        n_docs, avgdl = self.stats["n_docs"], self.stats["avgdl"]
        if extra is not None:
            for t, (docs, _, _) in extra.postings.items():
                dfs[t] += len(docs)
            n_all = n_docs + extra.n_docs
            # avgdl * n_docs recovers the base's integer token sum; the
            # merged avgdl is then the one a rebuild would compute
            avgdl = (
                (round(avgdl * n_docs) + extra.tokens) / n_all if n_all
                else 0.0
            )
            n_docs = n_all
        live = [t for t in terms if dfs[t] > 0]
        if not live:
            return None
        th = {t: xxhash64(t) for t in live}
        # a query any of whose tokens is corpus-absent can't match in
        # phrase or AND mode
        seqs = {
            qid: [th[t] for t in toks]
            for qid, toks in toks_by_q.items()
            if toks and all(t in th for t in toks)
        }
        if phrase:
            if not self.stats.get("store_positions", True):
                raise ValueError(
                    "phrase queries need an index built with "
                    "store_positions=True"
                )
            if not seqs:
                return None
        if match_all and not seqs:
            return None
        buckets = sorted({bucket_of(t, self.n_buckets) for t in live})
        if ranges == "auto":
            r_count = _auto_ranges(
                sum(dfs[t] for t in live),
                self.spark.sparkContext.defaultParallelism,
            )
        else:
            r_count = int(ranges)
        terms_by_query: dict[str, list[int]] = {}
        for qid, t in qt_pairs:
            if t in th:
                terms_by_query.setdefault(qid, []).append(th[t])
        return RangePlan(
            files=self._files_for(buckets),
            terms_by_query=terms_by_query,
            dfs={th[t]: dfs[t] for t in live},
            n_docs=n_docs,
            avgdl=avgdl,
            block_size=int(self.stats.get("block_size", 128)),
            k=k,
            k1=self.k1,
            b=self.b,
            r_count=r_count,
            auto_ranges=ranges == "auto",
            phrase_seqs=seqs if phrase else None,
            conj_seqs=seqs if match_all else None,
            slop=slop,
            extra=(
                {th[t]: p for t, p in extra.postings.items() if t in th}
                if extra is not None else None
            ),
        )
