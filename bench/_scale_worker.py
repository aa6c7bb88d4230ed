"""Subprocess worker for the scaling bench: one parallelism level per process.

Builds the full compressed index (chunk → tokenize → sorted runs →
varbyte segments) over a corpus parquet and runs the BM25/WAND query batch.
Prints one JSON line. Invoked by bench/scaling.py as

    python bench/_scale_worker.py <cpus> <corpus_parquet> <work_dir>

The timed window covers the index-build job and the query batch only —
session startup, corpus generation, and JVM warm-up are excluded
(SURVEY.md §7 hard part d).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _mem_avail_gb() -> float:
    """MemAvailable from /proc/meminfo, in GiB (0.0 if unreadable)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return round(int(line.split()[1]) / (1 << 20), 1)
    except OSError:
        pass
    return 0.0


#: /proc/vmstat counters that separate "quiet window" from "memory-reclaim
#: storm": pgscan/pgsteal_direct spike when ALLOCATING processes do their
#: own reclaim (the stall that slows every core at once), kswapd variants
#: when the background reclaimer runs, pgmajfault when working sets get
#: evicted and faulted back, allocstall* when allocations block outright.
_VMSTAT_KEYS = (
    "pgscan_direct", "pgsteal_direct", "pgscan_kswapd", "pgsteal_kswapd",
    "pgmajfault", "compact_stall",
)


def _vmstat() -> dict:
    """Snapshot of the reclaim counters (allocstall* summed); {} if unreadable."""
    out: dict = {}
    try:
        with open("/proc/vmstat") as f:
            for line in f:
                k, _, v = line.partition(" ")
                if k in _VMSTAT_KEYS:
                    out[k] = int(v)
                elif k.startswith("allocstall"):
                    out["allocstall"] = out.get("allocstall", 0) + int(v)
    except OSError:
        pass
    return out


def _vmstat_delta(before: dict, after: dict) -> dict:
    return {k: after[k] - before[k] for k in after if k in before}


def _warm_batch_rusage(spark, searcher) -> dict:
    """One warm batch with per-task getrusage, measured at the SAME SCOPE
    as the timed warm repeats (searcher.topk(...).count()): the timed
    window opens BEFORE driver planning, the range tasks return their
    result chunks (not just rusage tuples), and the driver-side exact
    merge + createDataFrame + count run inside the window. wall_sec is
    therefore directly poolable with the timed repeats — round-4's
    version planned outside t0 and discarded the chunks, giving its floor
    a structural advantage that min-pooling then passed on to the
    headline (ADVICE r4, medium). CPU accounting per level: utime is the
    engine's actual work, wall - utime/slots the scheduling + contention
    residual — host steal inflates wall, never utime."""
    from collections import defaultdict

    from quickb_spark.corpus import fixture_queries
    from quickb_spark.query.searcher import _tokenize

    def _run(payload):
        import resource as _r
        import time as _t

        from quickb_spark.query import serve_direct as sd

        r0 = _r.getrusage(_r.RUSAGE_SELF)
        t0 = _t.perf_counter()
        chunk = sd._serve_range_task(payload)
        wall = _t.perf_counter() - t0
        r1 = _r.getrusage(_r.RUSAGE_SELF)
        return (chunk, wall, r1.ru_utime - r0.ru_utime,
                r1.ru_stime - r0.ru_stime, r1.ru_minflt - r0.ru_minflt)

    k = 10
    t0 = time.perf_counter()
    payloads = searcher._plan(_tokenize(fixture_queries()), k).payloads()
    stats = (
        spark.sparkContext.parallelize(payloads, len(payloads))
        .map(_run).collect()
    )
    # serve_topk_direct's exact driver merge + DataFrame build + count,
    # replicated inside the timed window (same scope as the timed repeats)
    per_q: dict = defaultdict(list)
    for chunk, *_ in stats:
        for qid, doc, score in chunk:
            per_q[qid].append((score, doc))
    rows = []
    for qid in sorted(per_q):
        cands = sorted(per_q[qid], key=lambda t: (-t[0], t[1]))[:k]
        rows.extend(
            (qid, rank, doc, score)
            for rank, (score, doc) in enumerate(cands, start=1)
        )
    spark.createDataFrame(
        rows, "query_id string, rank int, doc_id long, score double"
    ).count()
    wall = time.perf_counter() - t0
    return {
        "wall_sec": round(wall, 2),
        "n_ranges": len(payloads),
        "task_utime_sum": round(sum(s[2] for s in stats), 2),
        "task_stime_sum": round(sum(s[3] for s in stats), 2),
        "task_wall_max": round(max(s[1] for s in stats), 2),
        "task_minflt_sum": int(sum(s[4] for s in stats)),
        # scope marker: distinguishes same-scope acct samples from the
        # round-4 narrower-scope ones when pooling mixed-era trials
        "scope": "full_batch",
    }


def main(cpus: int, corpus_path: str, work_dir: str) -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    # Two masters, same job, same total cores:
    #   local[N]                one JVM with N task threads (default)
    #   local-cluster[W,4,...]  QKB_SCALE_CLUSTER=1: W REAL executor JVMs
    #                           of 4 cores each — separate heaps, GC,
    #                           netty shuffle servers and Python worker
    #                           pools, i.e. the honest in-sandbox proxy
    #                           for the north rule's "N vs 4N EXECUTORS"
    #                           (local[] makes 4N threads share ONE heap
    #                           and GC, which no real cluster does).
    cluster_mode = os.environ.get("QKB_SCALE_CLUSTER") == "1"
    # glibc tuning for the (persistent, task-reused) Python workers: numpy
    # buffers above 128KB default to mmap and get UNMAPPED on every free —
    # at 16 concurrent direct-build tasks the kernel page-fault path turned
    # up as ~9 cores of system time (measured via /proc/stat during the
    # merge phase). Keeping large allocations on the reusable arena trades
    # resident memory (bounded by per-task working set) for fault storms.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str((1 << 31) - 1))
    # Pre-size and pre-touch heaps at session startup (which the protocol
    # excludes from the timed window): letting a heap grow lazily means the
    # shuffle-heavy phase 1 pays guest page faults — under a contended
    # virtualized host those are kernel-time storms that hit the wide level
    # hardest and poison the scaling measurement. Overridable via
    # QKB_DRIVER_JAVA_OPTS for A/B.
    if cluster_mode:
        # executor size (cores per executor JVM) — 4 by default; override
        # with QKB_EXEC_CORES=2 for low-parallelism levels (N=2 vs 8)
        exec_cores = int(os.environ.get("QKB_EXEC_CORES", "4"))
        workers = max(1, cpus // exec_cores)
        if workers * exec_cores != cpus:
            # fail LOUDLY: a shape mismatch silently records a trial whose
            # real core count differs from its `cpus` tag and poisons the
            # pool (observed: QKB_EXEC_CORES unset ran the "2-core" level
            # as local-cluster[1,4] — 4 cores — tagged cpus=2)
            raise SystemExit(
                f"cpus={cpus} is not workers*exec_cores with "
                f"QKB_EXEC_CORES={exec_cores}; set QKB_EXEC_CORES so it "
                f"divides every level"
            )
        master = f"local-cluster[{workers},{exec_cores},14336]"
        driver_opts = os.environ.get(
            "QKB_DRIVER_JAVA_OPTS", "-Xms6g -XX:+AlwaysPreTouch"
        )
        builder = (
            SparkSession.builder.master(master)
            .config("spark.driver.memory", "8g")
            .config("spark.executor.memory", "12g")
            .config(
                "spark.executor.extraJavaOptions",
                "-Xms12g -XX:+AlwaysPreTouch",
            )
            # the timed window must start with all executors registered
            .config("spark.scheduler.minRegisteredResourcesRatio", "1.0")
            .config("spark.scheduler.maxRegisteredResourcesWaitingTime", "60s")
            # executor JVMs spawn their own Python workers, which do not
            # inherit the driver's sys.path — ship the engine package the
            # way spark-submit --py-files would (same box, so PYTHONPATH
            # suffices; a real cluster would zip + --py-files the package)
            .config("spark.executorEnv.PYTHONPATH", _REPO)
        )
    else:
        master = f"local[{cpus}]"
        driver_opts = os.environ.get(
            "QKB_DRIVER_JAVA_OPTS", "-Xms24g -XX:+AlwaysPreTouch"
        )
        builder = SparkSession.builder.master(master).config(
            "spark.driver.memory", "48g"
        )
    # worker-process memory tuning (quickb_spark/session.py): glibc arena
    # reuse + Arrow system pool for the Python workers — removes the
    # DRAM-bound page-fault churn from serving tasks and the phase-2
    # merge's temps (A/B in BENCH/query_decompose_r4.json)
    from quickb_spark.session import tune_builder

    builder = tune_builder(builder)
    # host-shared decoded-table cache (round-5): point it INTO the pool's
    # work dir so each pool's entries die with it (the default
    # /dev/shm/qkb_serve_cache would accumulate dead pairs' indexes across
    # pools on this memory-sensitive box), and bound it to ~one decoded
    # index per level pair. Shipped via executorEnv for cluster mode and
    # os.environ for local[] (same routing as the malloc knobs above).
    shm_cache = os.environ.setdefault(
        "QKB_SERVE_SHM_DIR", os.path.join(work_dir, "serve_shm")
    )
    shm_mb = os.environ.setdefault("QKB_SERVE_SHM_MB", "6144")
    builder = builder.config(
        "spark.executorEnv.QKB_SERVE_SHM_DIR", shm_cache
    ).config("spark.executorEnv.QKB_SERVE_SHM_MB", shm_mb)
    spark = (
        builder
        .appName(f"quickb-scale-{cpus}")
        .config("spark.driver.extraJavaOptions", driver_opts)
        .config("spark.sql.shuffle.partitions", str(cpus * 4))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.local.dir", "/dev/shm/qkb_spark_local")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # the scale corpus dirs hold many few-MB files; default
        # 128MB maxPartitionBytes + 4MB openCost would coalesce them into a
        # handful of scan partitions for the Spark-side scans (the
        # verification reads). build_index reads a plain parquet scan's
        # files in place with pyarrow and never consults these; only a
        # documents= DataFrame of another plan shape is staged by a Spark
        # write (at production scale files are row-group sized and this
        # is moot)
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        # lz4 shuffle compression ON (the Spark default): even with shuffle
        # dirs on tmpfs, uncompressed exchanges+sort-spills cost more in
        # kernel page allocation than lz4 costs in CPU — measured 3x on the
        # phase-1 shuffle (57s -> 19s at 16 cores). Env-overridable for A/B
        .config(
            "spark.shuffle.compress",
            os.environ.get("QKB_SHUFFLE_COMPRESS", "true"),
        )
        .config(
            "spark.shuffle.spill.compress",
            os.environ.get("QKB_SHUFFLE_COMPRESS", "true"),
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from quickb_spark.chunking import chunk_documents
    from quickb_spark.config import EngineConfig, IndexConfig
    from quickb_spark.corpus import fixture_queries
    from quickb_spark.index.segments import build_index
    from quickb_spark.query.searcher import Searcher
    from quickb_spark.query.wand import bm25_topk_segments

    cfg = EngineConfig(
        index=IndexConfig(
            term_buckets=64,
            # same task size at EVERY level (see IndexConfig.p1_task_bytes);
            # 8MB keeps a task's working set comfortably cache-friendly on
            # this box's few-MB corpus files
            p1_task_bytes=8 << 20,
        )
    )

    # Parallelism comes from the scan itself (small maxPartitionBytes bins
    # over the corpus files) — no repartition shuffle in front of the
    # chunk+tokenize kernel, exactly as a production-size scan behaves.
    docs = spark.read.parquet(corpus_path)
    n_files = docs.count()  # also warms the JVM + scan

    # Warm-up (excluded from the timed window per the BASELINE.md protocol):
    # run a COMPLETE miniature build + query over ~2% of the corpus. This
    # warms the Python worker pool across all task slots (one-time fork +
    # numpy/pandas import per worker) AND JIT/codegen-compiles every hot
    # JVM loop of the real job (UDF pipeline, explode, shuffle write/read,
    # sort, parquet write, scorer exchange). Measured cold-JIT cost is
    # ~15-20s per process — identical at every parallelism level, so
    # leaving it in would understate scaling efficiency rather than
    # measure the engine.
    warm_idx = os.path.join(work_dir, f"index_warm_{cpus}")
    shutil.rmtree(warm_idx, ignore_errors=True)
    # direct-path warm: run the REAL build (pyarrow tasks end-to-end) over
    # a ~2% symlinked file subset — forks + imports every Python worker
    # slot and JITs the (much smaller) JVM surface the direct build still
    # uses (RDD collect, parquet metadata reads)
    warm_corpus = os.path.join(work_dir, f"corpus_warm_{cpus}")
    shutil.rmtree(warm_corpus, ignore_errors=True)
    os.makedirs(warm_corpus)
    names = sorted(
        n for n in os.listdir(corpus_path) if n.endswith(".parquet")
    )
    # at least two files per task slot so the warm build touches EVERY
    # Python worker in EVERY executor (imports + allocator warm-up)
    take = max(2 * cpus, len(names) // 50)
    for n in names[:: max(1, len(names) // take)][:take]:
        os.symlink(
            os.path.join(corpus_path, n), os.path.join(warm_corpus, n)
        )
    build_index(
        spark, index_dir=warm_idx, cfg=cfg, wave_size=64,
        corpus_uri=warm_corpus,
    )
    shutil.rmtree(warm_corpus, ignore_errors=True)
    qwarm = spark.createDataFrame(fixture_queries()[:4], ["query_id", "query_text"])
    bm25_topk_segments(spark, warm_idx, qwarm, k=10).count()
    Searcher(spark, warm_idx).topk(fixture_queries()[:4], k=10).count()
    shutil.rmtree(warm_idx, ignore_errors=True)

    idx = os.path.join(work_dir, f"index_{cpus}")
    shutil.rmtree(idx, ignore_errors=True)

    sys.path.insert(0, os.path.join(_REPO, "bench"))
    from _hostload import LoadMeter

    # host-regime calibration: a fixed single-core kernel timed right
    # before the build window. ext_cores only sees co-tenant load INSIDE
    # this VM; host-side steal is invisible to it (both 2026-08-18 03:xx
    # pairs ran every phase 8-60% slower at ext_cores 0.0). cal_sec makes
    # regime drift between a pair's two windows visible in the raw JSON.
    from _calibrate import calibrate, concurrent_throughput

    cal_sec, _cal_reps = calibrate(3)
    # the box's achievable aggregate speed at THIS trial's core count, in
    # THIS window (kernels/sec over `cpus` concurrent processes): the
    # within-pair ratio (thr_hi/thr_lo)/4 is the hardware scaling ceiling
    # the pair's engine efficiency should be read against
    cal_thr = concurrent_throughput(cpus, reps=2)

    phases: dict = {}
    build_load = LoadMeter()
    build_load.start()
    vm_build0 = _vmstat()
    t0 = time.perf_counter()
    build_index(
        spark, index_dir=idx, cfg=cfg, wave_size=64, documents=docs,
        corpus_uri=corpus_path,
        timings=phases,
    )
    build_sec = time.perf_counter() - t0
    vm_build = _vmstat_delta(vm_build0, _vmstat())
    build_loadinfo = build_load.stop()

    # Query-window regime probes (round-4 addition): the build-window gates
    # cannot see load landing DURING the serving windows — measured
    # 2026-08-19: two pools accidentally overlapping a trial's query block
    # produced warm batches 3x slower than their cold batch at BOTH levels
    # while the build windows read ext_cores 0.0. So the query block gets
    # its own single-core calibration kernel and its own LoadMeter, and the
    # report additionally gates q-eff on them where the fields exist.
    cal_sec_query, _ = calibrate(2)
    mem_avail_gb = _mem_avail_gb()
    query_load = LoadMeter()
    query_load.start()

    # Serving: a Searcher bound to the index, as a server process would run
    # it. The timed 50-query batch starts with a COLD df cache; p50 is
    # per-query latency on the warm searcher.
    #
    # The fresh-server batch is measured as the MIN over three independent
    # server RE-OPENS (each iteration constructs a new Searcher — dropping
    # the driver-side df cache and range plan — and re-runs the untimed
    # preload open), for exactly the reason the warm batches are a
    # min-over-3: host-side vCPU steal is strictly additive and
    # unobservable in-guest, and a single unrepeated measurement eats any
    # burst that lands on it at full weight (the round-4 pool recorded 4N
    # first-batches of 48-84s whose warm repeat seconds later ran 15s,
    # with zero /proc/vmstat reclaim, ext_cores 0.0 and normal task
    # utime in q_acct — and a dedicated probe reproduced neither arm
    # on a quiet box). Every re-open's raw seconds are recorded.
    query_cold_batch_secs = []
    vm_cold = vm_preload = None
    mem_avail_cold_gb = 0.0
    n_results = 0
    searcher = None
    for rep in range(3):
        # fresh server: new Searcher = cold driver-side df cache/listings.
        # index-open (untimed, like session startup): segment tables load
        # into the worker caches once per server lifetime AND the
        # (term_h, df) term dictionary into driver arrays —
        # Searcher.preload(), the Lucene-style reader open. The timed
        # batch below runs exactly ONE Spark job (the scoring job): df
        # lookups are driver-side searchsorted probes, so the
        # fresh-server fixed cost that dominated pre-r4 cold batches is
        # gone. 3GB arena pretouch ~= the measured per-task temp working
        # set of the 50-query batch on this index
        # (BENCH/query_decompose_r4.json r4d) — with the session.py
        # worker env it makes the first batch allocate from
        # already-faulted pages, like the JVM's AlwaysPreTouch
        searcher = Searcher(spark, idx)
        vm_pre0 = _vmstat()
        searcher.preload(pretouch_mb=3072)
        vm_cold0 = _vmstat()
        if rep == 0:
            mem_avail_cold_gb = _mem_avail_gb()
        t0 = time.perf_counter()
        n_results = searcher.topk(fixture_queries(), k=10).count()
        query_cold_batch_secs.append(round(time.perf_counter() - t0, 2))
        if rep == 0:
            vm_cold = _vmstat_delta(vm_cold0, _vmstat())
            vm_preload = _vmstat_delta(vm_pre0, vm_cold0)
    query_batch_sec = min(query_cold_batch_secs)

    # steady-state serving: THREE warm repeats of the same batch, each
    # timed. The cold-warm difference is the df-lookup + listing work a
    # fresh server pays once; the warm batches are the pure scoring job.
    # Three repeats because this guest cannot observe host-side vCPU
    # steal mid-window (measured 2026-08-19: 4N cold batches of 48-84s
    # with warm 15s right after, zero /proc/vmstat reclaim, ext_cores
    # 0.0, normal pre-window cal_sec — and a dedicated probe
    # reproduced neither arm on a quiet box, cold 14.2s). Steal is
    # strictly ADDITIVE noise, so the MIN over repeats estimates the
    # engine's time; every repeat is recorded raw.
    query_warm_batch_secs = []
    for _ in range(3):
        t0 = time.perf_counter()
        searcher.topk(fixture_queries(), k=10).count()
        query_warm_batch_secs.append(round(time.perf_counter() - t0, 2))
    query_warm_batch_sec = min(query_warm_batch_secs)

    # per-task CPU accounting (diagnostic, untimed for the headline): one
    # more warm batch through the same planning + range tasks, each task
    # wrapped with getrusage. Sum(utime) should match between levels —
    # same work, different wall — so a blown batch with normal utime is
    # PROVEN external (host steal), one with inflated utime is ours.
    q_acct = _warm_batch_rusage(spark, searcher)

    lat = []
    for qid, qtext in fixture_queries()[:12]:
        t0 = time.perf_counter()
        searcher.topk([(qid, qtext)], k=10).collect()
        lat.append(time.perf_counter() - t0)
    lat.sort()
    p50 = lat[len(lat) // 2]
    query_loadinfo = query_load.stop()
    # post-window single-core kernel: brackets the serving block so a
    # regime shift DURING it (pre-cal normal, post-cal slow) is visible
    cal_sec_query_post, _ = calibrate(2)

    print(
        json.dumps(
            {
                "cpus": cpus,
                "master": master,
                "mode": "cluster" if cluster_mode else "local",
                "n_files": n_files,
                "build_sec": round(build_sec, 2),
                "files_per_sec": round(n_files / build_sec, 1),
                # min over 3 independent fresh-server re-opens (each with
                # its own untimed preload open; additive-steal rationale
                # as for the warm min — all re-opens recorded raw below)
                "query_batch_sec": round(query_batch_sec, 2),
                "query_cold_batch_secs": query_cold_batch_secs,
                # min over the 3 warm repeats (steady-state scoring job;
                # min because host steal is additive and in-guest
                # unobservable — all repeats recorded raw below)
                "query_warm_batch_sec": round(query_warm_batch_sec, 2),
                "query_warm_batch_secs": query_warm_batch_secs,
                # per-task CPU accounting from the rusage-wrapped warm
                # batch: task_utime_sum is the engine's actual work and
                # should match across levels; wall >> utime/slots with
                # normal utime = external steal, inflated utime = ours
                "q_acct": q_acct,
                "n_results": n_results,
                "query_p50_sec": round(p50, 3),
                # external (non-own) vs own busy cores box-wide, averaged
                # over the BUILD window (bench/_hostload.py) — the report's
                # clean-pair gate reads ext_cores
                "ext_cores": build_loadinfo["ext_cores"],
                "own_cores": build_loadinfo["own_cores"],
                # deterministic single-core kernel seconds just before the
                # build window (bench/_calibrate.py): host-regime speed
                "cal_sec": cal_sec,
                # aggregate kernels/sec over `cpus` concurrent processes
                # in the same pre-build window
                "cal_thr_cores": round(cal_thr, 3),
                # external/own busy cores averaged over the QUERY windows
                # (cold batch + warm repeat + p50 loop) and the same
                # single-core kernel timed right before them: the query
                # block's own clean gate inputs (see comment above)
                "ext_cores_query": query_loadinfo["ext_cores"],
                "own_cores_query": query_loadinfo["own_cores"],
                "cal_sec_query": cal_sec_query,
                # same kernel right AFTER the serving block: pre/post
                # bracketing exposes a regime shift that lands mid-block
                "cal_sec_query_post": cal_sec_query_post,
                # MemAvailable just before the query block: 4N runs ~105GB
                # resident (4 pre-touched 14GB heaps + 8 workers' caches),
                # so a bloated page cache / leaked tmpfs pushes the query
                # windows into kswapd — make that visible in the raw JSON
                "mem_avail_gb": mem_avail_gb,
                # MemAvailable right after preload/pretouch, i.e. what the
                # timed cold batch actually has to work with — if this is
                # near zero while mem_avail_gb was ~44, the preload itself
                # is what pushes the cold batch into direct reclaim
                "mem_avail_cold_gb": mem_avail_cold_gb,
                # /proc/vmstat reclaim-counter deltas over each window
                # (round-4 instrumentation for the intermittent 3-5x cold
                # 4N batches that pass every load/drift gate): nonzero
                # pgscan_direct/allocstall during the cold batch = the
                # slowdown is the box reclaiming memory, not the engine
                "vmstat_build": vm_build,
                "vmstat_preload": vm_preload,
                "vmstat_cold": vm_cold,
                "phases": phases,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main(int(sys.argv[1]), sys.argv[2], sys.argv[3])
