"""One benchmark run: set up, run the workload's timed steps, check answers.

The engine is driven only through its public entry points:
`corpus.gen_document`, `index.segments.build_index`,
`query.searcher.Searcher` and `streaming.incremental`. Every answer the
engine returns is compared with the brute-force oracle (perfbench/oracle.py)
after the timed steps; a wrong answer or an exception is a failed op.
"""

from __future__ import annotations

import contextlib
import importlib.util
import itertools
import json
import os
import shutil
import statistics
import subprocess
import time

from perfbench import oracle
from perfbench.tracing import RssSampler, Tracer, host_stamp, spark_counts

#: the timed serving mix, in order
ROUND = ["single", "batch", "single"]
#: phrase and match_all batches: timed only in traced runs (per-layer), so
#: that the untraced runs' few seconds give batch and single more samples;
#: every run's warm-up round asks each once and checks the answers
EXTRA = ["phrase", "and"]
PHRASE_AND_QUERIES = 25
#: oracle kind behind each serving op
KIND = {"batch": "or", "single": "or", "phrase": "phrase", "and": "and", "delta": "or"}


def _load_meter_cls(root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_hostload", os.path.join(root, "bench", "_hostload.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.LoadMeter


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def _content_bytes(corpus_dir: str) -> int:
    """UTF-8 bytes of the `content` column of a parquet corpus."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    col = pq.read_table(corpus_dir, columns=["content"]).column("content")
    return int(pc.sum(pc.binary_length(col)).as_py() or 0)


def _import_engine(_):
    """Worker warm-up: load the engine modules every build/serve task uses."""
    import quickb_spark.chunking.udf  # noqa: F401
    import quickb_spark.index.flatten  # noqa: F401
    import quickb_spark.index.p1_direct  # noqa: F401
    import quickb_spark.index.p2_direct  # noqa: F401
    import quickb_spark.query.serve_direct  # noqa: F401

    return os.getpid()


def write_corpus(path: str, lo: int, n: int, seed: int, files: int) -> None:
    """Rows [lo, lo + n) of the seeded corpus (corpus.gen_document, the rule
    generate_documents_df runs per row) as `files` parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quickb_spark.corpus import DOCUMENTS_SCHEMA, gen_document

    names = DOCUMENTS_SCHEMA.fieldNames()
    os.makedirs(path)
    step = -(-n // files)
    for f, start in enumerate(range(lo, lo + n, step)):
        rows = [gen_document(i, seed) for i in range(start, min(start + step, lo + n))]
        table = pa.table({c: [r[j] for r in rows] for j, c in enumerate(names)})
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))


def start_session(root: str, work: str, settings: dict):
    """local[task_slots] session whose scratch space all lies under `work`."""
    for sub in ("tmp", "spark", "shm", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["QKB_SERVE_SHM_DIR"] = os.path.join(work, "shm")
    # the spark-submit launcher JVM would write /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from pyspark.sql import SparkSession

    from quickb_spark.session import tune_builder

    slots = settings["task_slots"]
    spark = (
        tune_builder(SparkSession.builder)
        .master(f"local[{slots}]")
        .appName("perfbench")
        .config("spark.driver.memory", settings["driver_memory"])
        .config("spark.driver.extraJavaOptions",
                f"-Xms{settings['driver_memory']} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * slots))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Run:
    """State of one benchmark run (one workload, one seed)."""

    def __init__(self, root, work, wl_name, wl, index_cfg, seed, seconds, trace,
                 settings):
        from quickb_spark.config import EngineConfig, IndexConfig

        self.root, self.work = root, work
        self.name, self.wl, self.seed = wl_name, wl, seed
        self.seconds = seconds
        self.settings = settings
        self.cfg = EngineConfig(index=IndexConfig(**index_cfg))
        self.tracer = Tracer(trace)
        self.traced = trace
        self.LoadMeter = _load_meter_cls(root)
        self.load: dict[str, dict] = {}
        self.times: dict[str, list[float]] = {}
        self.ops: list[dict] = []  # every answer-returning call
        self.counts: dict[str, list[dict]] = {}
        self.build_rates: list[float] = []
        self.preload_bytes = 0
        self.fold_frac: list[float] = []
        self.content_bytes = 0
        self.state = 0  # index state: 0 = base, c = base + c deltas
        from quickb_spark.corpus import fixture_queries

        self.queries = fixture_queries()
        # each single slot of ROUND always asks the same query, so every
        # run's singles are the same mix however many rounds it serves:
        # one-query latency differs by up to 3x between fixture queries
        n_single = ROUND.count("single")
        self.single_order = self.queries[:n_single]
        self.idx = os.path.join(work, "index")
        self.base_dir = os.path.join(work, "corpus")
        self.delta_dirs = [
            os.path.join(work, f"delta{c}") for c in range(wl["cycles"])
        ]

    # ---- helpers -----------------------------------------------------------
    @contextlib.contextmanager
    def _window(self, phase: str):
        """Host-load stamp (busy cores: own, kernel, external) of a phase."""
        meter = self.LoadMeter()
        meter.start()
        try:
            yield
        finally:
            self.load[phase] = meter.stop()

    def _timed(self, step: str, fn):
        """Run fn() as one blocking step; record wall, spans and Spark counts."""
        sc = self.spark.sparkContext
        with self.tracer.job_group(sc, step) as gid:
            with self.tracer.span(step, "bench") as rec:
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
        if rec is not None:
            rec["wall"] = dt
        self.times.setdefault(step, []).append(dt)
        if gid is not None:
            self.counts.setdefault(step, []).append(spark_counts(sc, gid))
        return out, dt

    def _layer(self, name, layer, fn):
        with self.tracer.span(name, layer):
            return fn()

    def _build(self, **inputs):
        from quickb_spark.index import segments

        segments.build_index(self.spark, index_dir=self.idx, cfg=self.cfg,
                             timings={}, **inputs)

    # ---- set-up ------------------------------------------------------------
    def setup(self) -> None:
        t0 = time.perf_counter()
        parts = self.setup_parts = {}

        def mark(label):
            parts[label] = time.perf_counter() - t0 - sum(parts.values())

        with self._window("setup"):
            self.spark = start_session(self.root, self.work, self.settings)
            mark("session")
            self.tracer.install()
            spark, sc = self.spark, self.spark.sparkContext
            par = sc.defaultParallelism
            n, d = self.wl["base_files"], self.wl["delta_files"]
            write_corpus(self.base_dir, 0, n, self.seed, files=2 * par)
            for c, path in enumerate(self.delta_dirs):
                write_corpus(path, n + c * d, d, self.seed, files=par)
            mark("generate")
            sc.parallelize(range(2 * par), 2 * par).map(_import_engine).collect()
            mark("warm")
        self.setup_s = time.perf_counter() - t0
        # untimed: input size for the bytes ratio
        self.input_bytes = {
            p: _content_bytes(p) for p in [self.base_dir] + self.delta_dirs
        }
        self.content_bytes = self.input_bytes[self.base_dir]

    # ---- timed steps -------------------------------------------------------
    def build_and_open(self) -> None:
        with self._window("build"):
            _, dt = self._timed("build", lambda: self._build(corpus_uri=self.base_dir))
        self.build_rates.append(self.wl["base_files"] / dt)
        self.open_index()

    def open_index(self) -> None:
        from quickb_spark.query.searcher import Searcher

        def _open():
            self.searcher = self._layer(
                "Searcher", "query", lambda: Searcher(self.spark, self.idx))
            return self._layer("Searcher.preload", "query",
                               lambda: self.searcher.preload(phrase=True))

        with self._window("open"):
            self.preload_bytes, _ = self._timed("open", _open)

    def serve(self) -> None:
        """Closed loop over whole rounds for --seconds, at least one.

        One untimed round of every kind comes first: the first calls after
        open pay one-off costs (JIT, worker caches) that would otherwise
        land in the first timed call of each kind. Its answers are checked
        like the others. Traced runs add EXTRA to each round and measure
        the tracing overhead in the same run: rounds follow the pattern
        traced, untraced, untraced, traced, so warming up over the run
        favours neither side."""
        singles = itertools.cycle(self.single_order)
        self.tracer.enabled = False
        for op in ROUND + EXTRA:
            self._serve_op(op, self._queries(op, singles), step=f"{op}.warm")
        mix = ROUND + EXTRA if self.traced else ROUND
        t_end = time.perf_counter() + self.seconds
        done = 0
        min_ops = len(mix) * (4 if self.traced else 1)
        with self._window("serve"):
            # whole rounds only, so each kind and single query gets its share
            while done < min_ops or done % len(mix) or time.perf_counter() < t_end:
                op = mix[done % len(mix)]
                rnd = done // len(mix)
                self.tracer.enabled = self.traced and rnd % 4 in (0, 3)
                step = op
                if self.traced and not self.tracer.enabled:
                    step = f"{op}.untraced"
                self._serve_op(op, self._queries(op, singles), step)
                done += 1
            self.tracer.enabled = self.traced

    def _queries(self, op: str, singles):
        if op == "single":
            return [next(singles)]
        if op == "batch":
            return self.queries
        return self.queries[:PHRASE_AND_QUERIES]

    def _serve_op(self, op: str, qs, step: str) -> None:
        kw = {"phrase": {"phrase": True}, "and": {"match_all": True}}.get(op, {})

        def call():
            df = self.searcher.topk(qs, k=oracle.K, **kw)
            return self._layer("collect", "query", df.collect)

        self._op(step, KIND[op], qs, call)

    def _op(self, step, kind, qs, call) -> None:
        rec = {"step": step, "kind": kind, "state": self.state,
               "qids": [q for q, _ in qs], "rows": None}
        try:
            rows, _ = self._timed(step, call)
            rec["rows"] = [tuple(r) for r in rows]
        except Exception as e:  # a failed op is counted, not fatal
            rec["error"] = repr(e)
        self.ops.append(rec)

    def build_base(self) -> None:
        """The updatable base index: fold needs the phase-1 checkpoint the
        DataFrame build path writes (see perfbench/spec.json). It is opened
        too, so open_s is the median of two opens on this workload."""
        docs = self.spark.read.parquet(self.base_dir)
        with self._window("build"):
            self._timed("build", lambda: self._build(documents=docs))
        self.open_index()

    def ingest(self, c: int) -> None:
        from quickb_spark.corpus import DOCUMENTS_SCHEMA
        from quickb_spark.streaming.incremental import start_incremental_ingest

        stream = self.spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(self.delta_dirs[c])
        holder = {}

        def go():
            q = self._layer("start_incremental_ingest", "streaming",
                            lambda: start_incremental_ingest(
                                self.spark, stream, self.idx, self.cfg,
                                checkpoint=os.path.join(self.work, f"ckpt{c}")))
            holder["q"] = q
            self._layer("awaitTermination", "streaming", q.awaitTermination)
            if q.exception() is not None:
                raise RuntimeError(f"ingest failed: {q.exception()}")

        with self._window("ingest"):
            self._timed("ingest", go)
        if self.traced:
            self.counts.setdefault("ingest.stream", []).append(
                spark_counts(self.spark.sparkContext, str(holder["q"].runId)))
        self.state = c + 1
        self.content_bytes += self.input_bytes[self.delta_dirs[c]]

    def delta_batch(self) -> None:
        from quickb_spark.streaming.incremental import query_with_deltas

        qdf = self.spark.createDataFrame(self.queries, ["query_id", "query_text"])

        def call():
            df = self._layer("query_with_deltas", "streaming",
                             lambda: query_with_deltas(self.spark, self.idx, qdf, k=oracle.K))
            return self._layer("collect", "streaming", df.collect)

        with self._window("delta"):
            self._op("delta", "or", self.queries, call)

    def fold_and_reopen(self) -> None:
        from quickb_spark.streaming.incremental import fold_deltas_into_index

        with self._window("fold"):
            redone, _ = self._timed("fold", lambda: self._layer(
                "fold_deltas_into_index", "streaming",
                lambda: fold_deltas_into_index(self.spark, self.idx, self.cfg)))
        self.fold_frac.append(redone / self.cfg.index.term_buckets)

        def _open():
            self._layer("Searcher.refresh", "query", self.searcher.refresh)
            return self._layer("Searcher.preload", "query",
                               lambda: self.searcher.preload(phrase=True))

        with self._window("open"):
            self.preload_bytes, _ = self._timed("open", _open)

    def measure(self) -> None:
        if not self.wl["fold"]:
            self.build_and_open()
            self.serve()
            if self.traced:  # streaming-layer numbers on this workload too
                self.delta_batch()  # nothing pending: the fallback scorer
            return
        self.build_base()
        for c in range(self.wl["cycles"]):
            self.ingest(c)
            if self.traced:  # per-layer numbers only: ~8 s no end-to-end metric uses
                self.delta_batch()
            self.fold_and_reopen()
        # the whole write path: base build, then each delta's ingest + fold
        files = self.wl["base_files"] + self.wl["cycles"] * self.wl["delta_files"]
        wall = sum(sum(self.times[s]) for s in ("build", "ingest", "fold"))
        self.build_rates.append(files / wall)
        self.serve()

    # ---- answers -------------------------------------------------------------
    def check(self, corrupt: bool = False) -> tuple[int, int]:
        """Compare every op with the oracle -> (attempted, failed)."""
        used = sorted({o["state"] for o in self.ops})
        states = []
        for s in used:
            kinds = {"or": self.queries}
            if any(o["state"] == s and o["kind"] != "or" for o in self.ops):
                kinds["phrase"] = self.queries[:PHRASE_AND_QUERIES]
                kinds["and"] = self.queries[:PHRASE_AND_QUERIES]
            states.append({"corpora": [self.base_dir] + self.delta_dirs[:s],
                           "kinds": kinds})
        key = {"workload": self.name, "seed": self.seed,
               "base": self.wl["base_files"], "delta": self.wl["delta_files"],
               "states": used, "kinds": [sorted(st["kinds"]) for st in states]}
        with self.tracer.job_group(self.spark.sparkContext, "oracle"):
            expected = dict(zip(used, oracle.expected_answers(
                self.spark, self.root, states,
                os.path.join(os.path.dirname(self.work), "oracle"), key)))
        if corrupt:  # tests: a wrong expected answer must fail its ops
            for st in expected.values():
                for answers in st.values():
                    for qid, want in answers.items():
                        if want:
                            want[0][1] += 1
        failed = 0
        self.tie_reorders = 0
        for o in self.ops:
            want = expected[o["state"]][o["kind"]]
            bad, reorders = (o["qids"], 0) if o["rows"] is None else \
                oracle.mismatches(o["rows"], o["qids"], want)
            self.tie_reorders += reorders
            o["ok"] = not bad
            if bad:
                failed += 1
                o.setdefault("error", f"wrong answer for {bad[:3]}")
                o["diff"] = {q: {"got": sorted(r[1:] for r in o["rows"] or [] if r[0] == q),
                                 "want": want[q]} for q in bad[:2]}
        return len(self.ops), failed

    # ---- metrics -------------------------------------------------------------
    def _median(self, step: str) -> float:
        return statistics.median(self.times.get(step) or [float("nan")])

    def end_to_end(self, peak_rss: int) -> dict:
        with open(os.path.join(self.idx, "meta", "stats.json")) as f:
            self.index_stats = json.load(f)
        m = {
            "setup_s": (self.setup_s, "s"),
            "build_files_per_s": (statistics.median(self.build_rates), "files/s"),
            "index_bytes_per_input_byte": (_du(self.idx) / self.content_bytes, "ratio"),
            "open_s": (self._median("open"), "s"),
            "batch_p50_s": (self._median("batch"), "s"),
            "single_p50_s": (self._median("single"), "s"),
            "peak_rss_mb": (peak_rss / 2**20, "MB"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def per_layer(self) -> dict:
        t = self.tracer
        spans = t.spans
        by_name: dict[str, list[dict]] = {}
        for s in spans:
            by_name.setdefault(s["name"], []).append(s)

        def dur(s):
            return s["end"] - s["start"]

        def med(xs):
            return statistics.median(xs) if xs else 0.0

        phases = {"phase0": 0.0, "phase1": 0.0, "phase1b": 0.0, "phase2": 0.0}
        for b in by_name.get("build_index", []):
            for label, v in b["phases"].items():
                head = label.split()[0]
                key = "phase2" if head in ("phase2", "phase3") else head
                phases[key] += v
        build_counts = self.counts.get("build", [])

        # serving calls: Searcher.topk spans that sit inside a serving step
        serve_steps = [s for s in spans if s["layer"] == "bench"
                       and s["name"] in ("batch", "single", "phrase", "and")]
        plan, rng, mat = [], [], []
        for step in serve_steps:
            kids = t.descendants(step)
            topk = [k for k in kids if k["name"] == "topk"]
            serve = [k for k in kids if k["name"] == "serve_topk_direct"]
            coll = [k for k in kids if k["name"] == "collect"]
            plan.append(sum(map(dur, topk)) - sum(map(dur, serve)))
            rng.extend(map(dur, serve))
            mat.extend(map(dur, coll))
        q_counts = [c for s in ("batch", "single", "phrase", "and")
                    for c in self.counts.get(s, [])]
        stats = self.index_stats
        n_post = max(1, int(stats["n_postings"]))
        self_t = t.self_times()
        recon = self._reconcile(spans)
        overhead = []
        for s in ("batch", "single", "phrase", "and"):
            on, off = self.times.get(s), self.times.get(f"{s}.untraced")
            if on and off:
                overhead.append(statistics.median(on) / statistics.median(off) - 1)
        all_counts = [c for cs in self.counts.values() for c in cs]
        m = {
            "index.phase0_s": (phases["phase0"], "s"),
            "index.phase1_s": (phases["phase1"], "s"),
            "index.phase1b_s": (phases["phase1b"], "s"),
            "index.phase2_s": (phases["phase2"], "s"),
            "index.build_spark_jobs": (sum(c["jobs"] for c in build_counts), "count"),
            "index.build_spark_tasks": (sum(c["tasks"] for c in build_counts), "count"),
            "index.segment_bytes_per_posting": (
                _du(os.path.join(self.idx, "segments")) / n_post, "bytes"),
            "index.run_bytes_per_posting": (
                _du(os.path.join(self.idx, "flat")) / n_post, "bytes"),
            "index.postings": (int(stats["n_postings"]), "count"),
            "index.docs": (int(stats["n_docs"]), "count"),
            "index.self_s": (self_t.get("index", 0.0), "s"),
            "query.plan_s": (med(plan), "s"),
            "query.range_job_s": (med(rng), "s"),
            "query.materialize_s": (med(mat), "s"),
            # untraced rounds of the traced run: the wall a caller sees
            "query.phrase_batch_s": (self._median("phrase.untraced"), "s"),
            "query.and_batch_s": (self._median("and.untraced"), "s"),
            "query.spark_jobs_per_call": (
                statistics.mean(c["jobs"] for c in q_counts), "count"),
            "query.spark_tasks_per_call": (
                statistics.mean(c["tasks"] for c in q_counts), "count"),
            "query.preload_s": (med([dur(s) for s in by_name.get("preload_files", [])]), "s"),
            "query.lexicon_load_s": (
                med([dur(s) for s in by_name.get("load_lexicon", [])]), "s"),
            "query.preload_bytes": (self.preload_bytes, "bytes"),
            "query.self_s": (self_t.get("query", 0.0), "s"),
            "streaming.ingest_spark_tasks": (
                sum(c["tasks"] for c in self.counts.get("ingest.stream", [])), "count"),
            "streaming.delta_batch_s": (self._median("delta"), "s"),
            "streaming.delta_query_spark_tasks": (
                statistics.mean(c["tasks"] for c in self.counts["delta"]), "count"),
            "streaming.fold_buckets_redone_frac": (
                statistics.mean(self.fold_frac) if self.fold_frac else 0.0, "ratio"),
            "streaming.self_s": (self_t.get("streaming", 0.0), "s"),
            "spark.failed_task_attempts": (
                sum(c["failed_tasks"] for c in all_counts), "count"),
            "trace.reconcile_gap_frac": (recon, "ratio"),
            "trace.reconciled": (int(abs(recon) <= 0.10), "count"),
            "trace.overhead_frac": (med(overhead), "ratio"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def _reconcile(self, spans) -> float:
        """1 - (layer time accounted inside the traced blocking steps) /
        (their wall time). A build_index call is accounted by the phase
        times it reports itself; every other call by its span."""
        wall = accounted = 0.0
        for s in spans:
            if s["layer"] != "bench" or "wall" not in s:
                continue
            wall += s["wall"]
            for k in spans[s["id"] + 1:]:
                if k["parent"] != s["id"]:
                    continue
                accounted += (sum(k["phases"].values()) if "phases" in k
                              else k["end"] - k["start"])
        return 1.0 - accounted / wall if wall else 0.0


def run(root: str, work: str, wl_name: str, spec: dict, seed: int,
        seconds: float, trace: bool) -> dict:
    """Execute one run and return the full report (see run.py for output)."""
    wl = spec["workloads"][wl_name]
    nproc = len(os.sched_getaffinity(0))
    settings = {
        "nproc": nproc,
        # half the CPUs run tasks; the rest keep the JVM's scheduler and
        # RPC threads, the driver and the Python worker daemon off the
        # tasks' cores, so a call's latency is not queueing for a core
        "task_slots": max(1, nproc // 2),
        "driver_memory": spec["session"]["spark.driver.memory"],
    }
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)
    r = Run(root, work, wl_name, wl, spec["index_config"][wl_name], seed,
            seconds, trace, settings)
    walls = {}
    t0 = time.perf_counter()
    try:
        with RssSampler() as rss:
            r.setup()
            r.measure()
        walls["setup+measure"] = time.perf_counter() - t0
        attempted, failed = r.check()
        e2e = r.end_to_end(rss.peak)
        layers = r.per_layer() if trace else None
        walls["check"] = time.perf_counter() - t0 - walls["setup+measure"]
    finally:
        r.tracer.uninstall()
        if hasattr(r, "spark"):
            stop_session(r.spark)
    walls["total"] = time.perf_counter() - t0
    return {
        "workload": wl_name,
        "seed": seed,
        "trace": trace,
        "host": host_stamp(root) | {"settings": settings, "load": r.load},
        "attempted": attempted,
        "failed": failed,
        "errors": [o.get("error") for o in r.ops if o.get("error")][:5],
        "failed_ops": [o for o in r.ops if not o.get("ok")][:3],
        "tie_reorders": r.tie_reorders,
        "end_to_end": e2e,
        "per_layer": layers,
        "spans": r.tracer.spans,
        "counts": r.counts,
        "times": r.times,
        "walls": walls | r.setup_parts,
        "rss_at_peak": rss.at_peak,
    }
