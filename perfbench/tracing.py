"""Spans, Spark job accounting, memory sampling and the host stamp.

Spans are recorded by the benchmark itself: `Tracer.install()` wraps the
engine's public, call-time-imported functions (the engine looks them up as
module attributes at call time, so a wrapped attribute is what it calls) and
`Tracer.span()` marks the benchmark's own calls into a layer. Spans stay in
memory and are written out once, when the run ends.

A layer's self time is the time its spans cover minus the part their child
spans cover, so a fold's rebuild is index time, not streaming time.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import subprocess
import threading
import time

#: (module, attribute, layer) for every engine function the traced run wraps.
WRAPPED = [
    ("quickb_spark.index.segments", "build_index", "index"),
    ("quickb_spark.index.p1_direct", "presample_hot_direct", "index"),
    ("quickb_spark.index.p1_direct", "build_flat_runs", "index"),
    ("quickb_spark.index.p2_direct", "merge_encode_buckets", "index"),
    ("quickb_spark.query.serve_direct", "serve_topk_direct", "query"),
    ("quickb_spark.query.serve_direct", "preload_files", "query"),
    ("quickb_spark.query.searcher", "Searcher.topk", "query"),
    ("quickb_spark.query.searcher", "Searcher.load_lexicon", "query"),
]


class PhaseClock(dict):
    """The `timings` dict build_index fills with its phase times, rounded
    to 10 ms. Each entry's arrival is clocked here, so the same phase
    boundaries are also known at full precision (`phases`)."""

    def __init__(self) -> None:
        super().__init__()
        self._last = time.perf_counter()
        self.phases: dict[str, float] = {}

    def __setitem__(self, label: str, value: float) -> None:
        now = time.perf_counter()
        self.phases[label] = self.phases.get(label, 0.0) + now - self._last
        self._last = now
        super().__setitem__(label, value)


class Tracer:
    """In-memory span recorder plus per-step Spark job groups.

    Disabled tracers record nothing and set no job groups, so an untraced
    run executes only the engine calls and the benchmark's stopwatches."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []
        self._group_seq = 0

    # ---- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def install(self) -> None:
        """Wrap every function in WRAPPED with a span (traced runs only)."""
        if not self.enabled:
            return
        for mod_name, attr, layer in WRAPPED:
            owner = importlib.import_module(mod_name)
            path = attr.split(".")
            for part in path[:-1]:
                owner = getattr(owner, part)
            orig = getattr(owner, path[-1])
            setattr(owner, path[-1], self._wrap(orig, path[-1], layer))
            self._undo.append((owner, path[-1], orig))

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo.clear()

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if name == "build_index" and tracer.enabled:
                # phase times at full precision; the fold's rebuild passes none
                clock = PhaseClock()
                if kwargs.get("timings") is not None:
                    clock.update(kwargs["timings"])
                kwargs["timings"] = clock
            with tracer.span(name, layer) as rec:
                if rec is not None and name == "build_index":
                    rec["phases"] = kwargs["timings"].phases
                return fn(*args, **kwargs)

        return wrapper

    def self_times(self) -> dict[str, float]:
        """layer -> summed self time: each span's duration minus the part
        its child spans cover."""
        children: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]] = (
                    children.get(s["parent"], 0.0) + s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - children.get(s["id"], 0.0)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def descendants(self, root: dict) -> list[dict]:
        ids = {root["id"]}
        out = []
        for s in self.spans[root["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    # ---- Spark job groups --------------------------------------------------
    @contextlib.contextmanager
    def job_group(self, sc, step: str):
        """Tag the Spark jobs of one call; yields the group id (None when
        tracing is off)."""
        if not self.enabled:
            yield None
            return
        self._group_seq += 1
        gid = f"perfbench-{step}-{self._group_seq}"
        sc.setJobGroup(gid, step)
        try:
            yield gid
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


def spark_counts(sc, group: str | None) -> dict[str, int]:
    """Jobs, task attempts run and failed attempts of one job group."""
    out = {"jobs": 0, "tasks": 0, "failed_tasks": 0}
    if group is None:
        return out
    st = sc.statusTracker()
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None:
                out["tasks"] += si.numCompletedTasks + si.numFailedTasks
                out["failed_tasks"] += si.numFailedTasks
    return out


# ---- memory ------------------------------------------------------------------
#: task flag of a process that forked and has not exec'd yet
PF_FORKNOEXEC = 0x40


def _tree_rss(root: int) -> dict[str, int]:
    """RSS bytes of `root` and all its descendants (driver, JVM, workers),
    summed per command name.

    A child the JVM has forked but not yet exec'd (it is about to become a
    Python worker) still shares the JVM's memory and shows the JVM's whole
    RSS; it is skipped, or one sample in a few runs would count the JVM
    twice."""
    parent: dict[int, int] = {}
    rss: dict[int, tuple[str, int]] = {}
    skip: set[int] = set()
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except (OSError, ValueError):
            continue
        rest = rest.split()
        pid = int(d)
        parent[pid] = int(rest[1])
        rss[pid] = (head.split("(", 1)[-1], int(rest[21]) * page)
        if int(rest[6]) & PF_FORKNOEXEC:
            skip.add(pid)
    out: dict[str, int] = {}
    for pid, (comm, r) in rss.items():
        if pid in skip and rss.get(parent[pid], ("",))[0] == "java":
            continue
        p, hops = pid, 0
        while p > 1 and hops < 64:
            if p == root:
                out[comm] = out.get(comm, 0) + r
                out[f"{comm}#"] = out.get(f"{comm}#", 0) + 1
                break
            p = parent.get(p, 0)
            hops += 1
    return out


class RssSampler:
    """Background thread sampling the process tree's summed RSS."""

    def __init__(self, interval: float = 0.25) -> None:
        self._interval = interval
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        by_comm = _tree_rss(os.getpid())
        total = sum(v for k, v in by_comm.items() if not k.endswith("#"))
        if total > self.peak:
            self.peak, self.at_peak = total, by_comm

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


# ---- host stamp --------------------------------------------------------------
def host_stamp(root: str) -> dict:
    """nproc, RAM and the git commit of the measured tree (when known)."""
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    commit = "unknown"
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "commit": commit,
    }
