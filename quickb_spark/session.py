"""Worker-process memory tuning for build/serving sessions.

Why this exists (measured, 2026-08-18, per-task rusage probes on the 4M-doc
fixture index at local-cluster[4,2]): every serving range task minor-faulted
~850k pages (~3.3 GB) EVEN WARM — glibc munmaps large freed numpy temps and
pyarrow's default jemalloc pool purges dirty pages back to the OS, so each
task re-faults its whole temporary working set and the kernel re-zeroes the
pages. Page zeroing is DRAM-bound, so at 4N workers it contends on the one
memory controller exactly like the phase-2 merge — it was the largest
non-scaling component of the query batch (warm task stime 1.8s of 5.0s).

With BOTH knobs applied (neither alone suffices — the A/B is recorded in
BENCH/query_decompose_r4.json):

  - MALLOC_MMAP_THRESHOLD_/MALLOC_TRIM_THRESHOLD_=512MB — glibc keeps
    freed sub-512MB blocks in the arena for reuse instead of munmapping,
  - ARROW_DEFAULT_MEMORY_POOL=system — Arrow allocations (table filter,
    cast, concat) go through the same tuned glibc instead of jemalloc's
    purge-on-decay,

warm serving tasks drop to ~0 minor faults / ~0 stime and run 25% faster
(4.93s -> 3.67s median), and the cold-after-preload batch drops 40%
(27.5s -> 16.4s wall). The same env applies to the build's pyarrow tasks
(phase-2 merge is DRAM-bound; its temps churn the same way).

Cost: each worker's RSS retains its peak temp arena (~+0.3 GB on the 4M
serving fixture). Size executors accordingly. A variable already set in
the driver process is passed through as set: to change a value, set the
real variable before calling `tune_builder`.

These are env vars, not Spark confs, because glibc reads them at process
start: they must reach the PYTHON WORKER environment. A worker's
environment is the driver JVM's overlaid with `spark.executorEnv.*`, on
local masters too, so `tune_builder` writes each resolved value to both
`spark.executorEnv.*` and `os.environ` (which the JVM gateway inherits
at launch).
"""

from __future__ import annotations

import os

__all__ = ["worker_memory_env", "tune_builder"]

#: Defaults measured on the 4M fixture (see module docstring). 512MB
#: threshold keeps every observed serving/merge temp block arena-resident;
#: blocks above it still mmap/munmap (bounded RSS for pathological sizes).
_DEFAULTS = {
    "MALLOC_MMAP_THRESHOLD_": "536870912",
    "MALLOC_TRIM_THRESHOLD_": "536870912",
    "ARROW_DEFAULT_MEMORY_POOL": "system",
}


def worker_memory_env() -> dict[str, str]:
    """The worker env vars to apply: each one's value in this process
    when set, else its measured default."""
    return {k: os.environ.get(k, v) for k, v in _DEFAULTS.items()}


def tune_builder(builder):
    """Apply worker memory tuning to a SparkSession.Builder (chainable).

    Writes each resolved value to spark.executorEnv.* and os.environ, so
    workers and the driver see the same one. Call BEFORE getOrCreate()
    and before the JVM gateway starts (the gateway inherits os.environ
    at launch)."""
    for key, val in worker_memory_env().items():
        builder = builder.config(f"spark.executorEnv.{key}", val)
        os.environ[key] = val
    return builder
