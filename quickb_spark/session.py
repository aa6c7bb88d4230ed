"""Worker-process tuning for build/serving sessions: memory env, zip imports.

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

Zip directory re-reads (measured, pyspark 4.1.2 on Python 3.11, 2-slot
local master): pyspark's `worker_util.setup_spark_files` calls
`importlib.invalidate_caches()` at the start of EVERY task. Before Python
3.13, `zipimport.zipimporter.invalidate_caches` eagerly re-reads its
archive's whole central directory, and a worker's `sys.path_importer_cache`
holds 16 zipimporters (one per imported subpackage) over pyspark.zip, the
py4j zip and the spark-core jar (plus the app zip under `--py-files`):
16 directory reads, 0.14-0.2 s of every task before its function starts.
`keep_zip_directories` replaces that method with one that re-reads an
archive only when its `(st_mtime_ns, st_size, st_ino)` changed since its
last read, and otherwise rebinds the importer to the directory already in
`zipimport._zip_directory_cache`; the per-task call drops to ~0.2 ms. A
replaced archive is still re-read, so imports see what they saw before.
`quickb_spark/__init__.py` installs it, so every worker that unpickles an
engine closure has it before its next task. Python 3.13 made the method
drop its cache instead of re-reading, so the function does nothing there
and can be deleted once the floor reaches 3.13.
"""

from __future__ import annotations

import os
import sys
import threading
import zipimport

__all__ = ["worker_memory_env", "tune_builder", "keep_zip_directories"]

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


def keep_zip_directories() -> None:
    """Make `zipimporter.invalidate_caches` re-read an archive only when
    its file changed (see the module docstring). Idempotent; a no-op on
    Python >= 3.13.

    Archives read before the install have no recorded stat, so the
    install re-reads each one behind a cached importer once (30-50 ms in
    a worker, once per process): from then on every directory in the
    cache is known to match the stat recorded with it."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or cls.invalidate_caches.__module__ == __name__:
        return
    reread = cls.invalidate_caches
    read_at: dict[str, tuple[int, int, int]] = {}
    # one reader at a time: a cached directory and its recorded stat
    # must come from the same read
    lock = threading.Lock()

    def invalidate_caches(self):
        with lock:
            try:
                st = os.stat(self.archive)
                key = (st.st_mtime_ns, st.st_size, st.st_ino)
            except OSError:
                key = None
            files = zipimport._zip_directory_cache.get(self.archive)
            if key is not None and files is not None and read_at.get(self.archive) == key:
                self._files = files
                return
            # stat before the read: a change during it shows on the next call
            reread(self)
            if key is not None and self.archive in zipimport._zip_directory_cache:
                read_at[self.archive] = key
            else:
                read_at.pop(self.archive, None)

    invalidate_caches.__doc__ = reread.__doc__
    invalidate_caches.__wrapped__ = reread
    cls.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder.invalidate_caches()
