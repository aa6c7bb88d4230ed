"""Per-worker decoded-table cache of the direct serving path: fingerprint
invalidation, LRU byte-budget eviction, and the budgets derived from the
host. Pure Python/pyarrow — no SparkSession (the cache lives inside
executor worker processes; end-to-end identity is covered by
tests/test_searcher.py)."""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from quickb_spark.query import serve_direct as sd


def _seg_file(path, n_rows, seed):
    rng = np.random.default_rng(seed)
    n_blocks = 1
    tbl = pa.table(
        {
            "term_h": pa.array(
                rng.integers(-(2**60), 2**60, n_rows), type=pa.int64()
            ),
            "df_part": pa.array(np.full(n_rows, 1), type=pa.int64()),
            "doc_stream": pa.array([rng.bytes(64)] * n_rows, type=pa.binary()),
            "tf_stream": pa.array([b"\x01"] * n_rows, type=pa.binary()),
            "dl_stream": pa.array([b"\x03"] * n_rows, type=pa.binary()),
            "block_last_doc": pa.array([[2**62]] * n_rows, type=pa.list_(pa.int64())),
            "block_doc_off": pa.array([[0]] * n_rows, type=pa.list_(pa.int64())),
            "block_tf_off": pa.array([[0] * n_blocks] * n_rows, type=pa.list_(pa.int64())),
            "block_dl_off": pa.array([[0]] * n_rows, type=pa.list_(pa.int64())),
        }
    )
    pq.write_table(tbl, str(path))
    return tbl


@pytest.fixture(autouse=True)
def _fresh_cache(monkeypatch):
    # isolate from the host-shared decoded cache (/dev/shm default): the
    # LRU tests below assert decode/identity behavior of the in-process
    # tier alone; the shm tier has its own tests further down
    monkeypatch.setenv("QKB_SERVE_SHM_DIR", "")
    sd._TBL_CACHE.clear()
    sd._TBL_CACHE_BYTES[0] = 0
    yield
    sd._TBL_CACHE.clear()
    sd._TBL_CACHE_BYTES[0] = 0


def test_cache_hit_and_fingerprint_invalidation(tmp_path, monkeypatch):
    monkeypatch.setattr(sd, "_cache_budget", lambda: 64 << 20)
    p = tmp_path / "seg.parquet"
    _seg_file(p, 50, seed=1)
    a = sd._cached_table(str(p), want_pos=False)
    assert sd._cached_table(str(p), want_pos=False) is a  # cache hit
    assert len(sd._TBL_CACHE) == 1
    # replace the file (rebuild): same path, new content -> new fingerprint
    time.sleep(0.01)
    _seg_file(p, 70, seed=2)
    os.utime(p)  # ensure mtime moves even on coarse-clock filesystems
    b = sd._cached_table(str(p), want_pos=False)
    assert b is not a and b.num_rows == 70
    assert len(sd._TBL_CACHE) == 1  # stale entry replaced, not leaked


def test_cache_lru_eviction_respects_budget(tmp_path, monkeypatch):
    monkeypatch.setattr(sd, "_cache_budget", lambda: 1 << 20)
    paths = []
    for i in range(6):
        p = tmp_path / f"seg{i}.parquet"
        _seg_file(p, 2000, seed=i)  # ~150KB+ of stream bytes each
        paths.append(str(p))
    for p in paths:
        sd._cached_table(p, want_pos=False)
    assert sd._TBL_CACHE_BYTES[0] <= 1 << 20
    assert 0 < len(sd._TBL_CACHE) < 6  # something cached, something evicted
    # most-recently-used entry survived; the oldest went first
    assert (paths[-1], False) in sd._TBL_CACHE
    assert (paths[0], False) not in sd._TBL_CACHE


def test_cache_thread_safe_under_eviction(tmp_path, monkeypatch):
    """Threads sharing one process's LRU (driver-path callers) while the
    budget forces evictions: every read returns its file's table and the
    byte count matches the entries left."""
    from concurrent.futures import ThreadPoolExecutor

    monkeypatch.setattr(sd, "_cache_budget", lambda: 1 << 20)
    paths = []
    for i in range(6):
        p = tmp_path / f"seg{i}.parquet"
        _seg_file(p, 2000, seed=20 + i)
        paths.append(str(p))
    want = {p: pq.read_table(p).column("term_h") for p in paths}

    def read(i):
        p = paths[i % len(paths)]
        return p, sd._cached_table(p, want_pos=False)

    with ThreadPoolExecutor(8) as ex:
        for p, tbl in ex.map(read, range(1200)):
            assert tbl.column("term_h").equals(want[p])
    assert sd._TBL_CACHE_BYTES[0] == sum(
        t.nbytes for _, t in sd._TBL_CACHE.values()
    )
    assert sd._TBL_CACHE_BYTES[0] <= 1 << 20


# --------------------------------------------------------------------------
# host-shared decoded-table cache (Arrow IPC in /dev/shm — the per-host
# segment cache that makes the server open's decode once-per-HOST instead
# of once-per-worker-process)
# --------------------------------------------------------------------------


def test_shm_publish_and_mmap_read(tmp_path, monkeypatch):
    shm = tmp_path / "shm"
    monkeypatch.setenv("QKB_SERVE_SHM_DIR", str(shm))
    p = tmp_path / "seg.parquet"
    want = _seg_file(p, 80, seed=5)
    a = sd._cached_table(str(p), want_pos=False)
    published = list(shm.glob("*.arrow"))
    assert len(published) == 1  # decoded form published for peers
    # simulate a DIFFERENT worker process: fresh LRU, parquet decode
    # forbidden — the table must come back via the shm mmap alone
    sd._TBL_CACHE.clear()
    sd._TBL_CACHE_BYTES[0] = 0
    import pyarrow.parquet as _pq

    def _boom(*a, **k):
        raise AssertionError("peer worker must not re-decode parquet")

    monkeypatch.setattr(_pq, "read_table", _boom)
    b = sd._cached_table(str(p), want_pos=False)
    assert b.equals(a)
    assert b.num_rows == want.num_rows


def test_shm_fingerprint_never_serves_stale(tmp_path, monkeypatch):
    shm = tmp_path / "shm"
    monkeypatch.setenv("QKB_SERVE_SHM_DIR", str(shm))
    p = tmp_path / "seg.parquet"
    _seg_file(p, 30, seed=6)
    sd._cached_table(str(p), want_pos=False)
    # rebuild: same path, new content — the shm key includes (size,
    # mtime), so the stale entry can never match
    time.sleep(0.01)
    _seg_file(p, 45, seed=7)
    os.utime(p)
    sd._TBL_CACHE.clear()
    sd._TBL_CACHE_BYTES[0] = 0
    b = sd._cached_table(str(p), want_pos=False)
    assert b.num_rows == 45


def test_shm_eviction_bounds_dir(tmp_path, monkeypatch):
    shm = tmp_path / "shm"
    monkeypatch.setenv("QKB_SERVE_SHM_DIR", str(shm))
    monkeypatch.setenv("QKB_SERVE_SHM_MB", "1")
    for i in range(8):
        p = tmp_path / f"seg{i}.parquet"
        _seg_file(p, 2000, seed=10 + i)
        sd._cached_table(str(p), want_pos=False)
    total = sum(f.stat().st_size for f in shm.glob("*.arrow"))
    assert total <= 1 << 20
    assert list(shm.glob("*.arrow"))  # newest survives


def test_shm_disabled_publishes_nothing(tmp_path, monkeypatch):
    monkeypatch.setenv("QKB_SERVE_SHM_DIR", "")
    p = tmp_path / "seg.parquet"
    _seg_file(p, 10, seed=9)
    sd._cached_table(str(p), want_pos=False)
    assert sd._shm_dir() is None


def test_shm_failed_publish_leaves_no_temp_file(tmp_path, monkeypatch):
    """A publish that fails mid-write (ENOSPC on a full tmpfs) still
    returns the decoded table and removes its temp file: eviction counts
    only *.arrow entries, so a left-over temp file would never go."""
    shm = tmp_path / "shm"
    monkeypatch.setenv("QKB_SERVE_SHM_DIR", str(shm))
    p = tmp_path / "seg.parquet"
    want = _seg_file(p, 40, seed=11)

    def _full(*a, **k):
        raise OSError(28, "No space left on device")

    monkeypatch.setattr(pa.ipc, "new_file", _full)
    tbl = sd._cached_table(str(p), want_pos=False)
    assert tbl.num_rows == want.num_rows
    assert tbl.column("term_h").equals(want.column("term_h"))
    assert not [f for f in os.listdir(shm) if ".tmp." in f]


def test_shm_publish_keeps_the_mapped_table(tmp_path, monkeypatch):
    """After publishing, the process caches the memory-mapped entry, not
    the heap table it decoded: the Arrow pool does not keep the bytes."""
    shm = tmp_path / "shm"
    monkeypatch.setenv("QKB_SERVE_SHM_DIR", str(shm))
    p = tmp_path / "seg.parquet"
    _seg_file(p, 4000, seed=12)
    before = pa.total_allocated_bytes()
    tbl = sd._cached_table(str(p), want_pos=False)
    assert tbl.nbytes > 200_000
    assert pa.total_allocated_bytes() - before < tbl.nbytes // 10


class _FakeJvm:
    class System:
        getenv = staticmethod(os.environ.get)


class _FakeSc:
    master = "local[2]"
    defaultParallelism = 2
    environment: dict = {}
    _jvm = _FakeJvm()


class _FakeSpark:
    sparkContext = _FakeSc()


def test_preload_evicts_once_for_many_files(tmp_path, monkeypatch):
    """A driver-side preload publishes every file, then evicts the shared
    dir once: one listing per preload, not one per published file."""
    shm = tmp_path / "shm"
    monkeypatch.setenv("QKB_SERVE_SHM_DIR", str(shm))
    paths = []
    for i in range(64):
        p = tmp_path / f"seg{i}.parquet"
        _seg_file(p, 20, seed=100 + i)
        paths.append(str(p))
    calls = []
    real = sd._shm_evict

    def counted(*args):
        calls.append(args)
        return real(*args)

    monkeypatch.setattr(sd, "_shm_evict", counted)
    # a fake session: any Spark job would fail on it
    got = sd.preload_files(_FakeSpark(), paths, want_pos=False)
    assert got == sum(sd._cached_table(p, False).nbytes for p in paths)
    assert len(calls) <= 1
    assert len(list(shm.glob("*.arrow"))) == 64
    # a lazy miss outside preload still bounds the dir itself
    p = tmp_path / "late.parquet"
    _seg_file(p, 20, seed=99)
    sd._cached_table(str(p), want_pos=False)
    assert len(calls) == 2


def test_shm_budget_default_fits_a_small_host(tmp_path, monkeypatch):
    """Without QKB_SERVE_SHM_MB the budget is a share of the smaller of
    the cache filesystem and RAM, so a small host's cache stays below its
    RAM even on a large tmpfs."""
    monkeypatch.delenv("QKB_SERVE_SHM_MB", raising=False)
    monkeypatch.setattr(sd, "_BUDGETS", {})
    ram = 2 << 30

    class _Vfs:
        f_frsize = 4096
        f_blocks = (64 << 30) // 4096

    monkeypatch.setattr(sd, "_phys_ram_bytes", lambda: ram)
    monkeypatch.setattr(os, "statvfs", lambda _p: _Vfs())
    shm = str(tmp_path / "not_yet_created")
    budget = sd._shm_budget(shm)
    assert 0 < budget < ram
    # a small filesystem bounds it too
    _Vfs.f_blocks = (256 << 20) // 4096
    monkeypatch.setattr(sd, "_BUDGETS", {})
    assert 0 < sd._shm_budget(shm) < 256 << 20
    # computed once per process: a later call reuses the value
    _Vfs.f_blocks = (64 << 30) // 4096
    assert sd._shm_budget(shm) < 256 << 20
    # a large host is capped
    monkeypatch.setattr(sd, "_phys_ram_bytes", lambda: 256 << 30)
    monkeypatch.setattr(sd, "_BUDGETS", {})
    assert sd._shm_budget(shm) == sd._SHM_BUDGET_CAP
    # the env var still overrides
    monkeypatch.setenv("QKB_SERVE_SHM_MB", "7")
    assert sd._shm_budget(shm) == 7 << 20


def _fake_host(monkeypatch, ram: int, cores: int) -> None:
    monkeypatch.setattr(sd, "_BUDGETS", {})
    monkeypatch.setattr(sd, "_phys_ram_bytes", lambda: ram)
    monkeypatch.setattr(os, "sched_getaffinity",
                        lambda _pid: set(range(cores)))


def _lexicon_cap_mb() -> int:
    """The max_mb Searcher.load_lexicon passes when the caller sets none."""
    from quickb_spark.query.searcher import Searcher

    s = Searcher.__new__(Searcher)
    s.n_buckets = 1
    seen = []
    s._read_lexicon = lambda _buckets, max_mb: seen.append(max_mb)
    assert s.load_lexicon() is False
    return seen[0]


def test_host_budgets_fit_a_small_host(monkeypatch):
    """On a 2 GiB, 4-core host the driver and one worker per core hold
    LRUs that together stay under half the RAM, and the driver lexicon
    cap is 1/16 of the RAM."""
    _fake_host(monkeypatch, 2 << 30, 4)
    budget = sd._cache_budget()
    assert budget == (2 << 30) // 10
    assert 5 * budget <= 1 << 30
    assert _lexicon_cap_mb() == 128
    # a process pinned to one core leaves room for fewer workers
    _fake_host(monkeypatch, 2 << 30, 1)
    assert sd._cache_budget() == (2 << 30) // 4


def test_host_budgets_fit_a_large_host(monkeypatch):
    """A large host, or one whose RAM is unknown, gets the caps."""
    for ram in (256 << 30, 0):
        _fake_host(monkeypatch, ram, 4)
        assert sd._cache_budget() == 6144 << 20
        assert _lexicon_cap_mb() == 1024


def test_host_budgets_derived_and_logged_once(monkeypatch, caplog):
    import logging

    _fake_host(monkeypatch, 2 << 30, 4)
    with caplog.at_level(logging.INFO, logger=sd.__name__):
        first = sd._cache_budget()
        _lexicon_cap_mb()
        # a later probe of the host is not consulted again
        monkeypatch.setattr(sd, "_phys_ram_bytes", lambda: 256 << 30)
        assert sd._cache_budget() == first
        assert _lexicon_cap_mb() == 128
    logged = [r.getMessage() for r in caplog.records]
    assert sum("decoded-table LRU" in m for m in logged) == 1
    assert sum("driver lexicon" in m for m in logged) == 1


def test_driver_open_needs_the_workers_cache_settings(tmp_path,
                                                      monkeypatch):
    """The driver publishes only where range tasks will look: a
    same-host master whose workers resolve the driver's cache dir and
    budget. A dir or budget set for the executors only, or a driver
    environment changed after the JVM started, takes the job path."""
    monkeypatch.setenv("QKB_SERVE_SHM_DIR", str(tmp_path / "shm"))
    monkeypatch.delenv("QKB_SERVE_SHM_MB", raising=False)
    sc = _FakeSc()
    assert sd._workers_share_cache(sc)
    sc.master = "local-cluster[2,1,1024]"
    assert sd._workers_share_cache(sc)
    sc.master = "spark://elsewhere:7077"
    assert not sd._workers_share_cache(sc)
    sc.master = "local[2]"
    sc.environment = {"QKB_SERVE_SHM_DIR": str(tmp_path / "other")}
    assert not sd._workers_share_cache(sc)
    sc.environment = {"QKB_SERVE_SHM_MB": "64"}
    assert not sd._workers_share_cache(sc)
    sc.environment = {"QKB_SERVE_SHM_DIR": str(tmp_path / "shm")}
    assert sd._workers_share_cache(sc)

    class _OldJvm:
        class System:
            getenv = staticmethod({"QKB_SERVE_SHM_DIR": "/started/with"}.get)

    sc.environment = {}
    sc._jvm = _OldJvm()
    assert not sd._workers_share_cache(sc)
