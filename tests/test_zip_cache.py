"""`session.keep_zip_directories`: a zip archive on `sys.path` is re-read
by `importlib.invalidate_caches()` only when its file changed.

pyspark calls `importlib.invalidate_caches()` at the start of every
Python task; before Python 3.13 each zipimporter then re-reads its whole
archive directory. These tests count `zipimport._read_directory` calls."""

from __future__ import annotations

import importlib
import sys
import uuid
import zipfile
import zipimport

import pytest

import quickb_spark  # noqa: F401  (installs the shim)
from quickb_spark import session

needs_shim = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="Python >= 3.13 re-reads no zip directory")


@pytest.fixture
def reads(monkeypatch):
    """List of archives `zipimport._read_directory` read during the test."""
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.fixture
def zip_on_path(tmp_path):
    """Write `{module: source}` to one zip on `sys.path`; undone after."""
    path = str(tmp_path / "mods.zip")
    added = []

    def write(modules: dict[str, str]) -> str:
        with zipfile.ZipFile(path, "w") as z:
            for name, src in modules.items():
                z.writestr(f"{name}.py", src)
        added.extend(modules)
        return path

    sys.path.insert(0, path)
    yield write
    sys.path.remove(path)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)
    for name in added:
        sys.modules.pop(name, None)


def _name() -> str:
    return f"qkb_zip_mod_{uuid.uuid4().hex[:8]}"


@needs_shim
def test_unchanged_zip_is_not_reread(zip_on_path, reads):
    a = _name()
    path = zip_on_path({a: "X = 1\n"})
    assert importlib.import_module(a).X == 1
    assert reads == [path]  # the importer's own first read
    importlib.invalidate_caches()  # records the stat of its read
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    # the importer still serves its archive
    assert sys.path_importer_cache[path].archive == path
    assert f"{a}.py" in sys.path_importer_cache[path]._files


@needs_shim
def test_rewritten_zip_is_reread(zip_on_path, reads):
    a, b = _name(), _name()
    path = zip_on_path({a: "X = 1\n"})
    importlib.import_module(a)
    importlib.invalidate_caches()
    zip_on_path({a: "X = 1\n", b: "Y = 2\n"})
    del reads[:]
    importlib.invalidate_caches()
    assert reads == [path]
    assert importlib.import_module(b).Y == 2
    del reads[:]
    importlib.invalidate_caches()
    assert reads == []


@needs_shim
def test_second_install_is_a_noop(reads):
    first = zipimport.zipimporter.invalidate_caches
    assert first.__module__ == "quickb_spark.session"
    session.keep_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is first
    assert reads == []


def test_nothing_patched_on_python_313(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    if stock.__module__ == "quickb_spark.session":
        stock = stock.__wrapped__  # the replaced method
        assert stock.__module__ != "quickb_spark.session"
        monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    session.keep_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is stock


@needs_shim
def test_reused_worker_task_reads_no_archive(spark):
    """Two jobs on the same workers: the second job's tasks run the
    engine's `invalidate_caches` and read no archive directory, although
    the workers have zip archives on their path."""

    def probe(_):
        import os
        import sys
        import zipimport

        import quickb_spark  # noqa: F401

        rd = zipimport._read_directory
        first = not hasattr(rd, "calls")
        if first:  # count from now on, through the next task's setup
            def counting(archive):
                counting.calls += 1
                return counting.real(archive)

            counting.calls, counting.real = 0, rd
            zipimport._read_directory = counting
            calls = 0
        else:
            calls = rd.calls
            zipimport._read_directory = rd.real
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        return (os.getpid(), first, calls, zips,
                zipimport.zipimporter.invalidate_caches.__module__)

    sc = spark.sparkContext
    n = sc.defaultParallelism
    warm = sc.parallelize(range(n), n).map(probe).collect()
    again = sc.parallelize(range(n), n).map(probe).collect()
    reused = [r for r in again if not r[1]]
    assert reused, (warm, again)
    for pid, _, calls, zips, module in reused:
        assert zips > 0  # the workers import from zip archives
        assert calls == 0, (pid, calls)
        assert module == "quickb_spark.session"
