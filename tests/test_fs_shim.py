"""The storage layer (quickb_spark.fs): the index must build, resume, and
serve with a SCHEME-QUALIFIED index root (file://...). Plain os.path/open
calls would treat "file:///x" as a relative path and break — these tests
prove every side-file operation (markers, stats, meta commits, fold
markers) goes through the root's pyarrow filesystem, with no SparkSession,
that a side file is replaced without ever being deleted, and that a root
pyarrow cannot reach fails before any Spark job."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from quickb_spark.config import EngineConfig, IndexConfig
from quickb_spark.corpus import DOCUMENTS_SCHEMA, fixture_queries, generate_documents_df
from quickb_spark.fs import IndexFS, UnreachableIndexError, join_path
from quickb_spark.index.segments import (
    build_index,
    invalidate_buckets,
    load_commits,
    load_stats,
    segments_meta,
)
from quickb_spark.query.wand import bm25_topk_segments

CFG = EngineConfig(
    index=IndexConfig(
        block_size=32,
        term_buckets=8,
    )
)


def test_fs_ops_roundtrip(spark, tmp_path):
    fs = IndexFS(f"file://{tmp_path}")
    p = f"file://{tmp_path}/sub/x.json"
    fs.mkdirs(f"file://{tmp_path}/sub")
    fs.write_text_atomic(p, '{"a": 1}')
    assert fs.exists(p)
    assert fs.read_text(p) == '{"a": 1}'
    assert "x.json" in fs.listdir(f"file://{tmp_path}/sub")
    fs.rename(p, f"file://{tmp_path}/sub/y.json")
    assert not fs.exists(p) and fs.exists(f"file://{tmp_path}/sub/y.json")
    fs.delete(f"file://{tmp_path}/sub")
    assert not fs.exists(f"file://{tmp_path}/sub")


def test_build_resume_query_with_scheme_uri(spark, tmp_path):
    docs = generate_documents_df(spark, 120, seed=7, partitions=4)
    idx = f"file://{tmp_path}/idx"
    build_index(spark, index_dir=idx, cfg=CFG, documents=docs)

    # side files landed under the local mirror of the URI
    local = str(tmp_path / "idx")
    assert os.path.exists(os.path.join(local, "meta", "stats.json"))
    stats = load_stats(idx)
    assert stats["n_docs"] > 0

    # resume: drop one bucket from the commit ledger, rebuild — only that
    # bucket recommits
    fs = IndexFS(idx)
    before = load_commits(fs, idx)
    invalidate_buckets(fs, idx, [3])
    build_index(spark, index_dir=idx, cfg=CFG, documents=docs)
    after = load_commits(fs, idx)
    assert set(after) == set(before)
    for b in before:
        if b != 3:
            assert after[b] == before[b], b

    meta = segments_meta(spark, idx)
    assert meta.count() == CFG.index.term_buckets

    qdf = spark.createDataFrame(fixture_queries()[:5], ["query_id", "query_text"])
    res = bm25_topk_segments(spark, idx, qdf, k=5).collect()
    assert len(res) > 0


def test_write_text_atomic_never_deletes_the_target(tmp_path):
    """Replacing a side file moves a temp file over it in one step: the
    target is never deleted first, so a crash cannot leave no ledger."""
    ifs = IndexFS(str(tmp_path))
    ifs.mkdirs(join_path(str(tmp_path), "meta"))
    target = join_path(str(tmp_path), "meta", "commits.json")
    ifs.write_text_atomic(target, "old")
    calls = []

    class Spy:
        def __init__(self, inner):
            self._inner = inner

        def __getattr__(self, name):
            calls.append(name)
            return getattr(self._inner, name)

    ifs.fs = Spy(ifs.fs)
    ifs.write_text_atomic(target, "new")
    assert "move" in calls
    assert not [c for c in calls if c.startswith("delete")], calls
    assert ifs.read_text(target) == "new"
    assert os.listdir(tmp_path / "meta") == ["commits.json"]  # no temp left


_NO_SESSION = """
import json, sys
from pyspark import SparkContext
from quickb_spark.fs import IndexFS, join_path
from quickb_spark.index.segments import load_stats
root = sys.argv[1]
fs = IndexFS(root)
sub = join_path(root, "sub")
fs.mkdirs(sub)
fs.write_text_atomic(join_path(sub, "x.json"), '{"a": 1}')
fs.rename(join_path(sub, "x.json"), join_path(sub, "y.json"))
out = {
    "listed": fs.listdir(sub),
    "text": fs.read_text(join_path(sub, "y.json")),
    "stats": load_stats(join_path(root, "idx")),
    "context": SparkContext._active_spark_context is not None,
}
fs.delete(sub)
out["deleted"] = not fs.exists(sub)
print(json.dumps(out))
"""


def test_index_fs_and_load_stats_need_no_session(tmp_path):
    """IndexFS and load_stats on a file:// index in a process that has
    never started a SparkSession."""
    from quickb_spark.index.segments import FORMAT_VERSION

    (tmp_path / "idx" / "meta").mkdir(parents=True)
    stats = {"format_version": FORMAT_VERSION, "n_docs": 3, "term_buckets": 8}
    (tmp_path / "idx" / "meta" / "stats.json").write_text(json.dumps(stats))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _NO_SESSION, f"file://{tmp_path}"],
        capture_output=True, text=True, cwd=repo, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout.splitlines()[-1])
    assert out == {
        "listed": ["y.json"],
        "text": '{"a": 1}',
        "stats": stats,
        "context": False,
        "deleted": True,
    }


def test_unreachable_roots_fail_before_any_spark_job(spark, tmp_path):
    """A build root, or a stream checkpoint, that pyarrow cannot reach
    raises UnreachableIndexError naming the URI and runs no Spark job."""
    from quickb_spark.streaming.incremental import start_incremental_ingest
    from tests.test_serve_paths import _jobs_anywhere

    docs = generate_documents_df(spark, 20, seed=3, partitions=2)

    def build():
        with pytest.raises(UnreachableIndexError, match="nosuchscheme://x"):
            build_index(spark, index_dir="nosuchscheme://x", cfg=CFG,
                        documents=docs)

    assert _jobs_anywhere(spark.sparkContext, build)[1] == 0

    src = tmp_path / "in"
    src.mkdir()
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(str(src))

    def ingest():
        with pytest.raises(UnreachableIndexError, match="nosuchscheme://ck"):
            start_incremental_ingest(
                spark, stream, str(tmp_path / "idx"), CFG,
                checkpoint="nosuchscheme://ck",
            )

    assert _jobs_anywhere(spark.sparkContext, ingest)[1] == 0


def test_resume_without_stats_runs_no_spark_job(spark, tmp_path):
    """A checkpoint whose stats.json is missing after phase 1 recomputes
    it in the driver from the runs: byte-identical, no Spark job."""
    from tests.test_serve_paths import _jobs_anywhere

    docs = generate_documents_df(spark, 120, seed=9, partitions=4)
    idx = f"file://{tmp_path}/idx"
    build_index(spark, index_dir=idx, cfg=CFG, documents=docs)
    stats_file = tmp_path / "idx" / "meta" / "stats.json"
    want = stats_file.read_bytes()
    stats_file.unlink()
    _, jobs = _jobs_anywhere(
        spark.sparkContext,
        lambda: build_index(spark, index_dir=idx, cfg=CFG, documents=docs),
    )
    assert stats_file.read_bytes() == want
    assert jobs == 0
