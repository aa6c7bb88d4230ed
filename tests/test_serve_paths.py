"""Driver path vs range job: both return the same rows, each serving call
runs the Spark jobs it should (none on the driver path, one range job
otherwise, none to read a result), and the driver-side state the driver
path touches stays sound: Arrow's CPU pool, the decoded-table cache
across query modes, and concurrent callers on one Searcher."""

from __future__ import annotations

import itertools
import os
import shutil
from collections import OrderedDict
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pytest

from quickb_spark.config import EngineConfig, IndexConfig
from quickb_spark.corpus import fixture_queries, generate_documents_df
from quickb_spark.functions.tokenize import tokenize_py
from quickb_spark.index.segments import build_index
from quickb_spark.query import serve_direct as sd
from quickb_spark.query import wand
from quickb_spark.query.searcher import Searcher

CFG = EngineConfig(
    index=IndexConfig(
        block_size=32,
        term_buckets=8,
    )
)
QUERIES = fixture_queries()[:12]
_GROUP = itertools.count()


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("serve_paths_idx"))
    docs = generate_documents_df(spark, 200, seed=5, partitions=2)
    build_index(spark, index_dir=idx, cfg=CFG, documents=docs)
    phrases = []
    for i, r in enumerate(docs.limit(8).collect()):
        toks = tokenize_py(r["content"])
        if len(toks) >= 6:
            phrases.append((f"p{i}", " ".join(toks[2:5])))
    assert len(phrases) >= 4
    return idx, phrases


def _searcher(spark, idx):
    """A serving Searcher: the term dictionary in the driver, so a df
    lookup runs no Spark job and only the scoring path is counted."""
    s = Searcher(spark, idx)
    assert s.load_lexicon()
    return s


def _run(sc, fn):
    """fn() inside a fresh job group -> (result, jobs, tasks)."""
    gid = f"test-serve-paths-{next(_GROUP)}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(gid)
    tasks = sum(
        st.getStageInfo(sid).numTasks
        for j in jobs for sid in st.getJobInfo(j).stageIds
    )
    return out, len(jobs), tasks


def _jobs_anywhere(sc, fn):
    """fn() -> (result, Spark jobs started while it ran, from any thread
    or job group). Job ids are sequential, so the ids of two probe jobs
    around fn() bound every job it started, including jobs from threads
    that do not inherit the caller's job group."""
    def probe():
        gid = f"test-serve-paths-probe-{next(_GROUP)}"
        sc.setJobGroup(gid, gid)
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        (jid,) = sc.statusTracker().getJobIdsForGroup(gid)
        return jid

    first = probe()
    out = fn()
    return out, probe() - first - 1


def _mode(mode, phrases):
    return {
        "any": (QUERIES, {}),
        "and": (QUERIES, {"match_all": True}),
        "phrase": (phrases, {"phrase": True}),
        "slop2": (phrases, {"phrase": True, "slop": 2}),
    }[mode]


@pytest.mark.parametrize("mode", ["any", "and", "phrase", "slop2"])
def test_driver_path_equals_range_job(spark, built, mode):
    idx, phrases = built
    qs, kw = _mode(mode, phrases)
    sc = spark.sparkContext
    s = _searcher(spark, idx)
    local, jobs, _ = _run(sc, lambda: s.topk(qs, k=10, **kw))
    assert jobs == 0
    ranged, jobs, tasks = _run(sc, lambda: s.topk(qs, k=10, ranges=2, **kw))
    assert (jobs, tasks) == (1, 2)
    assert len(local) > 0
    assert local == ranged  # same rows, same order, scores compared with ==

    (rows, n, pdf), jobs, _ = _run(
        sc, lambda: (local.collect(), local.count(), local.toPandas())
    )
    assert jobs == 0
    assert rows == list(local) and n == len(local)
    assert list(pdf.itertuples(index=False, name=None)) == [
        tuple(r) for r in local
    ]
    assert local.toDF().collect() == rows


def test_driver_path_off_runs_the_range_job(spark, built, monkeypatch):
    idx, _ = built
    sc = spark.sparkContext
    s = _searcher(spark, idx)
    want, jobs, _ = _run(sc, lambda: s.topk(QUERIES, k=10))
    assert jobs == 0
    monkeypatch.setattr(wand, "DRIVER_MAX_POSTINGS", 0)
    got, jobs, _ = _run(sc, lambda: s.topk(QUERIES, k=10))
    assert jobs == 1
    assert got == want


def test_driver_path_leaves_the_arrow_pool(spark, built):
    s = _searcher(spark, built[0])
    before = pa.cpu_count()
    pa.set_cpu_count(3)
    try:
        _, jobs, _ = _run(spark.sparkContext, lambda: s.topk(QUERIES, k=10))
        assert jobs == 0
        assert pa.cpu_count() == 3
    finally:
        pa.set_cpu_count(before)


def test_any_mode_reuses_phrase_preload(spark, built, tmp_path):
    """preload(phrase=True) publishes position-bearing tables; any-mode
    calls on either path serve from them instead of decoding and
    publishing a position-free copy of every file."""
    shm = sd._shm_dir()
    if shm is None:
        pytest.skip("no host-shared decoded-table cache on this host")
    idx = str(tmp_path / "copy")  # fresh paths: no entries from other tests
    shutil.copytree(built[0], idx)
    s = Searcher(spark, idx)
    s.preload(phrase=True)
    want = s.topk(QUERIES, k=10)
    assert s.topk(QUERIES, k=10, ranges=2) == want
    files = s._files_for(list(range(s.n_buckets)))
    assert files
    for f in files:
        st = os.stat(f)
        fp = (st.st_size, st.st_mtime_ns)
        assert os.path.exists(sd._shm_path(shm, f, fp, True))
        assert not os.path.exists(sd._shm_path(shm, f, fp, False)), f


def test_concurrent_topk_matches_serial(spark, built, monkeypatch):
    """8 threads on one Searcher, scoring in the driver while a 1 MiB
    budget keeps the shared decoded-table LRU evicting, return exactly
    the serial answers and leave the LRU's byte count consistent. The LRU
    starts empty: tables earlier tests left in it would make every call a
    hit, and a hit never enforces the budget."""
    idx, phrases = built
    monkeypatch.setenv("QKB_SERVE_SHM_DIR", "")  # every miss decodes
    monkeypatch.setattr(sd, "_cache_budget", lambda: 1 << 20)
    with sd._TBL_LOCK:
        monkeypatch.setattr(sd, "_TBL_CACHE", OrderedDict())
        monkeypatch.setattr(sd, "_TBL_CACHE_BYTES", [0])
    s = _searcher(spark, idx)
    calls = [
        ([q], {}) for q in QUERIES[:6]
    ] + [(QUERIES, {}), (QUERIES, {"match_all": True}),
         (phrases, {"phrase": True})]
    want = [s.topk(qs, k=10, **kw) for qs, kw in calls]
    with ThreadPoolExecutor(8) as ex:
        got = list(ex.map(
            lambda c: s.topk(c[0], k=10, **c[1]), calls * 4
        ))
    assert got == want * 4
    with sd._TBL_LOCK:
        entries = list(sd._TBL_CACHE.values())
        assert sd._TBL_CACHE_BYTES[0] == sum(t.nbytes for _, t in entries)
    assert sd._TBL_CACHE_BYTES[0] <= 1 << 20


def test_one_shot_driver_path_runs_no_spark_job(spark, built):
    """A Searcher that never loaded its term dictionary (the one-shot
    bm25_topk_segments form) reads the query terms' lexicon rows with
    pyarrow: a driver-path call runs 0 Spark jobs and answers exactly
    like a preloaded Searcher, absent terms included."""
    idx, _ = built
    sc = spark.sparkContext
    queries = QUERIES + [("absent", "zzqqxxnotaterm")]
    rows, jobs, _ = _run(
        sc, lambda: wand.bm25_topk_segments(spark, idx, queries, k=10)
    )
    assert jobs == 0
    assert rows == _searcher(spark, idx).topk(queries, k=10)
    assert len(rows) > 50


def _fresh_copy(built, tmp_path, name):
    """A copy of the index at new paths: no shared-cache entries yet."""
    idx = str(tmp_path / name)
    shutil.copytree(built[0], idx)
    return idx


def _published(shm, files, want_pos):
    out = []
    for f in files:
        st = os.stat(f)
        fp = (st.st_size, st.st_mtime_ns)
        out.append(os.path.exists(sd._shm_path(shm, f, fp, want_pos)))
    return out


def test_same_host_preload_runs_no_spark_job(spark, built, tmp_path):
    """On a local master with the shared cache on, preload decodes and
    publishes every segment file from the driver: 0 Spark jobs, the
    driver keeps memory-mapped tables (not heap copies), and both serving
    paths answer exactly like a Searcher that never preloaded."""
    shm = sd._shm_dir()
    if shm is None:
        pytest.skip("no host-shared decoded-table cache on this host")
    sc = spark.sparkContext
    assert sd._workers_share_cache(sc)
    # the counter sees a job that a pool thread starts outside the group
    with ThreadPoolExecutor(1) as ex:
        _, jobs = _jobs_anywhere(sc, lambda: ex.submit(
            lambda: sc.parallelize([1], 1).count()).result())
    assert jobs == 1
    idx, phrases = built
    cold = Searcher(spark, idx)
    want = cold.topk(QUERIES, k=10, ranges=2)
    want_phrase = cold.topk(phrases, k=10, ranges=2, phrase=True)

    s = Searcher(spark, _fresh_copy(built, tmp_path, "open"))
    files = s._files_for(list(range(s.n_buckets)))
    assert files
    before = pa.total_allocated_bytes()
    decoded, jobs = _jobs_anywhere(sc, lambda: s.preload(phrase=True))
    assert jobs == 0
    assert decoded > 0
    assert all(_published(shm, files, True))
    # the driver's cached tables are the mapped entries
    assert pa.total_allocated_bytes() - before < decoded // 4

    got, jobs = _jobs_anywhere(sc, lambda: s.topk(QUERIES, k=10))
    assert jobs == 0
    assert got == want
    assert s.topk(QUERIES, k=10, ranges=2) == want
    assert s.topk(phrases, k=10, phrase=True) == want_phrase
    assert s.topk(phrases, k=10, ranges=2, phrase=True) == want_phrase


def test_off_host_preload_runs_the_job_path(spark, built, tmp_path,
                                            monkeypatch):
    """Workers on other hosts cannot see the driver's cache: with the
    same-host check off, the decode job and the worker rounds run, and
    the answers are unchanged."""
    idx, _ = built
    want = Searcher(spark, idx).topk(QUERIES, k=10)
    monkeypatch.setattr(sd, "_workers_share_cache", lambda _sc: False)
    s = Searcher(spark, _fresh_copy(built, tmp_path, "off_host"))
    decoded, jobs, _ = _run(spark.sparkContext, lambda: s.preload())
    assert decoded > 0
    assert jobs == (3 if sd._shm_dir() else 2)  # decode job + 2 rounds
    assert s.topk(QUERIES, k=10) == want
    assert s.topk(QUERIES, k=10, ranges=2) == want


def test_pretouch_preload_runs_the_worker_rounds(spark, built, tmp_path):
    """Pretouch grows worker malloc arenas, so it keeps the worker
    rounds even on a local master."""
    s = Searcher(spark, _fresh_copy(built, tmp_path, "pretouch"))
    _, jobs, tasks = _run(spark.sparkContext,
                          lambda: s.preload(pretouch_mb=32))
    par = spark.sparkContext.defaultParallelism
    rounds = (jobs - 1) if sd._shm_dir() else jobs
    assert rounds == 2
    assert tasks >= 2 * par
