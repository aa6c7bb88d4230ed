"""Incremental index refresh: streaming ingest → base+delta queries →
compaction equivalence (base+delta results == from-scratch rebuild)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quickb_spark.config import EngineConfig, IndexConfig
from quickb_spark.corpus import DOCUMENTS_SCHEMA, fixture_queries, gen_document, generate_documents_df
from quickb_spark.index.segments import build_index, load_stats
from quickb_spark.query import wand
from quickb_spark.query.searcher import Searcher
from quickb_spark.query.wand import bm25_topk_segments
from quickb_spark.streaming import incremental
from quickb_spark.streaming.incremental import (
    fold_deltas_into_index,
    query_with_deltas,
    start_incremental_ingest,
)

CFG = EngineConfig(
    index=IndexConfig(term_buckets=8)
)

N_BASE, N_NEW = 150, 40


def _collect_ranked(df):
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 6))
        for r in df.collect()
    )


@pytest.fixture(scope="module")
def dirs(tmp_path_factory):
    return tmp_path_factory.mktemp("stream")


def test_ingest_query_compact_equivalence(spark, dirs, tmp_path_factory):
    base_docs = generate_documents_df(spark, N_BASE, seed=42, partitions=2)
    all_docs = generate_documents_df(spark, N_BASE + N_NEW, seed=42, partitions=2)
    new_docs = all_docs.exceptAll(base_docs)

    idx = str(dirs / "idx")
    build_index(spark, index_dir=idx, cfg=CFG, documents=base_docs)

    qdf = spark.createDataFrame(fixture_queries()[:15], ["query_id", "query_text"])
    base_only = _collect_ranked(bm25_topk_segments(spark, idx, qdf, k=10))

    # stream the new docs in via a file source (real Structured Streaming)
    src = str(dirs / "incoming")
    new_docs.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(src)
    q = start_incremental_ingest(spark, stream, idx, CFG)
    q.awaitTermination(120)

    merged = _collect_ranked(query_with_deltas(spark, idx, qdf, k=10))
    assert merged != base_only  # new docs are visible pre-compaction

    # oracle: a from-scratch index over base+new must give identical results
    fresh = str(dirs / "fresh")
    build_index(spark, index_dir=fresh, cfg=CFG, documents=all_docs)
    expected = _collect_ranked(bm25_topk_segments(spark, fresh, qdf, k=10))
    assert merged == expected

    # compaction folds deltas into the base; WAND-only path now matches too
    n = fold_deltas_into_index(spark, idx, CFG)
    assert n > 0
    after = _collect_ranked(bm25_topk_segments(spark, idx, qdf, k=10))
    assert after == expected
    # and the delta tier is gone
    assert _collect_ranked(query_with_deltas(spark, idx, qdf, k=10)) == expected


def test_fold_crash_recovery_exactly_once(spark, tmp_path, monkeypatch):
    """A fold that crashes AFTER its commit marker, with part of the delta
    runs already moved into the base, must converge on the next fold call
    to the from-scratch index — no delta run folded in twice or lost."""
    from quickb_spark.fs import IndexFS

    base = generate_documents_df(spark, 80, seed=5, partitions=2)
    alldocs = generate_documents_df(spark, 110, seed=5, partitions=2)
    new = alldocs.exceptAll(base)

    idx = str(tmp_path / "idx")
    build_index(spark, index_dir=idx, cfg=CFG, documents=base)
    src = str(tmp_path / "in")
    new.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(src)
    start_incremental_ingest(spark, stream, idx, CFG).awaitTermination(120)

    real_move = incremental._move_runs
    moved = []

    def crash_on_third_move(*args):
        if len(moved) == 2:
            raise RuntimeError("simulated crash")
        moved.append(args)
        real_move(*args)

    with monkeypatch.context() as m:
        m.setattr(incremental, "_move_runs", crash_on_third_move)
        with pytest.raises(RuntimeError, match="simulated crash"):
            fold_deltas_into_index(spark, idx, CFG)
    fs = IndexFS(idx)
    assert fs.exists(incremental._fold_marker(idx))
    # the public API recovers from the marker and finishes exactly once
    assert fold_deltas_into_index(spark, idx, CFG) == 0
    assert not fs.exists(incremental._fold_marker(idx))
    assert not list((tmp_path / "idx" / "flat_delta").glob("ingest_batch=*"))

    fresh = str(tmp_path / "fresh")
    build_index(spark, index_dir=fresh, cfg=CFG, documents=alldocs)
    got_stats, want_stats = load_stats(idx), load_stats(fresh)
    for k in ("n_docs", "avgdl", "n_postings"):
        assert got_stats[k] == want_stats[k], k
    qdf = spark.createDataFrame(fixture_queries()[:10], ["query_id", "query_text"])
    got = _collect_ranked(bm25_topk_segments(spark, idx, qdf, k=10))
    want = _collect_ranked(bm25_topk_segments(spark, fresh, qdf, k=10))
    assert got == want


def test_fold_keeps_a_batch_that_commits_during_the_fold(
    spark, tmp_path, monkeypatch
):
    """A micro-batch that commits after fold has listed the delta tier
    must survive the fold: it stays pending, query_with_deltas serves it,
    and the next fold consumes it."""
    from quickb_spark.fs import IndexFS

    base = generate_documents_df(spark, 60, seed=13, partitions=2)
    mid = generate_documents_df(spark, 80, seed=13, partitions=2)
    alldocs = generate_documents_df(spark, 95, seed=13, partitions=2)
    idx = str(tmp_path / "idx")
    build_index(spark, index_dir=idx, cfg=CFG, documents=base)
    src = str(tmp_path / "in")
    mid.exceptAll(base).write.parquet(src)
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(src)
    start_incremental_ingest(spark, stream, idx, CFG).awaitTermination(120)

    late = alldocs.exceptAll(mid)
    real_finish = incremental._finish_fold

    def commit_late_batch_then_finish(*args, **kwargs):
        incremental._ingest_batch(spark, late, idx, CFG, "late0000", 0)
        return real_finish(*args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(incremental, "_finish_fold", commit_late_batch_then_finish)
        assert fold_deltas_into_index(spark, idx, CFG) > 0
    pending = incremental._delta_batches(IndexFS(idx), idx)
    assert [key for key, _ in pending] == ["late0000-0"]

    fresh = str(tmp_path / "fresh")
    build_index(spark, index_dir=fresh, cfg=CFG, documents=alldocs)
    qdf = spark.createDataFrame(fixture_queries()[:12], ["query_id", "query_text"])
    want = _collect_ranked(bm25_topk_segments(spark, fresh, qdf, k=10))
    assert _collect_ranked(query_with_deltas(spark, idx, qdf, k=10)) == want
    assert fold_deltas_into_index(spark, idx, CFG) > 0
    assert _collect_ranked(bm25_topk_segments(spark, idx, qdf, k=10)) == want
    assert load_stats(idx)["n_docs"] == load_stats(fresh)["n_docs"]


def test_restarted_stream_does_not_reingest_folded_docs(spark, tmp_path):
    """Fold keeps the stream checkpoint: restarting the stream with no new
    source files ingests nothing, and a replay of an epoch the fold
    already consumed (its commit-log entry removed, so Spark re-runs it)
    is a no-op. stats.json stays as the fold left it."""
    from quickb_spark.fs import IndexFS

    base = generate_documents_df(spark, 60, seed=17, partitions=2)
    alldocs = generate_documents_df(spark, 90, seed=17, partitions=2)
    idx = tmp_path / "idx"
    build_index(spark, index_dir=str(idx), cfg=CFG, documents=base)
    src = str(tmp_path / "in")
    alldocs.exceptAll(base).write.parquet(src)

    def run_stream():
        stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(src)
        q = start_incremental_ingest(spark, stream, str(idx), CFG)
        q.awaitTermination(120)
        assert q.exception() is None

    n_base = load_stats(str(idx))["n_docs"]
    run_stream()
    assert fold_deltas_into_index(spark, str(idx), CFG) > 0
    stats = (idx / "meta" / "stats.json").read_text()
    assert load_stats(str(idx))["n_docs"] > n_base

    run_stream()  # nothing new to read
    fs = IndexFS(str(idx))
    assert incremental._delta_batches(fs, str(idx)) == []

    commits = idx / "stream_checkpoint" / "commits"
    last = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
    (commits / str(last)).unlink()
    (commits / f".{last}.crc").unlink(missing_ok=True)
    run_stream()  # replays the folded epoch
    assert (commits / str(last)).exists(), "the epoch was not replayed"
    assert not list((idx / "flat_delta").glob("ingest_batch=*"))
    assert incremental._delta_batches(fs, str(idx)) == []
    assert fold_deltas_into_index(spark, str(idx), CFG) == 0
    assert (idx / "meta" / "stats.json").read_text() == stats


def _build_from_rows(spark, tmp_path, name, docs):
    """A corpus_uri= index over `docs`."""
    corpus = str(tmp_path / f"{name}_corpus")
    spark.createDataFrame(docs, DOCUMENTS_SCHEMA).write.parquet(corpus)
    idx = str(tmp_path / name)
    build_index(spark, index_dir=idx, cfg=CFG, corpus_uri=corpus)
    return idx


def _assert_same_index(spark, idx, fresh):
    """Equal stats, lexicon rows and segment rows."""
    assert load_stats(idx) == load_stats(fresh)
    for sub in ("lexicon", "segments"):
        got, want = (
            sorted(map(tuple, spark.read.parquet(f"{p}/{sub}").collect()))
            for p in (idx, fresh)
        )
        assert got and got == want, sub


def test_fold_on_corpus_uri_index_equals_rebuild(spark, tmp_path):
    """Fold on an index built with corpus_uri= (the direct engine users
    run) equals a from-scratch corpus_uri= build over base + delta bit for
    bit: stats, lexicon and segment rows, and top-k compared with ==,
    ties included (the delta copies base docs under new paths)."""
    rows = [gen_document(i, 21) for i in range(150)]
    base, new = rows[:120], rows[120:]
    new += [(r, f"{p}.copy", c, lang, text) for r, p, c, lang, text in base[:20]]

    idx = _build_from_rows(spark, tmp_path, "idx", base)
    src = str(tmp_path / "in")
    spark.createDataFrame(new, DOCUMENTS_SCHEMA).write.parquet(src)
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(src)
    start_incremental_ingest(spark, stream, idx, CFG).awaitTermination(120)
    assert fold_deltas_into_index(spark, idx, CFG) > 0
    fresh = _build_from_rows(spark, tmp_path, "fresh", base + new)

    _assert_same_index(spark, idx, fresh)
    queries = fixture_queries()[:20]
    got = sorted(map(tuple, Searcher(spark, idx).topk(queries, k=10)))
    want = sorted(map(tuple, Searcher(spark, fresh).topk(queries, k=10)))
    assert got == want
    assert sum(
        a[0] == b[0] and a[3] == b[3] for a, b in zip(got, got[1:])
    ) >= 10, "copies must produce exact ties in the top k"


def _no_staging(*_args, **_kwargs):
    raise AssertionError("staged a micro-batch that can be read in place")


def _run_stream(spark, stream, idx, ckpt=None):
    q = start_incremental_ingest(spark, stream, idx, CFG, checkpoint=ckpt)
    q.awaitTermination(120)
    assert q.exception() is None, q.exception()


def test_parquet_stream_ingests_in_place(spark, tmp_path, monkeypatch):
    """A plain parquet file stream, here with columns selected, is read in
    place: no micro-batch is staged, and the delta tier, then the folded
    index, equal a rebuild over base + delta."""
    rows = [gen_document(i, 23) for i in range(100)]
    base, new = rows[:70], rows[70:]
    idx = _build_from_rows(spark, tmp_path, "idx", base)
    src = str(tmp_path / "in")
    spark.createDataFrame(new, DOCUMENTS_SCHEMA).write.parquet(src)
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(src).select(
        "repo", "path", "commit", "lang", "content")
    with monkeypatch.context() as m:
        m.setattr(incremental, "stage_documents", _no_staging)
        _run_stream(spark, stream, idx)
    fresh = _build_from_rows(spark, tmp_path, "fresh", rows)
    queries = fixture_queries()[:15]
    want = sorted(map(tuple, Searcher(spark, fresh).topk(queries, k=10)))
    assert sorted(map(tuple, query_with_deltas(spark, idx, queries, k=10))) == want
    assert fold_deltas_into_index(spark, idx, CFG) > 0
    _assert_same_index(spark, idx, fresh)


def test_stream_in_place_crosses_a_compacted_source_log(
    spark, tmp_path, monkeypatch
):
    """One file per epoch over 11 files: the file source compacts its log
    at batch 9 (`9.compact`, holding batches 0-9), and every epoch, that
    one included, reads exactly its own file in place. The folded index
    equals a rebuild."""
    rows = [gen_document(i, 29) for i in range(104)]
    base, new = rows[:60], rows[60:]
    idx = _build_from_rows(spark, tmp_path, "idx", base)
    src = str(tmp_path / "in")
    spark.createDataFrame(new, DOCUMENTS_SCHEMA).repartition(11).write.parquet(src)
    assert len(list((tmp_path / "in").glob("*.parquet"))) == 11
    stream = (spark.readStream.schema(DOCUMENTS_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    ckpt = str(tmp_path / "ckpt")
    with monkeypatch.context() as m:
        m.setattr(incremental, "stage_documents", _no_staging)
        _run_stream(spark, stream, idx, ckpt)
    logs = {p.name for p in (tmp_path / "ckpt" / "sources" / "0").iterdir()}
    assert "9.compact" in logs and "10" in logs
    batches = incremental._delta_batches(incremental.IndexFS(idx), idx)
    assert len(batches) == 11
    assert sum(m["n_docs"] for _, m in batches) > len(new)  # chunks, not docs
    assert fold_deltas_into_index(spark, idx, CFG) > 0
    _assert_same_index(spark, idx, _build_from_rows(spark, tmp_path, "fresh", rows))


def test_filtered_stream_stages_and_drops_filtered_rows(
    spark, tmp_path, monkeypatch
):
    """A stream with a filter cannot be read in place: its micro-batches
    are staged, and the rows the filter drops are not indexed."""
    rows = [gen_document(i, 37) for i in range(100)]
    base, new = rows[:70], rows[70:]
    kept = [r for r in new if r[3] != "python"]
    assert 0 < len(kept) < len(new)
    idx = _build_from_rows(spark, tmp_path, "idx", base)
    src = str(tmp_path / "in")
    spark.createDataFrame(new, DOCUMENTS_SCHEMA).write.parquet(src)
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(src).where(
        F.col("lang") != "python")
    staged = []
    real_stage = incremental.stage_documents

    def spy(*args, **kwargs):
        staged.append(args)
        return real_stage(*args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(incremental, "stage_documents", spy)
        _run_stream(spark, stream, idx)
    assert staged
    assert fold_deltas_into_index(spark, idx, CFG) > 0
    _assert_same_index(
        spark, idx, _build_from_rows(spark, tmp_path, "fresh", base + kept))


def test_replayed_epoch_reads_its_files_again(spark, tmp_path, monkeypatch):
    """A restarted stream that replays an unfolded epoch (its commit-log
    entry removed) takes that epoch's files from the source log again and
    rewrites its batch whole: the delta tier still equals a rebuild."""
    rows = [gen_document(i, 41) for i in range(100)]
    base, new = rows[:70], rows[70:]
    idx = _build_from_rows(spark, tmp_path, "idx", base)
    src = str(tmp_path / "in")
    spark.createDataFrame(new, DOCUMENTS_SCHEMA).repartition(2).write.parquet(src)
    ckpt = tmp_path / "ckpt"

    def run():
        stream = (spark.readStream.schema(DOCUMENTS_SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        _run_stream(spark, stream, idx, str(ckpt))

    read = []
    real_epoch_files = incremental._epoch_files

    def spy(fs, ck, epoch):
        files = real_epoch_files(fs, ck, epoch)
        read.append((epoch, files))
        return files

    with monkeypatch.context() as m:
        m.setattr(incremental, "stage_documents", _no_staging)
        m.setattr(incremental, "_epoch_files", spy)
        run()
        (ckpt / "commits" / "1").unlink()
        (ckpt / "commits" / ".1.crc").unlink(missing_ok=True)
        run()
    assert [e for e, _ in read] == [0, 1, 1]
    assert read[1][1] == read[2][1] and len(read[2][1]) == 1
    fs = incremental.IndexFS(idx)
    assert len(incremental._delta_batches(fs, idx)) == 2
    fresh = _build_from_rows(spark, tmp_path, "fresh", rows)
    queries = fixture_queries()[:15]
    want = sorted(map(tuple, Searcher(spark, fresh).topk(queries, k=10)))
    assert sorted(map(tuple, query_with_deltas(spark, idx, queries, k=10))) == want
    assert fold_deltas_into_index(spark, idx, CFG) > 0
    _assert_same_index(spark, idx, fresh)


def test_gen_document_prefix_stability():
    # exceptAll(base) as "new docs" is only valid if generation is
    # row-index-stable: doc i is identical in any corpus size
    assert gen_document(7, 42) == gen_document(7, 42)
    assert [gen_document(i, 42) for i in range(10)] == [
        gen_document(i, 42) for i in range(10)
    ]


def _jobs_in_group(sc, gid, fn):
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def test_query_with_deltas_ties_match_rebuild_exactly(
    spark, tmp_path, monkeypatch
):
    """Delta docs that copy base docs' content under new paths score
    EXACTLY like their originals, so every copied hit is a kth-score tie.
    The unfolded base+delta answer must equal a from-scratch rebuild bit
    for bit — scores compared with ==, tied docs in doc_id-ascending
    order. The small plan is scored in the driver with no Spark job; with
    the driver path off it is one range job, with the same rows."""
    base = [gen_document(i, 9) for i in range(80)]
    copies = [
        (repo, f"{path}.copy", commit, lang, content)
        for repo, path, commit, lang, content in base[:40]
    ]
    idx = str(tmp_path / "idx")
    build_index(
        spark, index_dir=idx, cfg=CFG,
        documents=spark.createDataFrame(base, DOCUMENTS_SCHEMA),
    )
    src = str(tmp_path / "in")
    spark.createDataFrame(copies, DOCUMENTS_SCHEMA).write.parquet(src)
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(src)
    start_incremental_ingest(spark, stream, idx, CFG).awaitTermination(120)

    queries = fixture_queries()[:20]
    sc = spark.sparkContext
    merged, jobs = _jobs_in_group(
        sc, "test-query-with-deltas-jobs",
        lambda: query_with_deltas(spark, idx, queries, k=10),
    )
    assert jobs == 0
    with monkeypatch.context() as m:
        m.setattr(wand, "DRIVER_MAX_POSTINGS", 0)
        ranged, jobs = _jobs_in_group(
            sc, "test-query-with-deltas-range-job",
            lambda: query_with_deltas(spark, idx, queries, k=10),
        )
    assert jobs == 1
    assert ranged == merged

    fresh = str(tmp_path / "fresh")
    build_index(
        spark, index_dir=fresh, cfg=CFG,
        documents=spark.createDataFrame(base + copies, DOCUMENTS_SCHEMA),
    )
    got = sorted(map(tuple, merged.collect()))
    want = sorted(map(tuple, bm25_topk_segments(spark, fresh, spark.createDataFrame(
        queries, ["query_id", "query_text"]), k=10).collect()))
    assert got == want  # exact float equality, ranks included

    ties = 0
    for (q1, r1, d1, s1), (q2, r2, d2, s2) in zip(got, got[1:]):
        if q1 == q2:
            assert (s1, -d1) > (s2, -d2), (q1, r1, r2)  # score desc, doc asc
            ties += s1 == s2
    assert ties >= 10, "copies must produce exact ties in the top k"


def test_delta_reads_skip_staged_and_foreign_files(spark, tmp_path, monkeypatch):
    """Only committed delta batches (an `ingest_batch=<key>` dir holding
    its _BATCH.json marker) exist for the unfolded query and for fold: a
    batch whose marker is not written yet, a dir under any other name,
    and a non-parquet file inside a committed batch are never read."""
    import shutil

    import pyarrow as pa

    from quickb_spark import fs
    from quickb_spark.query.searcher import UnreachableIndexError

    base = generate_documents_df(spark, 60, seed=11, partitions=2)
    alldocs = generate_documents_df(spark, 80, seed=11, partitions=2)
    idx = tmp_path / "idx"
    build_index(spark, index_dir=str(idx), cfg=CFG, documents=base)
    only_delta = spark.createDataFrame(
        [("r/x", "x/new.py", "c0", "python", "zzqxv zzqxv marker")],
        DOCUMENTS_SCHEMA,
    )
    src = str(tmp_path / "in")
    alldocs.exceptAll(base).unionByName(only_delta).write.parquet(src)
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(src)
    start_incremental_ingest(spark, stream, str(idx), CFG).awaitTermination(120)

    # a term no base doc holds is live through the delta alone
    hit = query_with_deltas(spark, str(idx), [("qx", "zzqxv")], k=10).collect()
    assert len(hit) == 1 and hit[0]["score"] > 0

    qdf = spark.createDataFrame(fixture_queries()[:10], ["query_id", "query_text"])
    clean = _collect_ranked(query_with_deltas(spark, str(idx), qdf, k=10))

    delta = idx / "flat_delta"
    (committed,) = delta.glob("ingest_batch=*")
    stream_id = committed.name.split("=")[1].rsplit("-", 1)[0]
    # the same doc ids again, in a batch that has not committed yet
    pending = delta / f"ingest_batch={stream_id}-99"
    shutil.copytree(committed, pending)
    (pending / incremental.BATCH_MARKER).unlink()
    (pending / "flat" / "bucket=0" / "run-t99999.parquet").write_bytes(
        b"PAR1 half-written"
    )  # no footer
    shutil.copytree(committed, delta / ".spark-staging-x")
    run_dir = next(committed.glob("flat/bucket=*"))
    (run_dir / "notes.txt").write_text("not a delta file")

    assert _collect_ranked(query_with_deltas(spark, str(idx), qdf, k=10)) == clean

    def unreachable(uri):
        raise pa.ArrowInvalid(f"unrecognized filesystem type in URI: {uri}")

    with monkeypatch.context() as m:
        m.setattr(fs, "pyarrow_fs_for", unreachable)
        with pytest.raises(UnreachableIndexError, match="idx"):
            query_with_deltas(spark, str(idx), qdf, k=10)

    assert fold_deltas_into_index(spark, str(idx), CFG) > 0
    assert pending.exists()  # not committed, so not consumed
    assert _collect_ranked(bm25_topk_segments(spark, str(idx), qdf, k=10)) == clean


def _ranked_exact(rows):
    """Sorted (query_id, rank, doc_id, score) tuples, scores unrounded;
    checks that ties are ordered by doc_id ascending."""
    got = sorted(map(tuple, rows))
    ties = 0
    for (q1, r1, d1, s1), (q2, r2, d2, s2) in zip(got, got[1:]):
        if q1 == q2:
            assert (s1, -d1) > (s2, -d2), (q1, r1, r2)  # score desc, doc asc
            ties += s1 == s2
    return got, ties


def test_fold_on_pipeline_index_equals_rebuild(spark, tmp_path):
    """An index built by run_pipeline (CHUNK + INDEX, so build_index
    chunks=) takes streaming deltas like any other: query_with_deltas and
    then the folded index equal a documents= rebuild over base + delta,
    scores compared with ==, tied docs in doc_id order."""
    from quickb_spark.pipeline import PipelineConfig, run_pipeline

    rows = [gen_document(i, 31) for i in range(120)]
    base, new = rows[:100], rows[100:]
    new += [(r, f"{p}.copy", c, lang, text) for r, p, c, lang, text in base[:20]]
    docs_path = str(tmp_path / "docs")
    spark.createDataFrame(base, DOCUMENTS_SCHEMA).write.parquet(docs_path)
    idx = str(tmp_path / "idx")
    run_pipeline(
        spark,
        PipelineConfig(documents_path=docs_path, index_dir=idx, engine=CFG,
                       to_stage="INDEX"),
    )
    src = str(tmp_path / "in")
    spark.createDataFrame(new, DOCUMENTS_SCHEMA).write.parquet(src)
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(src)
    start_incremental_ingest(spark, stream, idx, CFG).awaitTermination(120)

    fresh = str(tmp_path / "fresh")
    build_index(
        spark, index_dir=fresh, cfg=CFG,
        documents=spark.createDataFrame(base + new, DOCUMENTS_SCHEMA),
    )
    queries = fixture_queries()[:20]
    want, ties = _ranked_exact(Searcher(spark, fresh).topk(queries, k=10))
    assert ties >= 10, "copies must produce exact ties in the top k"
    got, _ = _ranked_exact(query_with_deltas(spark, idx, queries, k=10))
    assert got == want
    assert fold_deltas_into_index(spark, idx, CFG) > 0
    got, _ = _ranked_exact(Searcher(spark, idx).topk(queries, k=10))
    assert got == want
    assert load_stats(idx) == load_stats(fresh)


def test_legacy_checkpoints_fail_loudly_on_resume_and_fold(spark, tmp_path):
    """A flat/ checkpoint written by an older engine — no _RUNS marker (the
    old chunks= layout), or runs without doc_len (the old shed layout) —
    makes both a resume and a fold raise a RuntimeError that names what is
    missing and says to rebuild. The fold raises before anything moves:
    the delta batch stays pending and no fold marker is written."""
    import os
    import shutil

    import pyarrow.parquet as pq

    base = str(tmp_path / "base")
    build_index(
        spark, index_dir=base, cfg=CFG,
        documents=generate_documents_df(spark, 40, seed=5, partitions=2),
    )
    src = str(tmp_path / "in")
    spark.createDataFrame(
        [gen_document(i, 5) for i in range(40, 50)], DOCUMENTS_SCHEMA
    ).write.parquet(src)
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(src)
    start_incremental_ingest(spark, stream, base, CFG).awaitTermination(120)

    def no_marker(idx):
        os.remove(os.path.join(idx, "flat", "_RUNS"))

    def shed_doc_len(idx):
        for d, _, names in os.walk(os.path.join(idx, "flat")):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(d, n)
                    pq.write_table(pq.read_table(p).drop(["doc_len"]), p)

    for name, corrupt, match in (
        ("no_marker", no_marker, "no _RUNS marker"),
        ("shed", shed_doc_len, "missing columns doc_len"),
    ):
        idx = str(tmp_path / name)
        shutil.copytree(base, idx)
        corrupt(idx)
        with pytest.raises(RuntimeError, match=match) as e:
            build_index(spark, index_dir=idx, cfg=CFG)
        assert "rebuild" in str(e.value)
        with pytest.raises(RuntimeError, match=match):
            fold_deltas_into_index(spark, idx, CFG)
        assert not os.path.exists(
            os.path.join(idx, "meta", "fold_commit.json"))
        assert len(incremental._delta_batches(
            incremental.IndexFS(idx), idx)) == 1
