"""Incremental index refresh: streaming ingest → base+delta queries →
compaction equivalence (base+delta results == from-scratch rebuild)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quickb_spark.config import EngineConfig, IndexConfig
from quickb_spark.corpus import DOCUMENTS_SCHEMA, fixture_queries, gen_document, generate_documents_df
from quickb_spark.index.segments import build_index
from quickb_spark.query import wand
from quickb_spark.query.wand import bm25_topk_segments
from quickb_spark.streaming.incremental import (
    fold_deltas_into_index,
    query_with_deltas,
    start_incremental_ingest,
)

CFG = EngineConfig(
    index=IndexConfig(
        hot_term_doc_fraction=0.2,
        hot_term_min_df=40,
        salt_buckets=4,
        term_buckets=8,
    )
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


def test_fold_crash_recovery_exactly_once(spark, tmp_path):
    """A fold that crashes AFTER its commit marker (staged merge written,
    deltas not yet cleared, buckets not swapped) must converge to exactly
    the same index on the next fold call — deltas must never be folded in
    twice (the round-1 double-union hazard)."""
    from quickb_spark.corpus import DOCUMENTS_SCHEMA
    from quickb_spark.streaming.incremental import _fold_marker

    base = generate_documents_df(spark, 80, seed=5, partitions=2)
    alldocs = generate_documents_df(spark, 110, seed=5, partitions=2)
    new = alldocs.exceptAll(base)

    idx = str(tmp_path / "idx")
    build_index(spark, index_dir=idx, cfg=CFG, documents=base)
    src = str(tmp_path / "in")
    new.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(src)
    start_incremental_ingest(spark, stream, idx, CFG).awaitTermination(120)

    # simulate the crash point: run the pre-commit part manually — staged
    # merge + marker exist, but deltas/buckets/metas untouched
    import json as _json

    from pyspark.sql import functions as F  # noqa: F811
    from quickb_spark.fs import IndexFS, join_path

    fs = IndexFS(idx, spark)
    delta = spark.read.parquet(join_path(idx, "flat_delta"))
    touched = [int(r["bucket"]) for r in delta.select("bucket").distinct().collect()]
    # mirror the product fold's pre-commit staging exactly: delta rows get
    # the persisted hot-set salt, and the staged buckets are re-keyed and
    # sorted to the v4 checkpoint invariant (the no-shuffle phase-2 encode
    # depends on group-aligned, doc_id-sorted files)
    hot = _json.loads(fs.read_text(join_path(idx, "meta", "hot_terms.json")))[
        "hot_terms"
    ]
    salt_col = (
        F.when(
            F.col("term").isin(hot),
            F.pmod(F.xxhash64("doc_id"), F.lit(CFG.index.salt_buckets)).cast("int"),
        ).otherwise(F.lit(0))
        if hot
        else F.lit(0).cast("int")
    )
    delta_v4 = (
        delta.drop("ingest_batch")
        .withColumn("salt", salt_col)
        .withColumn("term_h", F.xxhash64("term"))
        .drop("term")
    )
    merged = (
        spark.read.parquet(join_path(idx, "flat"))
        .filter(F.col("bucket").isin(touched))
        .unionByName(delta_v4)
        .repartition(max(len(touched), 1), F.col("bucket"), F.xxhash64("term_h", "salt"))
        .sortWithinPartitions("bucket", "term_h", "salt", "doc_id")
    )
    merged.write.mode("overwrite").partitionBy("bucket").parquet(
        join_path(idx, "flat_stage")
    )
    fs.write_text_atomic(_fold_marker(idx), _json.dumps({"touched": touched}))
    # "crash" here — now the public API must recover and finish exactly-once
    n = fold_deltas_into_index(spark, idx, CFG)
    assert n == 0  # the interrupted fold consumed all deltas; no new ones
    assert not fs.exists(_fold_marker(idx))
    assert not fs.exists(join_path(idx, "flat_stage"))

    fresh = str(tmp_path / "fresh")
    build_index(spark, index_dir=fresh, cfg=CFG, documents=alldocs)
    qdf = spark.createDataFrame(fixture_queries()[:10], ["query_id", "query_text"])
    got = _collect_ranked(bm25_topk_segments(spark, idx, qdf, k=10))
    want = _collect_ranked(bm25_topk_segments(spark, fresh, qdf, k=10))
    assert got == want


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
    """A running micro-batch stages its files under
    flat_delta/.spark-staging-<job>/ingest_batch=<n>/ before the commit
    rename. Neither the unfolded query nor fold may read them, nor a
    non-parquet file inside a committed batch dir."""
    import shutil

    import pyarrow as pa

    from quickb_spark.index import p2_direct
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
    committed = sorted(delta.glob("ingest_batch=*/*.parquet"))
    assert committed
    staged = delta / ".spark-staging-x" / "ingest_batch=99"
    staged.mkdir(parents=True)
    shutil.copy(committed[0], staged / "part-0.parquet")  # same doc ids again
    (staged / "part-1.parquet").write_bytes(b"PAR1 half-written")  # no footer
    (committed[0].parent / "notes.txt").write_text("not a delta file")

    assert _collect_ranked(query_with_deltas(spark, str(idx), qdf, k=10)) == clean

    def unreachable(uri):
        raise pa.ArrowInvalid(f"unrecognized filesystem type in URI: {uri}")

    with monkeypatch.context() as m:
        m.setattr(p2_direct, "pyarrow_fs_for", unreachable)
        with pytest.raises(UnreachableIndexError, match="idx"):
            query_with_deltas(spark, str(idx), qdf, k=10)

    assert fold_deltas_into_index(spark, str(idx), CFG) > 0
    assert _collect_ranked(bm25_topk_segments(spark, str(idx), qdf, k=10)) == clean
