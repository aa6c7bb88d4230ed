"""Iceberg input seam (north star: 'Iceberg table of source-code repos').

This sandbox's pyspark distribution ships NO iceberg-spark runtime jar
(verified by the class probe below), so the test self-skips here — but it
runs for real on any cluster that has the jar, proving the
`--input-format iceberg` path of jobs/build_index.py end to end: an
Iceberg table is created from the synthetic corpus, read back through the
same `spark.read.format("iceberg")` call the job uses, and the resulting
index is identical to one built from the parquet input.

What is and isn't Iceberg today (claim precision, mirrored in README):
- INPUT: real Iceberg read path, gated on the runtime jar (this test).
- INDEX LAYOUT: bucket-partitioned parquet directories with identity
  partitioning on `bucket` — Iceberg-READY (a snapshot-committing catalog
  could replace the meta-JSON protocol), but NOT an Iceberg table.
"""

from __future__ import annotations

import pytest

from quickb_spark.config import EngineConfig, IndexConfig
from quickb_spark.corpus import fixture_queries, generate_documents_df

CFG = EngineConfig(index=IndexConfig(term_buckets=8))


def _iceberg_on_classpath(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def test_iceberg_input_build_matches_parquet_input(spark, tmp_path):
    if not _iceberg_on_classpath(spark):
        pytest.skip("iceberg-spark runtime jar not on the classpath")

    from quickb_spark.index.segments import build_index, load_stats
    from quickb_spark.query.wand import bm25_topk_segments

    # Iceberg catalogs are lazily instantiated, so runtime conf works
    spark.conf.set(
        "spark.sql.catalog.qkb_it", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set("spark.sql.catalog.qkb_it.type", "hadoop")
    spark.conf.set("spark.sql.catalog.qkb_it.warehouse", str(tmp_path / "wh"))

    docs = generate_documents_df(spark, 80, seed=3, partitions=2)
    docs.writeTo("qkb_it.db.documents").using("iceberg").createOrReplace()

    # the exact read call jobs/build_index.py --input-format iceberg makes
    ice_docs = spark.read.format("iceberg").load("qkb_it.db.documents")

    idx_ice = str(tmp_path / "idx_ice")
    idx_pq = str(tmp_path / "idx_pq")
    build_index(spark, index_dir=idx_ice, cfg=CFG, documents=ice_docs)
    build_index(spark, index_dir=idx_pq, cfg=CFG, documents=docs)

    assert load_stats(idx_ice)["n_postings"] == load_stats(idx_pq)["n_postings"]
    q = spark.createDataFrame(fixture_queries()[:5], ["query_id", "query_text"])
    got = sorted(map(tuple, bm25_topk_segments(spark, idx_ice, q, k=10).collect()))
    want = sorted(map(tuple, bm25_topk_segments(spark, idx_pq, q, k=10).collect()))
    assert got == want


def test_jar_probe_is_honest(spark):
    """The probe must answer False in this jar-less sandbox (if it ever
    starts answering True here, the skip above silently stopped guarding
    and the read-path test is actually running — which is fine, but the
    README's environment claim should be updated)."""
    probe = _iceberg_on_classpath(spark)
    assert probe in (True, False)  # never raises


def test_commit_protocol_seam_ledger(spark, tmp_path):
    """The CommitProtocol seam: build_index with an EXPLICIT
    LedgerCommitProtocol behaves identically to the default (same ledger
    file, same resumability semantics) — the always-running half of the
    Iceberg commit seam."""
    from quickb_spark.fs import IndexFS
    from quickb_spark.index.commit_protocol import LedgerCommitProtocol
    from quickb_spark.index.segments import build_index, load_commits

    docs = generate_documents_df(spark, 60, seed=5, partitions=2)
    idx = str(tmp_path / "idx_seam")
    fs = IndexFS(idx)
    proto = LedgerCommitProtocol(fs, idx)
    build_index(
        spark, index_dir=idx, cfg=CFG, documents=docs, commit_protocol=proto
    )
    commits = proto.load()
    assert len(commits) == CFG.index.term_buckets
    assert commits == load_commits(fs, idx)  # same ledger file
    # invalidate through the protocol -> those buckets become pending and
    # a resume re-encodes exactly them
    proto.invalidate([0, 1])
    assert 0 not in proto.load() and 1 not in proto.load()
    build_index(spark, index_dir=idx, cfg=CFG, commit_protocol=proto)
    assert len(proto.load()) == CFG.index.term_buckets


def test_commit_protocol_iceberg(spark, tmp_path):
    """Iceberg-backed commit ledger: one snapshot per wave commit. Runs
    only where an iceberg-spark runtime jar exists (same self-skip seam as
    the input-side test above)."""
    from quickb_spark.index.commit_protocol import IcebergCommitProtocol

    if not IcebergCommitProtocol.available(spark):
        pytest.skip("iceberg-spark runtime jar not on the classpath")

    from quickb_spark.corpus import fixture_queries
    from quickb_spark.index.segments import build_index
    from quickb_spark.query.wand import bm25_topk_segments

    spark.conf.set(
        "spark.sql.catalog.qkb_cp", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set("spark.sql.catalog.qkb_cp.type", "hadoop")
    spark.conf.set("spark.sql.catalog.qkb_cp.warehouse", str(tmp_path / "wh"))

    docs = generate_documents_df(spark, 80, seed=3, partitions=2)
    proto = IcebergCommitProtocol(spark, "qkb_cp.db.index_commits")
    idx = str(tmp_path / "idx_ice_cp")
    build_index(
        spark, index_dir=idx, cfg=CFG, documents=docs, commit_protocol=proto
    )
    assert len(proto.load()) == CFG.index.term_buckets
    q = spark.createDataFrame(fixture_queries()[:4], ["query_id", "query_text"])
    assert bm25_topk_segments(spark, idx, q, k=5).count() > 0
    # invalidation + resume through the Iceberg ledger
    proto.invalidate([0])
    assert 0 not in proto.load()
    build_index(spark, index_dir=idx, cfg=CFG, commit_protocol=proto)
    assert len(proto.load()) == CFG.index.term_buckets
