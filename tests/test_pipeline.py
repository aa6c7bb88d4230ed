"""Config-driven stage windowing (reference run_pipeline semantics):
full run ≡ windowed runs chained through persisted artifacts."""

from __future__ import annotations

import pytest

from quickb_spark.config import EngineConfig, IndexConfig
from quickb_spark.corpus import fixture_queries, generate_documents_df
from quickb_spark.pipeline import PipelineConfig, PipelineStage, run_pipeline

CFG = EngineConfig(index=IndexConfig(term_buckets=8))


def _ranked(df):
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in df.collect()
    )


def test_validate_early():
    with pytest.raises(ValueError, match="Unknown pipeline stage"):
        PipelineConfig(from_stage="EMBED", index_dir="x", documents_path="d")
    with pytest.raises(ValueError, match="empty window"):
        PipelineConfig(
            from_stage="QUERY", to_stage="CHUNK", index_dir="x", documents_path="d"
        )
    with pytest.raises(ValueError, match="chunks_path"):
        PipelineConfig(from_stage="INDEX", to_stage="INDEX", index_dir="x")
    with pytest.raises(ValueError, match="documents_path"):
        PipelineConfig(index_dir="x")


def test_full_run_equals_windowed_runs(spark, tmp_path):
    docs_path = str(tmp_path / "docs")
    generate_documents_df(spark, 120, seed=13, partitions=2).write.parquet(docs_path)
    queries = fixture_queries()[:6]

    # one-shot CHUNK..QUERY
    full = run_pipeline(
        spark,
        PipelineConfig(
            documents_path=docs_path,
            chunks_path=str(tmp_path / "chunks_full"),
            index_dir=str(tmp_path / "idx_full"),
            engine=CFG,
        ),
        queries=queries,
    )
    want = _ranked(full["results"])

    # windowed: CHUNK alone, then INDEX alone from the persisted chunks,
    # then QUERY alone from the committed index
    chunks_path = str(tmp_path / "chunks_w")
    idx = str(tmp_path / "idx_w")
    r1 = run_pipeline(
        spark,
        PipelineConfig(
            documents_path=docs_path, chunks_path=chunks_path,
            index_dir=idx, engine=CFG,
            from_stage="CHUNK", to_stage="CHUNK",
        ),
    )
    assert "results" not in r1 and "index_dir" not in r1
    r2 = run_pipeline(
        spark,
        PipelineConfig(
            chunks_path=chunks_path, index_dir=idx, engine=CFG,
            from_stage="INDEX", to_stage="INDEX",
        ),
    )
    assert r2["index_dir"] == idx and "chunks" not in r2
    r3 = run_pipeline(
        spark,
        PipelineConfig(
            index_dir=idx, engine=CFG,
            from_stage="QUERY", to_stage="QUERY",
            output_path=str(tmp_path / "out"),
        ),
        queries=queries,
    )
    assert _ranked(r3["results"]) == want
    # the QUERY output artifact persisted and reloads identically
    assert _ranked(spark.read.parquet(str(tmp_path / "out"))) == want


def test_query_stage_requires_queries(spark, tmp_path):
    with pytest.raises(ValueError, match="needs queries"):
        run_pipeline(
            spark,
            PipelineConfig(
                index_dir=str(tmp_path / "nope"),
                from_stage=PipelineStage.QUERY,
                to_stage=PipelineStage.QUERY,
            ),
        )
