"""Config-driven stage orchestration (reference src/main.py:456-521).

The reference pipeline runs CHUNK -> GENERATE -> TRAIN, windowed by
`from_stage`/`to_stage`: stages outside the window are skipped and their
outputs, when a later stage needs them, are loaded from the persisted
artifact of an earlier run. The engine analog is

    CHUNK  documents -> chunk rows            (chunker chosen by registry
                                               name, reference-style)
    INDEX  chunk rows -> compressed segments  (index/segments.build_index)
    QUERY  queries -> ranked top-k            (query.searcher.Searcher)

with the same windowing semantics: `run_pipeline` executes exactly the
stages inside [from_stage, to_stage]; a skipped CHUNK loads the persisted
chunks parquet, a skipped INDEX expects `index_dir` to hold a committed
index (build_index's own resume markers decide what to do), and QUERY
writes ranked results to `output_path` if given.

Config is validate-early (mirrors config.py's philosophy and the
reference's pydantic PipelineConfig): unknown stage names fail before any
Spark job runs.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import IntEnum

from pyspark.sql import DataFrame, SparkSession

from quickb_spark.config import ChunkerConfig, EngineConfig

__all__ = ["PipelineStage", "PipelineConfig", "run_pipeline"]


class PipelineStage(IntEnum):
    CHUNK = 1
    INDEX = 2
    QUERY = 3


def _stage(name: str | PipelineStage) -> PipelineStage:
    if isinstance(name, PipelineStage):
        return name
    try:
        return PipelineStage[name.strip().upper()]
    except KeyError:
        raise ValueError(
            f"Unknown pipeline stage: {name!r}. "
            f"Available stages: {[s.name for s in PipelineStage]}"
        ) from None


@dataclass(frozen=True)
class PipelineConfig:
    """Everything a windowed run needs; validated at construction."""

    documents_path: str | None = None  #: input table (parquet dir)
    chunks_path: str | None = None  #: persisted CHUNK output / INDEX input
    index_dir: str = ""
    output_path: str | None = None  #: QUERY output parquet (optional)
    chunker: str = "RecursiveTokenChunker"  #: registry name
    chunker_config: ChunkerConfig = field(default_factory=ChunkerConfig)
    engine: EngineConfig = field(default_factory=EngineConfig)
    from_stage: str | PipelineStage = PipelineStage.CHUNK
    to_stage: str | PipelineStage = PipelineStage.QUERY
    k: int = 10

    def __post_init__(self) -> None:
        lo, hi = _stage(self.from_stage), _stage(self.to_stage)
        object.__setattr__(self, "from_stage", lo)
        object.__setattr__(self, "to_stage", hi)
        if lo > hi:
            raise ValueError(
                f"from_stage {lo.name} is after to_stage {hi.name} — empty window"
            )
        if self._runs(PipelineStage.CHUNK) and not self.documents_path:
            raise ValueError("CHUNK stage needs documents_path")
        if (
            self._runs(PipelineStage.INDEX)
            and not self._runs(PipelineStage.CHUNK)
            and not self.chunks_path
        ):
            raise ValueError(
                "INDEX without CHUNK needs chunks_path (a prior run's output)"
            )
        if self._runs(PipelineStage.INDEX) or self._runs(PipelineStage.QUERY):
            if not self.index_dir:
                raise ValueError("INDEX/QUERY stages need index_dir")

    def _runs(self, s: PipelineStage) -> bool:
        return self.from_stage <= s <= self.to_stage


def run_pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    queries: DataFrame | list[tuple[str, str]] | None = None,
) -> dict:
    """Execute the configured stage window. Returns the artifacts the run
    produced: {"chunks": DataFrame?, "index_dir": str?, "results": ...?}.
    "results" is the Searcher's local TopK list, or the written parquet
    read back as a DataFrame when `output_path` is set.
    """
    from quickb_spark.chunking.registry import chunk_documents_with

    out: dict = {}
    chunks: DataFrame | None = None

    if cfg._runs(PipelineStage.CHUNK):
        docs = spark.read.parquet(cfg.documents_path)
        chunks = chunk_documents_with(cfg.chunker, docs, cfg.chunker_config)
        if cfg.chunks_path:
            chunks.write.mode("overwrite").parquet(cfg.chunks_path)
            chunks = spark.read.parquet(cfg.chunks_path)  # cut lineage
        out["chunks"] = chunks

    if cfg._runs(PipelineStage.INDEX):
        from quickb_spark.index.segments import build_index

        if chunks is None:  # CHUNK skipped: load the persisted artifact
            chunks = spark.read.parquet(cfg.chunks_path)
        build_index(
            spark, chunks=chunks.select("doc_id", "text"),
            index_dir=cfg.index_dir, cfg=cfg.engine,
        )
        out["index_dir"] = cfg.index_dir

    if cfg._runs(PipelineStage.QUERY):
        from quickb_spark.query.searcher import Searcher

        if queries is None:
            raise ValueError("QUERY stage needs queries")
        results = Searcher(spark, cfg.index_dir).topk(queries, k=cfg.k)
        if cfg.output_path:
            results.toDF().write.mode("overwrite").parquet(cfg.output_path)
            results = spark.read.parquet(cfg.output_path)
        out["results"] = results

    return out
