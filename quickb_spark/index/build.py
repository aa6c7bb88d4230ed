"""Inverted-index construction — the flat (uncompressed) layer.

This is the correctness spine (SURVEY.md §7 step 2): chunk → tokenize →
per-document (term, tf, positions) → flat postings. The compressed,
bucketed, segment-file layer (quickb_spark.index.segments) is built on top
and verified against this one.

Scale design notes (100 TB / 1000 executors):
- Tokenization pre-aggregates map-side: one shuffle row per (doc, term),
  never per token (functions/tokenize.py).
- df/cf/doc_len are classic partial+final hash aggregations — Catalyst
  emits the map-side combine automatically; no driver-side loops anywhere.
- Corpus scalars (N, avgdl) are a 2-value aggregate broadcast into the
  scoring expression, not a collected table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from quickb_spark.functions.tokenize import term_frequencies_udf

__all__ = [
    "build_flat_postings",
    "build_doc_stats",
    "build_term_stats",
    "corpus_stats",
]


def build_flat_postings(chunks: DataFrame, text_col: str = "text") -> DataFrame:
    """chunks(doc_id, text, ...) -> (term, doc_id, tf, positions).

    One output row per distinct (doc, term): the per-document aggregation
    happens inside the Arrow batch (map-side), so the downstream shuffle
    carries tf-compressed rows.
    """
    return chunks.select(
        "doc_id",
        F.explode(term_frequencies_udf(F.col(text_col))).alias("p"),
    ).select(
        F.col("p.term").alias("term"),
        "doc_id",
        F.col("p.tf").alias("tf"),
        F.col("p.positions").alias("positions"),
    )


def build_doc_stats(flat_postings: DataFrame) -> DataFrame:
    """(term, doc_id, tf) -> (doc_id, doc_len). Partial+final hash agg."""
    return flat_postings.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))


def build_term_stats(flat_postings: DataFrame) -> DataFrame:
    """(term, doc_id, tf) -> (term, df, cf). Partial+final hash agg."""
    return flat_postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
    )


def corpus_stats(doc_stats: DataFrame) -> tuple[int, float]:
    """(N, avgdl) — the only two scalars the scorer needs."""
    row = doc_stats.agg(
        F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avgdl")
    ).collect()[0]
    return int(row["n"]), float(row["avgdl"] or 0.0)
