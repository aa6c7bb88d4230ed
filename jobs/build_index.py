"""spark-submit entry point: build the compressed BM25 index.

Cluster usage (north rule: multi-executor, --py-files):

    spark-submit \\
      --master <cluster> --num-executors N \\
      --py-files quickb_spark.zip \\
      jobs/build_index.py \\
      --input <documents table path or parquet dir> \\
      --index-dir <output index root> \\
      [--input-format parquet|iceberg] [--term-buckets 4096] \\
      [--wave-size 256]

The INPUT may be an Iceberg table (needs the iceberg-spark runtime jar on
the cluster). The index itself is written as bucket-partitioned parquet
directories — an Iceberg-ready layout (identity partitioning on `bucket`),
not an Iceberg table.

The job is resumable: rerunning with the same --index-dir skips the phase-1
checkpoint and any bucket whose meta is committed (crash-safe by
construction; see quickb_spark/index/segments.py).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents table location")
    ap.add_argument("--index-dir", required=True)
    ap.add_argument(
        "--input-format", default="parquet", choices=["parquet", "iceberg"]
    )
    ap.add_argument("--term-buckets", type=int, default=64)
    ap.add_argument("--wave-size", type=int, default=64)
    ap.add_argument("--no-positions", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from quickb_spark.config import EngineConfig, IndexConfig
    from quickb_spark.index.segments import build_index, segments_meta

    from quickb_spark.session import tune_builder

    spark = tune_builder(
        SparkSession.builder.appName("quickb-build-index")
    ).getOrCreate()
    cfg = EngineConfig(
        index=IndexConfig(
            term_buckets=args.term_buckets,
            store_positions=not args.no_positions,
        )
    )
    if args.input_format == "iceberg":
        docs = spark.read.format("iceberg").load(args.input)
    else:
        docs = spark.read.parquet(args.input)

    build_index(
        spark,
        index_dir=args.index_dir,
        cfg=cfg,
        wave_size=args.wave_size,
        documents=docs,
        # parquet inputs are read in place; an iceberg snapshot (resolved
        # by the JVM reader, not a file listing) is staged to parquet first
        corpus_uri=args.input if args.input_format == "parquet" else None,
    )
    meta = segments_meta(spark, args.index_dir)
    meta.orderBy("partition_id").show(20, truncate=False)
    spark.stop()


if __name__ == "__main__":
    main()
