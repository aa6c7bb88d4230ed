"""quickb_spark — a PySpark-native full-text index + BM25 retrieval engine.

A from-scratch re-expression of the data-processing capabilities of
mdean77a/QuicKB (reference at /root/reference, studied for semantics only):
corpus ingest → deterministic recursive-character chunking → code-aware
tokenization → bucketed inverted-index build (delta-gap + varbyte postings with
block-max metadata) → BM25 top-k query serving (DAAT with block-max WAND),
plus the dedup / similarity / text-analysis operators a large-scale
training-data pipeline needs.

Architecture is Spark-first: DataFrame plans optimized by Catalyst, vectorized
pandas/Arrow UDFs only where built-ins cannot express the semantics (chunking,
posting-list encoding, WAND scoring), zero custom Catalyst rules.
"""

__version__ = "0.1.0"

from quickb_spark.config import EngineConfig  # noqa: F401
from quickb_spark.session import keep_zip_directories

# every process that imports the engine (each worker that unpickles an
# engine closure) stops re-reading zip archives on every task
keep_zip_directories()
