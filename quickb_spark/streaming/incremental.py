"""Incremental index refresh via Structured Streaming.

The batch build (index/segments.py) is the base; new documents arrive as a
stream and become queryable in two tiers, the classic base+delta design:

1. **Ingest** (`start_incremental_ingest`): readStream over a documents
   source → the same fused chunk+tokenize kernel → `foreachBatch` appends
   each micro-batch's flat postings to `<index>/flat_delta/ingest_batch=<n>`
   (append-only, naturally idempotent per epoch — Structured Streaming
   replays a failed epoch into the same directory).
2. **Serve** (`query_with_deltas`): BM25 over base segments ∪ delta flats,
   through the same plan and range task as `Searcher.topk`. The driver
   reads the query terms' delta postings with pyarrow (deltas are small and
   uncompressed), merges the corpus stats (N, avgdl, df) and ships the
   postings with the range payload; each range task scores them beside
   the segment parts. Delta docs are new docs, so scores are bit-identical
   to a from-scratch rebuild, ties included.
3. **Compact** (`fold_deltas_into_index`): fold accumulated deltas into the
   bucketed checkpoint and re-encode ONLY the buckets that received new
   postings (bucket pruning makes refresh cost proportional to the delta,
   not the index).

Watermarks/event-time windows are not needed for index refresh (postings
are monotone accumulations, not windowed aggregates); the ingest trigger
interval bounds staleness instead.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from quickb_spark.config import BM25_B, BM25_K1, EngineConfig
from quickb_spark.fs import IndexFS, join_path
from quickb_spark.index.flatten import flat_postings_from_documents
from quickb_spark.index.segments import _bucket_col, invalidate_buckets
from quickb_spark.query.serve_direct import TopK

__all__ = [
    "start_incremental_ingest",
    "query_with_deltas",
    "fold_deltas_into_index",
]


def _delta_dir(index_dir: str) -> str:
    return join_path(index_dir, "flat_delta")


def start_incremental_ingest(
    spark: SparkSession,
    stream_docs: DataFrame,
    index_dir: str,
    cfg: EngineConfig | None = None,
    trigger_seconds: int | None = None,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """stream_docs: a STREAMING DataFrame with the documents schema.

    Each micro-batch lands as an append under flat_delta/ingest_batch=<n>.
    """
    cfg = cfg or EngineConfig()
    nb = cfg.index.term_buckets
    out = _delta_dir(index_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        flat = flat_postings_from_documents(batch_df, cfg).withColumn(
            "bucket", _bucket_col(F.col("term"), nb)
        )
        (
            flat.withColumn("ingest_batch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .parquet(out)
        )

    writer = stream_docs.writeStream.foreachBatch(sink).option(
        "checkpointLocation",
        checkpoint or join_path(index_dir, "stream_checkpoint"),
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _delta_files(fs: IndexFS, index_dir: str) -> list[str]:
    """The committed delta tier: the `.parquet` files directly inside the
    top-level `ingest_batch=<n>` dirs. Names starting with `_` or `.` are
    skipped, as Spark's reader skips them: a running micro-batch stages
    its files under `flat_delta/.spark-staging-<job>/` and renames them
    into place on commit, and checksum files start with `.`. Fold and
    the unfolded query both read exactly this list."""
    d = _delta_dir(index_dir)
    if not fs.exists(d):
        return []
    out = []
    for batch in fs.listdir(d):
        if not batch.startswith("ingest_batch="):
            continue
        bdir = join_path(d, batch)
        out += [
            join_path(bdir, n) for n in fs.listdir(bdir)
            if n.endswith(".parquet") and not n.startswith(("_", "."))
        ]
    return out


def _delta_flat(spark: SparkSession, index_dir: str) -> DataFrame | None:
    files = _delta_files(IndexFS(index_dir, spark), index_dir)
    if not files:
        return None
    return (
        spark.read.option("basePath", _delta_dir(index_dir)).parquet(*files)
    )


def _delta_postings(spark: SparkSession, index_dir: str, terms: list[str]):
    """The pending delta tier, read in the driver with pyarrow: the given
    terms' postings plus the tier's doc count and token sum (from its
    `first == 1` rows, one per doc). -> searcher.ExtraPostings, or None
    when no delta is pending. Raises UnreachableIndexError when pyarrow
    cannot reach the index's filesystem."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from quickb_spark.index.p2_direct import pyarrow_fs_for
    from quickb_spark.query.searcher import ExtraPostings, UnreachableIndexError

    files = _delta_files(IndexFS(index_dir, spark), index_dir)
    if not files:
        return None
    d = _delta_dir(index_dir)
    try:
        fsys, root = pyarrow_fs_for(d)
    except (OSError, ValueError, NotImplementedError) as e:
        # pyarrow: ArrowInvalid (unknown scheme) / ArrowIOError /
        # ArrowNotImplementedError, as in Searcher._files_for
        raise UnreachableIndexError(
            f"cannot reach the delta files of index {index_dir!r} with "
            f"pyarrow: {e}"
        ) from e
    paths = [root + f[len(d):] for f in files]
    tbl = ds.dataset(paths, format="parquet", filesystem=fsys).to_table(
        columns=["term", "doc_id", "tf", "doc_len", "first"],
        filter=pc.field("term").isin(pa.array(terms, pa.string()))
        | (pc.field("first") == 1),
    )
    firsts = tbl.filter(pc.equal(tbl["first"], 1))
    postings = {}
    for t in terms:
        rows = tbl.filter(pc.equal(tbl["term"], t))
        if not rows.num_rows:
            continue
        docs = rows["doc_id"].to_numpy()
        order = np.argsort(docs, kind="stable")
        postings[t] = (
            docs[order],
            rows["tf"].to_numpy()[order],
            rows["doc_len"].to_numpy()[order],
        )
    return ExtraPostings(
        n_docs=firsts.num_rows,
        tokens=int(pc.sum(firsts["doc_len"]).as_py() or 0),
        postings=postings,
    )


def query_with_deltas(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame | list[tuple[str, str]],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> TopK:
    """BM25 top-k over base segments plus any unfolded streaming deltas,
    as a local `TopK` list of (query_id, rank, doc_id, score) rows.

    Planned by a fresh Searcher with the delta tier merged in: N and the
    token sum add up, df = df_base + df_delta (a delta-only term is live),
    and each range task scores the delta postings of its range beside the
    segment parts. Base and delta doc ids are disjoint, so results equal a
    from-scratch rebuild over base+delta bit for bit (tested). Only the
    query terms' lexicon rows are read driver-side, so a small plan runs
    no Spark job (it is scored in the driver, see
    serve_direct.serve_topk_direct), a larger one only the range job, and
    no call loads the whole term dictionary. With no delta pending this
    is a plain Searcher call."""
    from quickb_spark.functions.hashing import bucket_of
    from quickb_spark.query.searcher import Searcher, _tokenize

    s = Searcher(spark, index_dir, k1, b)
    toks_by_q = _tokenize(queries)
    terms = sorted({t for toks in toks_by_q.values() for t in toks})
    s._read_lexicon(
        sorted({bucket_of(t, s.n_buckets) for t in terms}), terms=terms
    )
    extra = _delta_postings(spark, index_dir, terms)
    return s._serve(s._plan(toks_by_q, k, extra=extra))


def _fold_marker(index_dir: str) -> str:
    return join_path(index_dir, "meta", "fold_commit.json")


def _finish_fold(fs: IndexFS, index_dir: str, touched: list[int]) -> None:
    """Commit point passed: swap staged bucket dirs into the flat checkpoint
    and clear deltas/stale metadata. Every step is idempotent, so a crashed
    fold resumes here from the marker and converges to exactly-once.

    The fold marker itself is NOT deleted here: it must outlive the
    build_index re-encode that follows, so a crash anywhere between the
    swap and the finished re-encode is repaired by the next fold call
    (marker present -> re-run this idempotent cleanup + build_index). The
    caller deletes the marker only after build_index returns."""
    flat_dir = join_path(index_dir, "flat")
    stage_dir = join_path(index_dir, "flat_stage")
    # delta dirs first: once the marker exists, the staged merge is the
    # single source of truth for the touched buckets — a retry must never
    # union deltas in a second time
    fs.delete(_delta_dir(index_dir))
    fs.delete(join_path(index_dir, "stream_checkpoint"))
    for b in touched:
        staged = join_path(stage_dir, f"bucket={b}")
        if fs.exists(staged):  # not yet swapped by a prior attempt
            fs.rename(staged, join_path(flat_dir, f"bucket={b}"))
    stats_path = join_path(index_dir, "meta", "stats.json")
    if fs.exists(stats_path):
        fs.delete(stats_path, recursive=False)
    invalidate_buckets(fs, index_dir, touched)
    fs.delete(stage_dir)


def fold_deltas_into_index(
    spark: SparkSession,
    index_dir: str,
    cfg: EngineConfig | None = None,
) -> int:
    """Compact deltas into the base: merge into the flat checkpoint, then
    re-encode only the buckets the deltas touched. Returns #buckets redone.

    Crash-safe (exactly-once): the merge lands in a STAGING dir (never a
    read-and-overwrite of the live checkpoint), then a fold-commit marker is
    written atomically; only after the marker do deltas get deleted and the
    staged buckets swapped in. A crash before the marker leaves the live
    index + deltas untouched; a crash after it is finished idempotently by
    the next call via the marker."""
    cfg = cfg or EngineConfig()
    from quickb_spark.index.segments import build_index

    fs = IndexFS(index_dir, spark)
    # finish a previously crashed fold before looking at new deltas: the
    # marker survives until build_index completes, so a crash anywhere
    # after the commit point (including between cleanup and re-encode —
    # the window that used to orphan the index with no stats.json) is
    # repaired here idempotently
    if fs.exists(_fold_marker(index_dir)):
        prev = json.loads(fs.read_text(_fold_marker(index_dir)))["touched"]
        _finish_fold(fs, index_dir, prev)
        build_index(spark, index_dir=index_dir, cfg=cfg)
        fs.delete(_fold_marker(index_dir), recursive=False)

    delta = _delta_flat(spark, index_dir)
    if delta is None:
        return 0
    flat_dir = join_path(index_dir, "flat")
    stage_dir = join_path(index_dir, "flat_stage")
    touched = [
        int(r["bucket"]) for r in delta.select("bucket").distinct().collect()
    ]
    # salt delta rows with the SAME persisted hot set the base build used
    # (salt assignment must stay a pure function of (term, doc_id) across
    # folds; correctness is salt-invariant — queries re-merge sub-lists —
    # but a stable assignment keeps segments canonical), then restore the
    # v3 checkpoint invariant: partitions keyed by (bucket, subgroup(term,
    # salt)) and sorted, so the no-shuffle phase-2 encode applies to folded
    # buckets too.
    hot_path = join_path(index_dir, "meta", "hot_terms.json")
    payload = (
        json.loads(fs.read_text(hot_path)) if fs.exists(hot_path) else {}
    )
    hot = payload.get("hot_terms", [])
    salt_col = (
        F.when(
            F.col("term").isin(hot),
            F.pmod(F.xxhash64("doc_id"), F.lit(cfg.index.salt_buckets)).cast("int"),
        ).otherwise(F.lit(0))
        if hot
        else F.lit(0).cast("int")
    )
    from quickb_spark.index.segments import _subgroups_per_bucket

    g = _subgroups_per_bucket(
        spark.sparkContext.defaultParallelism,
        cfg.index.term_buckets,
        int(payload.get("est_postings", 0)),
        cfg,
    )
    # delta rows still carry term STRINGS (the delta tier joins queries by
    # string); convert to the v4 checkpoint identity (salt from the hot-set
    # strings, then term_h) before unioning with the already-v4 base
    delta_v4 = (
        delta.drop("ingest_batch")
        .withColumn("salt", salt_col)
        .withColumn("term_h", F.xxhash64("term"))
        .drop("term")
    )
    merged = (
        spark.read.parquet(flat_dir)
        .filter(F.col("bucket").isin(touched))
        .unionByName(delta_v4)
        .repartition(
            max(len(touched), 1) * g,
            F.col("bucket"),
            F.pmod(F.xxhash64("term_h", "salt"), F.lit(g)),
        )
        .sortWithinPartitions("bucket", "term_h", "salt", "doc_id")
    )
    merged.write.mode("overwrite").partitionBy("bucket").parquet(stage_dir)
    fs.write_text_atomic(
        _fold_marker(index_dir), json.dumps({"touched": touched})
    )  # atomic commit point
    _finish_fold(fs, index_dir, touched)

    # no input DataFrame: the merged phase-1 checkpoint already exists, so
    # build_index only recomputes stats and re-encodes the meta-less buckets
    build_index(spark, index_dir=index_dir, cfg=cfg)
    fs.delete(_fold_marker(index_dir), recursive=False)
    return len(touched)
