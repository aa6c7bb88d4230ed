"""Incremental index refresh via Structured Streaming, on the build engine.

The batch build (index/segments.py) is the base; new documents arrive as a
stream and become queryable in two tiers, the classic base+delta design.
Every tier is written by the same direct engine as the base build:

1. **Ingest** (`start_incremental_ingest`): readStream over a documents
   source → `foreachBatch` runs the phase-1 tasks (p1_direct.build_flat_runs)
   on each micro-batch, salted with the base's persisted hot set: a plain
   parquet file stream's epoch files in place, any other batch staged to
   parquet first. A batch lands as

     flat_delta/ingest_batch=<stream>-<epoch>/flat/bucket=<b>/run-t<t>.parquet
     flat_delta/ingest_batch=<stream>-<epoch>/doc_stats/run-t<t>.parquet
     flat_delta/ingest_batch=<stream>-<epoch>/_BATCH.json

   The runs have the schema of the base's flat/ runs. `_BATCH.json` is the
   batch's commit marker, written last: {n_docs, sum_dl, n_postings,
   buckets}. Only marked batches exist for readers. `<stream>` is the
   first 8 characters of the streaming query's id, which its checkpoint
   keeps across restarts, so two streams never share a batch name. A
   replayed epoch rewrites its batch whole; a replayed epoch that a fold
   already consumed is skipped (meta/folded_epochs.json records the last
   folded epoch per stream), the idempotent `foreachBatch` pattern.
2. **Serve** (`query_with_deltas`): BM25 over base segments ∪ delta runs,
   through the same plan and range task as `Searcher.topk`. The driver
   reads the query terms' delta postings with pyarrow (only the runs of
   the query terms' buckets, filtered by term_h) and the tier's doc count
   and token sum from the markers, merges the corpus stats (N, avgdl, df)
   and ships the postings with the range payload. Delta docs are new
   docs, so scores are bit-identical to a from-scratch rebuild, ties
   included.
3. **Compact** (`fold_deltas_into_index`): the fold marker
   (meta/fold_commit.json: the batches consumed, the touched buckets and
   the new stats.json) is the commit point. The batches' runs are then
   moved into flat/bucket=<b>/ and doc_stats/ under batch-unique names,
   stats.json becomes base + marker sums, the touched buckets are
   invalidated and build_index merge-encodes them (one packed job): no
   Spark aggregation, no shuffle, no re-sort. A batch that commits while
   a fold runs stays pending for the next fold.

Watermarks/event-time windows are not needed for index refresh (postings
are monotone accumulations, not windowed aggregates); the ingest trigger
interval bounds staleness instead.
"""

from __future__ import annotations

import dataclasses
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from quickb_spark.config import BM25_B, BM25_K1, EngineConfig
from quickb_spark.fs import (
    IndexFS,
    file_listing,
    join_path,
    list_bucket_files,
    list_parquet_files,
)
from quickb_spark.index.segments import (
    STAGED_INPUT,
    check_flat_layout,
    invalidate_buckets,
    load_stats,
    stage_documents,
)
from quickb_spark.query.serve_direct import TopK

__all__ = [
    "start_incremental_ingest",
    "query_with_deltas",
    "fold_deltas_into_index",
]

#: Commit marker of one ingested micro-batch, written after its runs.
BATCH_MARKER = "_BATCH.json"

_BATCH_PREFIX = "ingest_batch="


def _delta_dir(index_dir: str) -> str:
    return join_path(index_dir, "flat_delta")


def _batch_dir(index_dir: str, key: str) -> str:
    return join_path(_delta_dir(index_dir), _BATCH_PREFIX + key)


def _fold_marker(index_dir: str) -> str:
    return join_path(index_dir, "meta", "fold_commit.json")


def _folded_path(index_dir: str) -> str:
    return join_path(index_dir, "meta", "folded_epochs.json")


def _folded_epochs(fs: IndexFS, index_dir: str) -> dict[str, int]:
    """stream -> the last epoch a fold consumed."""
    p = _folded_path(index_dir)
    return json.loads(fs.read_text(p)) if fs.exists(p) else {}


def _split_key(key: str) -> tuple[str, int]:
    stream, _, epoch = key.rpartition("-")
    return stream, int(epoch)


def _ingest_batch(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    cfg: EngineConfig,
    stream: str,
    epoch: int,
    files: list[tuple[str, int]] | None = None,
) -> None:
    """Write one micro-batch as a committed delta batch, read from `files`
    if given, else in place if a plain parquet scan, else staged."""
    from quickb_spark.index import p1_direct

    fs = IndexFS(index_dir)
    if epoch <= _folded_epochs(fs, index_dir).get(stream, -1):
        return  # a replay of an epoch a fold already consumed
    bdir = _batch_dir(index_dir, f"{stream}-{epoch}")
    fs.delete(bdir)  # a replayed epoch rewrites its batch whole
    stats = load_stats(index_dir)
    # bucket and salt exactly as the base did, whatever cfg says
    icfg = dataclasses.replace(
        cfg,
        index=dataclasses.replace(
            cfg.index,
            term_buckets=int(stats["term_buckets"]),
            salt_buckets=int(stats["salt_buckets"]),
        ),
    )
    staged = join_path(bdir, STAGED_INPUT)
    files = files or p1_direct.documents_files(docs)
    if not files:
        stage_documents(spark, docs, staged)
        files = list_parquet_files(staged)
    summary = p1_direct.build_flat_runs(
        spark, files, join_path(bdir, "flat"), join_path(bdir, "doc_stats"),
        icfg, stats["hot_terms"],
    )
    fs.delete(staged)
    fs.write_text_atomic(join_path(bdir, BATCH_MARKER), json.dumps(summary))


def _reads_in_place(stream_docs: DataFrame) -> bool:
    """Is each micro-batch the rows of the files its parquet source read
    (scan_leaf over a `StreamingRelation`)? The sink cannot tell: its
    `LogicalRDD` plan shows neither the files nor any transformation."""
    from quickb_spark.index.p1_direct import DOC_COLUMNS, scan_leaf

    leaf = scan_leaf(stream_docs)
    if leaf is None or leaf[0] != "StreamingRelation":
        return False
    source = leaf[1].dataSource()
    parts = source.sourceInfo().partitionColumns().mkString("\n").split("\n")
    fmt = source.className().rsplit(".", 1)[-1]
    return fmt in ("parquet", "ParquetFileFormat") and (
        set(DOC_COLUMNS).isdisjoint(parts))


def _epoch_files(fs: IndexFS, ckpt: str, epoch: int) -> list | None:
    """The files the file source logged for `epoch`: `sources/0/<epoch>` or
    `<epoch>.compact`, a `v1` line then JSON lines {path, timestamp,
    batchId}. None (stage the batch) if that log is missing or not `v1`."""
    log = join_path(ckpt, "sources", "0", str(epoch))
    path = next((p for p in (log, log + ".compact") if fs.exists(p)), None)
    lines = fs.read_text(path).splitlines() if path else []
    if lines[:1] != ["v1"]:
        return None
    return file_listing([
        e["path"]
        for e in map(json.loads, filter(None, lines[1:]))
        if e["batchId"] == epoch
    ])


def start_incremental_ingest(
    spark: SparkSession,
    stream_docs: DataFrame,
    index_dir: str,
    cfg: EngineConfig | None = None,
    trigger_seconds: int | None = None,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """stream_docs: a STREAMING DataFrame with the documents schema.

    Each micro-batch lands as a committed delta batch under
    flat_delta/ingest_batch=<stream>-<epoch>. The index must already have
    a base (build_index), whose buckets, salts and hot set the batches
    reuse. The checkpoint (default <index>/stream_checkpoint) outlives
    folds, so a restarted stream resumes after the files it has read.

    A plain parquet file stream (`spark.readStream.schema(s).parquet(dir)`)
    is read in place: each epoch, a replay too, reads the files its source
    logged in this checkpoint. Other streams' micro-batches are staged.
    Raises UnreachableIndexError, before the stream starts, when pyarrow
    cannot reach the checkpoint."""
    cfg = cfg or EngineConfig()
    ckpt = checkpoint or join_path(index_dir, "stream_checkpoint")
    ckpt_fs = IndexFS(ckpt)
    in_place = _reads_in_place(stream_docs)
    stream_id: list[str] = []

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if not stream_id:
            # the query id, written to the checkpoint before any batch runs
            meta = ckpt_fs.read_text(join_path(ckpt, "metadata"))
            stream_id.append(json.loads(meta.splitlines()[0])["id"][:8])
        epoch = int(epoch_id)
        _ingest_batch(spark, batch_df, index_dir, cfg, stream_id[0], epoch,
                      _epoch_files(ckpt_fs, ckpt, epoch) if in_place else None)

    writer = stream_docs.writeStream.foreachBatch(sink).option(
        "checkpointLocation", ckpt
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _delta_batches(fs: IndexFS, index_dir: str) -> list[tuple[str, dict]]:
    """The committed, unfolded delta tier: [(batch key, marker)] of every
    `ingest_batch=<key>` dir that holds a BATCH_MARKER, in key order.
    Fold and the unfolded query both read exactly this list."""
    d = _delta_dir(index_dir)
    if not fs.exists(d):
        return []
    folded = _folded_epochs(fs, index_dir)
    out = []
    for name in fs.listdir(d):
        marker = join_path(d, name, BATCH_MARKER)
        if not name.startswith(_BATCH_PREFIX) or not fs.exists(marker):
            continue
        key = name[len(_BATCH_PREFIX):]
        stream, epoch = _split_key(key)
        if epoch > folded.get(stream, -1):
            out.append((key, json.loads(fs.read_text(marker))))
    return out


def _delta_postings(
    fs: IndexFS, index_dir: str, batches, terms: list[str], n_buckets: int
):
    """The given terms' postings in the delta tier, read in the driver with
    pyarrow from the runs of the terms' buckets, plus the tier's doc count
    and token sum from the batch markers. -> searcher.ExtraPostings.
    Raises UnreachableIndexError when pyarrow cannot reach the index's
    filesystem."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from quickb_spark.functions.hashing import xxhash64
    from quickb_spark.query.searcher import ExtraPostings

    by_h = {xxhash64(t): t for t in terms}
    want = {h % n_buckets for h in by_h}
    paths = [
        p
        for key, m in batches
        for _b, p, _sz in list_bucket_files(
            join_path(_batch_dir(index_dir, key), "flat"),
            sorted(want.intersection(m["buckets"])),
        )
    ]
    postings = {}
    if paths:
        tbl = ds.dataset(paths, format="parquet", filesystem=fs.fs).to_table(
            columns=["term_h", "doc_id", "tf", "doc_len"],
            filter=pc.field("term_h").isin(pa.array(list(by_h), pa.int64())),
        )
        th = tbl["term_h"].to_numpy()
        docs = tbl["doc_id"].to_numpy()
        tfs = tbl["tf"].to_numpy()
        dls = tbl["doc_len"].to_numpy()
        for h, t in by_h.items():
            rows = np.flatnonzero(th == h)
            if len(rows):
                rows = rows[np.argsort(docs[rows], kind="stable")]
                postings[t] = (docs[rows], tfs[rows], dls[rows])
    return ExtraPostings(
        n_docs=sum(m["n_docs"] for _, m in batches),
        tokens=sum(m["sum_dl"] for _, m in batches),
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
    from-scratch rebuild over base+delta bit for bit (tested). The fresh
    Searcher reads only the query terms' lexicon rows, so a small plan
    runs no Spark job (it is scored in the driver, see
    serve_direct.serve_topk_direct), a larger one only the range job.
    With no delta pending this is a plain Searcher call.

    As for Searcher.topk, list input runs no Spark job; a DataFrame of
    queries costs one Spark collect per call, and the first collect after
    open also pays the JVM warm-up (about 1.4 s on the `fixed-cost`
    benchmark index)."""
    from quickb_spark.query.searcher import Searcher, _tokenize

    s = Searcher(spark, index_dir, k1, b)
    toks_by_q = _tokenize(queries)
    fs = IndexFS(index_dir)
    batches = _delta_batches(fs, index_dir)
    extra = None
    if batches:
        terms = sorted({t for toks in toks_by_q.values() for t in toks})
        extra = _delta_postings(fs, index_dir, batches, terms, s.n_buckets)
    return s._serve(s._plan(toks_by_q, k, extra=extra))


def _move_runs(fs: IndexFS, src: str, dst: str, key: str) -> None:
    """Move src's run files into dst as run-b<key>-<rest>: names unique
    across batches. Files already moved by an earlier attempt are gone
    from src, so a retry moves only the rest."""
    if not fs.exists(src):
        return
    fs.mkdirs(dst)
    for name in fs.listdir(src):
        if name.startswith("run-") and name.endswith(".parquet"):
            fs.rename(
                join_path(src, name), join_path(dst, f"run-b{key}-{name[4:]}")
            )


def _finish_fold(
    spark: SparkSession, fs: IndexFS, index_dir: str, marker: dict,
    cfg: EngineConfig,
) -> None:
    """Commit point passed: move the marker's batches into the base,
    write its stats, re-encode its buckets. Every step is idempotent, so a
    crashed fold resumes here from the marker and converges to
    exactly-once. The marker is deleted last, after build_index returns."""
    from quickb_spark.index.segments import build_index

    folded = _folded_epochs(fs, index_dir)
    for key in marker["batches"]:
        stream, epoch = _split_key(key)
        folded[stream] = max(folded.get(stream, -1), epoch)
    fs.write_text_atomic(_folded_path(index_dir), json.dumps(folded))
    flat_dir = join_path(index_dir, "flat")
    for key in marker["batches"]:
        bdir = _batch_dir(index_dir, key)
        if not fs.exists(bdir):  # moved and deleted by an earlier attempt
            continue
        _move_runs(
            fs, join_path(bdir, "doc_stats"), join_path(index_dir, "doc_stats"),
            key,
        )
        for b in marker["touched"]:
            _move_runs(
                fs, join_path(bdir, "flat", f"bucket={b}"),
                join_path(flat_dir, f"bucket={b}"), key,
            )
        fs.delete(bdir)
    fs.write_text_atomic(
        join_path(index_dir, "meta", "stats.json"), json.dumps(marker["stats"])
    )
    invalidate_buckets(fs, index_dir, marker["touched"])
    build_index(spark, index_dir=index_dir, cfg=cfg)
    fs.delete(_fold_marker(index_dir))


def fold_deltas_into_index(
    spark: SparkSession,
    index_dir: str,
    cfg: EngineConfig | None = None,
) -> int:
    """Compact the committed delta batches into the base: move their runs
    into the flat checkpoint, then re-encode only the buckets they touched.
    Returns #buckets redone.

    Crash-safe (exactly-once): the fold marker, written atomically before
    anything moves, names the batches consumed and holds the new
    stats.json. A crash before the marker leaves the index and deltas
    untouched; a crash after it is finished idempotently by the next call.
    Raises RuntimeError, before anything moves, on an index whose
    checkpoint is an older engine layout (segments.check_flat_layout); it
    must be rebuilt."""
    cfg = cfg or EngineConfig()
    fs = IndexFS(index_dir)
    if fs.exists(_fold_marker(index_dir)):
        _finish_fold(
            spark, fs, index_dir,
            json.loads(fs.read_text(_fold_marker(index_dir))), cfg,
        )
    batches = _delta_batches(fs, index_dir)
    if not batches:
        return 0
    # deltas fold only into this engine's sorted runs; an older engine
    # layout is refused here, before the fold marker, so nothing moves
    check_flat_layout(fs, join_path(index_dir, "flat"))
    stats = load_stats(index_dir)
    n0 = int(stats["n_docs"])
    n_docs = n0 + sum(m["n_docs"] for _, m in batches)
    # avgdl * n recovers the base's integer token sum, so the new avgdl is
    # the one a rebuild would compute
    tokens = round(stats["avgdl"] * n0) + sum(m["sum_dl"] for _, m in batches)
    marker = {
        "batches": [key for key, _ in batches],
        "touched": sorted({b for _, m in batches for b in m["buckets"]}),
        "stats": stats | {
            "n_docs": n_docs,
            "avgdl": tokens / n_docs if n_docs else 0.0,
            "n_postings": int(stats["n_postings"])
            + sum(m["n_postings"] for _, m in batches),
        },
    }
    fs.write_text_atomic(_fold_marker(index_dir), json.dumps(marker))
    _finish_fold(spark, fs, index_dir, marker, cfg)
    return len(marker["touched"])
