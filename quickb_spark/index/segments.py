"""Compressed, bucketed index segments — the real index layout.

Build pipeline (SURVEY.md §7 step 3, north-star core) — format v6. One
engine builds every index, whatever its input, and feeds the streaming
delta tier (streaming/incremental.py):

  input ──► `corpus_uri=` and a plain parquet-scan `documents=` are read
             in place; any other `documents=`, or a pre-chunked `chunks=`
             (doc_id, text) DataFrame, is staged to <index>/_staged_input/
             with one Spark parquet write, deleted once phase 1 commits
        ──► phase 1: batched pyarrow tasks chunk (documents only) +
             tokenize their files, hash terms to term_h = xxhash64(term)
             and write one run per (task, bucket) sorted by
             (term_h, doc_id), plus a doc-stats run; the corpus scalars
             come back with the task summaries
                                              (p1_direct.build_flat_runs)
        ──► phase 2: per wave, one unit per bucket (or per term split of
             a big bucket), LPT-packed into at most one task per slot,
             k-way merges the bucket's runs and writes its delta-gap +
             varbyte + block-max segment AND its (term_h, df) lexicon
             in-task              (p2_direct.merge_encode_buckets)

An index read in place builds in two Spark jobs, phase 1 and phase 2
(one phase-2 job per wave of buckets).

Nothing but task summaries crosses the JVM<->Python Arrow channel. The
`chunks=` input exists because the registry's semantic and fixed-token
chunkers cannot run inside a phase-1 task; `RecursiveTokenChunker` output
(chunking.udf.chunk_documents) builds the same index as its documents.

Skew (the Zipfian `def`/`import` problem): phase 2 knows every term's
exact df, so a posting list longer than p2_direct._ROW_POSTINGS is written
as consecutive doc-range rows (`part` 0, 1, ...) with no sample to decide
it. One term's rows are doc-ordered and doc-disjoint: serving concatenates
them in order, with no re-merge (quickb_spark.query.wand). A Zipf-hot
bucket is still split by term hash across phase-2 units.

Resumability: phase 1 commits with flat/_SUCCESS and the flat/_RUNS
layout marker. Phase 2 is per-bucket idempotent: a bucket's segment and
lexicon dirs are rewritten wholly, then the wave's commits are saved in
the ledger; on restart, committed buckets are skipped and their data is
untouched (lineage preserved). A checkpoint written by an older engine
(no _RUNS marker, or runs missing term_h/doc_len) is refused with a
rebuild message. A fold (streaming/incremental.py) moves delta runs into
flat/, invalidates the touched buckets and calls build_index to
merge-encode them again. `segments_meta()` exposes the whole build
history as a DataFrame.

Layout on disk (Iceberg-ready: swap parquet dirs for an Iceberg table with
identity partitioning on `bucket` without touching the logic):

  <index_dir>/flat/bucket=<b>/run-*.parquet  phase-1 sorted runs (_RUNS marker)
  <index_dir>/doc_stats/run-*.parquet        (doc_id, doc_len) runs
  <index_dir>/segments/bucket=<b>/...        encoded posting lists
  <index_dir>/lexicon/bucket=<b>/...         (term_h, df) global-df lexicon
  <index_dir>/meta/commits.json              per-partition lineage + metrics
                                             ledger (one atomic file; one
                                             entry per bucket)
  <index_dir>/meta/stats.json                corpus scalars, config,
                                             format_version
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession

from quickb_spark.config import EngineConfig
from quickb_spark.fs import IndexFS, join_path, list_parquet_files, pyarrow_fs_for
from quickb_spark.index.commit_protocol import LedgerCommitProtocol

__all__ = [
    "build_index",
    "segments_meta",
    "load_stats",
    "load_commits",
    "invalidate_buckets",
    "check_flat_layout",
]


#: On-disk layout + stats.json contract version. v4: postings carry
#: `term_h = xxhash64(term)` (int64) instead of the term string — terms are
#: only needed for equality (bucketing, grouping, query lookup), so sorts
#: and merges compare 8-byte radix-sortable keys instead of strings
#: (measured 26-28% off the whole phase-1 wall time at 16 cores, when
#: phase 1 was a postings-wide shuffle).
#: Collision math: xxhash64 over a V-term vocabulary collides with
#: probability ~V^2/2^65 (birthday) — ~3e-8 at V=1e6, ~3% at V=1e9; a
#: collision merges two posting lists, perturbing only queries that touch
#: either term. Serving hashes query terms with the bit-identical
#: pure-Python mirror (functions/hashing.py). v3 (string terms, per-block
#: byte offsets, baked-in salt) indexes fail fast and must be rebuilt.
#: v5 adds per-block byte offsets into pos_stream (block_pos_off): any
#: block-aligned slice of the POSITION stream is now independently
#: decodable too, which is what lets the phrase query path position-verify
#: only candidate postings instead of decoding whole hot posting lists.
#: v6 drops hash salting: runs carry no `salt` column, and a segment row is
#: one doc-range `part` of a term's list (a new row every _ROW_POSTINGS
#: postings), so a term's rows are doc-ordered; `stats.json` has no
#: `hot_terms` or `salt_buckets`.
FORMAT_VERSION = 6

#: Where build_index stages a documents= or chunks= DataFrame (deleted
#: after phase 1).
STAGED_INPUT = "_staged_input"

#: Columns a sorted run must carry; a checkpoint without them is an older
#: engine's layout.
_RUN_KEY_COLUMNS = ("term_h", "doc_len")


def stage_documents(
    spark: SparkSession, documents: DataFrame, dest: str, chunked: bool = False
) -> None:
    """Write a documents DataFrame, or a pre-chunked (doc_id, text) one
    when `chunked`, to parquet at `dest` (one Spark write job, overwriting)
    so phase 1 can read it with pyarrow."""
    from quickb_spark.index.p1_direct import CHUNK_COLUMNS, DOC_COLUMNS
    from quickb_spark.taskpack import job_description

    what = "chunks" if chunked else "documents"
    with job_description(spark.sparkContext, f"qkb phase1: stage {what}"):
        documents.select(*(CHUNK_COLUMNS if chunked else DOC_COLUMNS)).write.mode(
            "overwrite"
        ).parquet(dest)


# The commit ledger lives behind a pluggable CommitProtocol seam
# (index/commit_protocol.py): LedgerCommitProtocol (one atomic JSON file,
# the default and the previous hard-wired behavior) or
# IcebergCommitProtocol (one Iceberg snapshot per wave commit, activates
# only where the runtime jar exists). These module-level functions remain
# as stable wrappers over the default ledger.

def load_commits(fs: IndexFS, index_dir: str) -> dict[int, dict]:
    """bucket -> committed meta via the default JSON-ledger protocol."""
    return LedgerCommitProtocol(fs, index_dir).load()


def invalidate_buckets(fs: IndexFS, index_dir: str, buckets: list[int]) -> None:
    """Drop buckets from the commit ledger so the next build_index call
    re-encodes them (used by the streaming delta fold)."""
    LedgerCommitProtocol(fs, index_dir).invalidate(buckets)


def check_flat_layout(fs: IndexFS, flat_dir: str) -> None:
    """Raise RuntimeError unless `flat_dir` holds this engine's sorted-runs
    checkpoint: the _RUNS marker, and runs carrying term_h and doc_len
    (one run's footer is read). Resuming or folding an older
    engine's layout would silently mis-encode, so it must be rebuilt."""
    import pyarrow.parquet as pq

    from quickb_spark.index.p1_direct import RUNS_MARKER

    problems = []
    if not fs.exists(join_path(flat_dir, RUNS_MARKER)):
        problems.append(f"no {RUNS_MARKER} marker")
    runs = list_parquet_files(flat_dir)
    if runs:
        fsys, path = pyarrow_fs_for(runs[0][0])
        with fsys.open_input_file(path) as f:
            names = pq.ParquetFile(f).schema_arrow.names
        missing = [c for c in _RUN_KEY_COLUMNS if c not in names]
        if missing:
            problems.append(f"runs missing columns {', '.join(missing)}")
    if problems:
        raise RuntimeError(
            f"flat checkpoint at {flat_dir} is an older engine layout "
            f"({'; '.join(problems)}) — delete the index dir and rebuild; "
            f"index format v{FORMAT_VERSION} cannot resume or fold it"
        )


def _checkpoint_scalars(index_dir: str) -> tuple[int, int, int]:
    """(n_docs, token sum, n_postings) of a committed flat checkpoint, read
    in the driver with pyarrow: the doc-stats runs' doc_len column and the
    flat runs' row counts from their parquet footers. The same integers
    phase 1's task summaries carry, so stats.json comes out identical."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    def runs(name: str):
        d = join_path(index_dir, name)
        fsys, _ = pyarrow_fs_for(d)
        paths = [pyarrow_fs_for(p)[1] for p, _ in list_parquet_files(d)]
        return ds.dataset(paths, format="parquet", filesystem=fsys)

    dl = runs("doc_stats").to_table(columns=["doc_len"]).column("doc_len")
    return len(dl), int(pc.sum(dl).as_py() or 0), runs("flat").count_rows()


def build_index(
    spark: SparkSession,
    chunks: DataFrame | None = None,
    index_dir: str = "",
    cfg: EngineConfig | None = None,
    wave_size: int = 64,
    documents: DataFrame | None = None,
    corpus_uri: str | None = None,
    timings: dict | None = None,
    commit_protocol=None,
) -> None:
    """Build (or resume) the compressed index.

    Input is `corpus_uri` (the documents table's parquet location), the
    `documents` DataFrame, or a pre-chunked `chunks` DataFrame with a long
    `doc_id` and a string `text` column (chunking.udf.chunk_documents or
    any registry chunker). All three run the one engine on one listing of
    the input files: phase 1 writes per-bucket sorted runs in batched
    pyarrow tasks that never cross the JVM<->Python Arrow
    channel (p1_direct.build_flat_runs), and phase 2 k-way merge-encodes
    them (p2_direct.merge_encode_buckets). A plain parquet scan
    `documents=spark.read.parquet(dir)` is read in place like
    `corpus_uri=dir` (p1_direct.documents_files); any other `documents`
    plan and every `chunks` DataFrame is staged to
    `<index_dir>/_staged_input/` with one Spark parquet write, deleted once
    phase 1 has committed. `corpus_uri` wins when given with either. A
    `chunks=chunk_documents(docs)` build is byte-identical to a
    `documents=docs` build (tests/test_p1_direct.py).
    """
    if chunks is not None and documents is not None:
        raise ValueError("pass at most one of chunks= or documents=")
    cfg = cfg or EngineConfig()
    nb = cfg.index.term_buckets
    _t0 = time.perf_counter()

    def _mark(label: str) -> None:
        nonlocal _t0
        now = time.perf_counter()
        if timings is not None:
            timings[label] = round(timings.get(label, 0.0) + now - _t0, 2)
        _t0 = now
    # side files (markers, meta JSONs, stats) go through the index root's
    # pyarrow filesystem like its data files; a root pyarrow cannot reach
    # raises UnreachableIndexError here, before any Spark job
    fs = IndexFS(index_dir or ".")
    fs.mkdirs(join_path(index_dir, "meta"))
    flat_dir = join_path(index_dir, "flat")
    stats_path = join_path(index_dir, "meta", "stats.json")
    staged_dir = join_path(index_dir, STAGED_INPUT)

    p1_needed = not fs.exists(join_path(flat_dir, "_SUCCESS"))
    # the input files phase 1 reads, and their shape
    chunked = False
    if p1_needed:
        from quickb_spark.index import p1_direct

        if corpus_uri is not None:
            files = list_parquet_files(corpus_uri)
        elif documents is not None and (
            files := p1_direct.documents_files(documents)
        ):
            _mark("phase1 read documents in place")
        else:
            staged = documents if documents is not None else chunks
            if staged is None:
                raise ValueError(
                    "no usable input (chunks=/documents=/corpus_uri=) and no "
                    f"existing flat checkpoint at {flat_dir}"
                )
            chunked = documents is None
            stage_documents(spark, staged, staged_dir, chunked)
            _mark(f"phase1 stage {'chunks' if chunked else 'documents'}")
            files = list_parquet_files(staged_dir)
        if not files:
            where = corpus_uri or staged_dir
            raise ValueError(f"no parquet data files under {where}")

    # ---- phase 1: sorted runs per (task, bucket) plus doc-stats runs -----
    p1_metrics: dict | None = None
    if p1_needed:
        p1_metrics = p1_direct.build_flat_runs(
            spark, files, flat_dir,
            join_path(index_dir, "doc_stats"), cfg, chunked=chunked,
        )
    # phase 1 has committed (its _SUCCESS exists), so a staged input copy
    # is no longer needed, also when an earlier call crashed before
    # deleting it
    fs.delete(staged_dir)

    _mark("phase1 flat checkpoint")

    # ---- phase 1b: corpus scalars ----------------------------------------
    check_flat_layout(fs, flat_dir)
    if not fs.exists(stats_path):
        if p1_metrics is not None:
            # the scalars came back with the phase-1 task summaries
            n_docs = p1_metrics["n_docs"]
            avgdl = p1_metrics["sum_dl"] / n_docs if n_docs else 0.0
            total_postings = p1_metrics["n_postings"]
        else:  # resume path: phase 1 done in a previous process
            n_docs, sum_dl, total_postings = _checkpoint_scalars(index_dir)
            avgdl = sum_dl / n_docs if n_docs else 0.0
        fs.write_text_atomic(
            stats_path,
            json.dumps(
                {
                    "format_version": FORMAT_VERSION,
                    "n_docs": n_docs,
                    "avgdl": avgdl,
                    "n_postings": total_postings,
                    "term_buckets": nb,
                    "block_size": cfg.index.block_size,
                    "store_positions": cfg.index.store_positions,
                }
            ),
        )
    else:  # resuming another format's index fails with the rebuild message
        load_stats(index_dir)

    _mark("phase1b stats")

    # ---- phase 2: per-bucket-wave merge-encode, idempotent, resumable ----
    if commit_protocol is None:
        commit_protocol = LedgerCommitProtocol(fs, index_dir)
    commits = commit_protocol.load()
    pending = [b for b in range(nb) if b not in commits]
    _run_waves(
        spark, fs, index_dir, pending, wave_size, cfg, commits, _mark,
        commit_protocol,
    )


def _run_waves(
    spark, fs, index_dir, pending, wave_size, cfg, commits, _mark,
    commit_protocol,
):
    """Merge-encode the pending buckets wave by wave. Each wave wipes its
    UNCOMMITTED segment + lexicon bucket dirs, then one packed job k-way
    merges each bucket's sorted runs and writes segment AND lexicon
    in-task; the commits come straight from the task summaries, so a wave
    needs no further Spark job. One atomic ledger write commits the wave
    (a crash before it just re-encodes the wave)."""
    from quickb_spark.index import p2_direct

    flat_dir = join_path(index_dir, "flat")
    segments_dir = join_path(index_dir, "segments")
    lex_dir = join_path(index_dir, "lexicon")
    for wave_start in range(0, len(pending), wave_size):
        wave = pending[wave_start : wave_start + wave_size]
        t0 = time.perf_counter()
        for d in (segments_dir, lex_dir):
            if fs.exists(d):
                existing = {x for x in fs.listdir(d) if x.startswith("bucket=")}
                for b in wave:
                    if f"bucket={b}" in existing:
                        fs.delete(join_path(d, f"bucket={b}"))
        summaries = p2_direct.merge_encode_buckets(
            spark, flat_dir, segments_dir, lex_dir, wave,
            cfg.index.block_size, cfg.index.store_positions,
            task_mem_bytes=cfg.index.p2_task_mem_bytes,
        )
        _mark(f"phase2 merge wave {wave[0]}-{wave[-1]}")
        by_bucket = {s["bucket"]: s for s in summaries}
        build_ms = int((time.perf_counter() - t0) * 1000 / max(len(wave), 1))
        for b in wave:
            s = by_bucket.get(b)
            commits[b] = {
                "segment_id": f"seg-{b:05d}",
                "partition_id": b,
                # FIXTURES.md §6 keeps the column name `salt`; it holds
                # the bucket's largest doc-range part (0 for short lists)
                "salt": int(s["max_part"]) if s else 0,
                "term_count": int(s["n_terms"]) if s else 0,
                "posting_count": int(s["n_postings"]) if s else 0,
                "input_rows": int(s["n_postings"]) if s else 0,
                "build_time_ms": build_ms,
                "checkpoint_path": f"segments/bucket={b}",
                "status": "done",
                "committed_at": time.time(),
            }
        commit_protocol.save(commits)
        _mark("phase2 meta commits")


def segments_meta(spark: SparkSession, index_dir: str) -> DataFrame:
    """Per-partition lineage + metrics as a DataFrame (FIXTURES.md §6)."""
    fs = IndexFS(index_dir)
    rows = [m for _, m in sorted(load_commits(fs, index_dir).items())]
    schema = (
        "segment_id string, partition_id int, salt int, term_count long, "
        "posting_count long, input_rows long, build_time_ms long, "
        "checkpoint_path string, status string, committed_at double"
    )
    return spark.createDataFrame(rows, schema=schema)


def load_stats(index_dir: str) -> dict:
    stats_path = join_path(index_dir, "meta", "stats.json")
    stats = json.loads(IndexFS(index_dir).read_text(stats_path))
    # fail fast on format drift: v3 changed stream layout (per-block absolute
    # delta resets + byte offsets) and the checkpoint schema — decoding an
    # older index with this code would silently produce wrong doc_ids for
    # any posting list longer than one block
    got = int(stats.get("format_version", 0))
    if got != FORMAT_VERSION:
        raise RuntimeError(
            f"index at {index_dir} has format_version={got}, this engine "
            f"requires {FORMAT_VERSION} — rebuild the index"
        )
    return stats
