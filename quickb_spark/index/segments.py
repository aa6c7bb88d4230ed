"""Compressed, salted, bucketed index segments — the real index layout.

Build pipeline (SURVEY.md §7 step 3, north-star core) — format v5. One
engine builds every `corpus_uri=` and `documents=` index, and feeds the
streaming delta tier (streaming/incremental.py):

  documents ──► (documents= only) one Spark parquet write stages the
             DataFrame to <index>/_staged_input/, deleted once phase 1
             has committed
          ──► phase 0: hot-term detection on a ~2% file-striped input
             sample, BEFORE phase 1 (so the salt is known up front),
             persisted to meta/hot_terms.json   (p1_direct, one packed job)
          ──► phase 1: batched pyarrow tasks chunk + tokenize their files,
             hash terms to term_h = xxhash64(term), salt hot terms, and
             write one run per (task, bucket) sorted by (term_h, salt,
             doc_id), plus a doc-stats run; the corpus scalars come back
             with the task summaries          (p1_direct.build_flat_runs)
          ──► phase 2: per wave, one unit per bucket (or per term split of
             a big bucket), LPT-packed into at most one task per slot,
             k-way merges the bucket's runs and writes its delta-gap +
             varbyte + block-max segment AND its (term_h, df) lexicon
             in-task              (p2_direct.merge_encode_buckets)

Nothing but task summaries crosses the JVM<->Python Arrow channel. A
pre-chunked `chunks=` DataFrame keeps the in-channel phase 1
(index/flatten.py): a JVM repartition + sort writes complete posting-list
groups, and phase 2 encodes each checkpoint file in one task
(p2_direct.encode_wave_direct; QKB_P2_CHANNEL / QKB_P2_SHUFFLE select the
in-channel encoders).

Skew (the Zipfian `def`/`import` problem): hot terms get
`salt = pmod(xxhash64(doc_id), S)` so no single encode group exceeds
df_hot/S postings. The sampled threshold keeps a 2x safety margin —
salting a borderline-cold term is harmless (query-side re-merge is
unconditional), missing a hot one is not. Salted sub-lists are re-merged
at query time (quickb_spark.query.wand).

Resumability: phase 1 commits with flat/_SUCCESS. Phase 2 is per-bucket
idempotent: a bucket's segment and lexicon dirs are rewritten wholly, then
the wave's commits are saved in the ledger; on restart, committed buckets
are skipped and their data is untouched (lineage preserved). A fold
(streaming/incremental.py) moves delta runs into flat/, invalidates the
touched buckets and calls build_index to merge-encode them again.
`segments_meta()` exposes the whole build history as a DataFrame.

Layout on disk (Iceberg-ready: swap parquet dirs for an Iceberg table with
identity partitioning on `bucket` without touching the logic):

  <index_dir>/flat/bucket=<b>/run-*.parquet  phase-1 sorted runs (_RUNS marker)
  <index_dir>/doc_stats/run-*.parquet        (doc_id, doc_len) runs
  <index_dir>/segments/bucket=<b>/...        encoded posting lists
  <index_dir>/lexicon/bucket=<b>/...         (term_h, df) global-df lexicon
  <index_dir>/meta/hot_terms.json            pre-sampled hot-term set
  <index_dir>/meta/commits.json              per-partition lineage + metrics
                                             ledger (one atomic file; one
                                             entry per bucket)
  <index_dir>/meta/stats.json                corpus scalars, config,
                                             format_version
"""

from __future__ import annotations

import functools
import json
import math
import os
import time

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

import numpy as np

from quickb_spark.config import EngineConfig
from quickb_spark.fs import IndexFS, join_path
from quickb_spark.index.encode import encode_posting_list
from quickb_spark.index.flatten import flat_postings_from_chunks

__all__ = [
    "build_index",
    "segments_meta",
    "load_stats",
    "load_commits",
    "save_commits",
    "invalidate_buckets",
    "SEGMENT_SCHEMA",
]

SEGMENT_SCHEMA = StructType(
    [
        StructField("term_h", LongType()),
        StructField("salt", IntegerType()),
        StructField("df_part", LongType()),
        StructField("cf_part", LongType()),
        StructField("doc_stream", BinaryType()),
        StructField("tf_stream", BinaryType()),
        StructField("dl_stream", BinaryType()),
        StructField("pos_stream", BinaryType()),
        StructField("block_last_doc", ArrayType(LongType())),
        StructField("block_max_tf", ArrayType(LongType())),
        StructField("block_min_dl", ArrayType(LongType())),
        # byte offset of each block's first value inside the three streams:
        # with the per-block absolute delta reset, any block-aligned
        # sub-range is independently decodable (lazy/sliced query decode)
        StructField("block_doc_off", ArrayType(LongType())),
        StructField("block_tf_off", ArrayType(LongType())),
        StructField("block_dl_off", ArrayType(LongType())),
        StructField("block_pos_off", ArrayType(LongType())),
    ]
)


def flat_postings_with_dl(chunks: DataFrame, text_col: str = "text") -> DataFrame:
    """(term, doc_id, tf, pos_vb, doc_len, first) from pre-chunked text —
    thin alias kept for API stability; the kernel lives in index/flatten."""
    return flat_postings_from_chunks(chunks, text_col=text_col)


def _bucket_col_h(term_h_col, n_buckets: int):
    """Bucket from an already-hashed term id: pmod(term_h, nb). term_h IS
    xxhash64(term), so the driver-side mirror functions.hashing.bucket_of
    gives the same bucket from the term string."""
    return F.pmod(term_h_col, F.lit(n_buckets)).cast("int")


#: On-disk layout + stats.json contract version. v4: postings carry
#: `term_h = xxhash64(term)` (int64) instead of the term string — terms are
#: only needed for equality (bucketing, grouping, query lookup), so the one
#: postings-wide shuffle exchanges 8-byte radix-sortable keys instead of
#: strings (measured 26-28% off the whole phase-1 wall time at 16 cores).
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
FORMAT_VERSION = 5

#: Where build_index(documents=...) stages its input (deleted after phase 1).
STAGED_INPUT = "_staged_input"

def stage_documents(spark: SparkSession, documents: DataFrame, dest: str) -> None:
    """Write a documents DataFrame to parquet at `dest` (one Spark write
    job, overwriting) so the direct engine can read it with pyarrow."""
    from quickb_spark.index.p1_direct import DOC_COLUMNS
    from quickb_spark.taskpack import job_description

    with job_description(spark.sparkContext, "qkb phase1: stage documents"):
        documents.select(*DOC_COLUMNS).write.mode("overwrite").parquet(dest)


#: Input-sample fraction for PRE-phase-1 hot-term detection (tokenizes ~2%
#: of the raw input once; detecting hot terms before phase 1 lets the salt
#: be baked into the checkpoint so phase 2 needs no shuffle at all).
_HOT_PRESAMPLE_FRACTION = 0.02
#: Safety margin on the sampled threshold: include anything whose estimated
#: df exceeds half the hot threshold (over-salting is benign).
_HOT_SAMPLE_MARGIN = 0.5
#: Upper bound on the hot set (isin-literal plan size guard).
_HOT_MAX_TERMS = 2000


def _presample_hot_terms(
    flat_sample: DataFrame, frac: float, cfg: EngineConfig
) -> tuple[list[str], int]:
    """Estimate hot terms AND total posting count from the flat postings of
    an input SAMPLE. -> (hot_terms, est_total_postings).

    One job: per-term sampled df + sampled chunk/posting counts (via
    observe on the same action). The final threshold needs the chunk count,
    so the scan pre-filters with the min_df-only bound and the doc-fraction
    bound is applied driver-side on the (bounded) survivor list. The
    posting estimate sizes the checkpoint subgroup count (uniform small
    files -> balanced no-shuffle encode tasks in phase 2).
    """
    obs = Observation("qkb_hot_sample")
    cut0 = cfg.index.hot_term_min_df * frac * _HOT_SAMPLE_MARGIN
    rows = (
        flat_sample.select("term", "first")
        .observe(
            obs,
            F.sum("first").alias("n_chunks"),
            F.count(F.lit(1)).alias("n_postings"),
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_s"))
        .filter(F.col("df_s") > cut0)
        .orderBy(F.desc("df_s"))
        .limit(_HOT_MAX_TERMS * 4)
        .collect()
    )
    n_chunks_s = int(obs.get["n_chunks"] or 0)
    est_postings = int((obs.get["n_postings"] or 0) / frac)
    thresh_s = (
        max(
            cfg.index.hot_term_min_df * frac,
            n_chunks_s * cfg.index.hot_term_doc_fraction,
        )
        * _HOT_SAMPLE_MARGIN
    )
    hot = [r["term"] for r in rows if r["df_s"] > thresh_s][:_HOT_MAX_TERMS]
    return sorted(hot), est_postings


def _subgroups_per_bucket(cores: int, nb: int, est_postings: int, cfg: EngineConfig) -> int:
    """Checkpoint subgroup count g: cores-based floor (write parallelism on
    small inputs) lifted by a size-based term so files stay small and
    UNIFORM — the phase-2 scan then yields one balanced encode task per
    file. Size-based g is the same at every cluster size, so N and 4N runs
    build the identical layout."""
    return max(
        1,
        math.ceil(cores * 8 / nb),
        math.ceil(est_postings / (nb * cfg.index.subgroup_target_postings)),
    )


def _partition_encoder(cfg: EngineConfig):
    """mapInPandas encoder over partitions pre-sorted by (term_h, salt, doc_id).

    groupBy().applyInPandas() pays per-group Arrow + pandas overhead (~ms per
    group — ruinous with millions of terms). Here the shuffle is a plain
    repartition followed by a partition-local sort, and the encoder walks
    each partition once, slicing groups with NumPy and carrying the
    (possibly split) tail group across Arrow batch boundaries.
    """
    block_size = cfg.index.block_size
    store_pos = cfg.index.store_positions

    def _emit(pdf: pd.DataFrame, lo: int, hi: int) -> dict:
        doc_ids = pdf["doc_id"].to_numpy()[lo:hi]
        tfs = pdf["tf"].to_numpy()[lo:hi]
        dls = pdf["doc_len"].to_numpy()[lo:hi]
        enc = encode_posting_list(
            doc_ids,
            tfs,
            dls,
            pos_vb=list(pdf["pos_vb"].iloc[lo:hi]) if store_pos else None,
            block_size=block_size,
        )
        return {
            "term_h": int(pdf["term_h"].iat[lo]),
            "salt": int(pdf["salt"].iat[lo]),
            "df_part": enc["n_docs"],
            "cf_part": int(tfs.sum()),
            "doc_stream": enc["doc_stream"],
            "tf_stream": enc["tf_stream"],
            "dl_stream": enc["dl_stream"],
            "pos_stream": enc["pos_stream"],
            "block_last_doc": enc["block_last_doc"],
            "block_max_tf": enc["block_max_tf"],
            "block_min_dl": enc["block_min_dl"],
            "block_doc_off": enc["block_doc_off"],
            "block_tf_off": enc["block_tf_off"],
            "block_dl_off": enc["block_dl_off"],
            "block_pos_off": enc["block_pos_off"],
        }

    def _bounds(term_arr: np.ndarray, salt_arr: np.ndarray) -> np.ndarray:
        # group-change positions without materializing per-row string keys
        change = (term_arr[1:] != term_arr[:-1]) | (salt_arr[1:] != salt_arr[:-1])
        return np.flatnonzero(change) + 1

    def encode_partition(batches):
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            terms_a = pdf["term_h"].to_numpy()
            salts_a = pdf["salt"].to_numpy()
            # hold back the trailing group — it may continue in the next batch
            not_last = (terms_a != terms_a[-1]) | (salts_a != salts_a[-1])
            tail_start = int(not_last.nonzero()[0].max()) + 1 if not_last.any() else 0
            carry = pdf.iloc[tail_start:].reset_index(drop=True)
            if tail_start == 0:
                continue
            bounds = _bounds(terms_a[:tail_start], salts_a[:tail_start])
            starts = np.concatenate(([0], bounds))
            ends = np.concatenate((bounds, [tail_start]))
            yield pd.DataFrame(
                [_emit(pdf, int(lo), int(hi)) for lo, hi in zip(starts, ends)]
            )
        if carry is not None and len(carry):
            terms_a = carry["term_h"].to_numpy()
            salts_a = carry["salt"].to_numpy()
            bounds = _bounds(terms_a, salts_a)
            starts = np.concatenate(([0], bounds))
            ends = np.concatenate((bounds, [len(carry)]))
            yield pd.DataFrame(
                [_emit(carry, int(lo), int(hi)) for lo, hi in zip(starts, ends)]
            )

    return encode_partition


# The commit ledger lives behind a pluggable CommitProtocol seam
# (index/commit_protocol.py): LedgerCommitProtocol (one atomic JSON file,
# the default and the previous hard-wired behavior) or
# IcebergCommitProtocol (one Iceberg snapshot per wave commit, activates
# only where the runtime jar exists). These module-level functions remain
# as stable wrappers over the default ledger.

def load_commits(fs: IndexFS, index_dir: str) -> dict[int, dict]:
    """bucket -> committed meta via the default JSON-ledger protocol."""
    from quickb_spark.index.commit_protocol import LedgerCommitProtocol

    return LedgerCommitProtocol(fs, index_dir).load()


def save_commits(fs: IndexFS, index_dir: str, commits: dict[int, dict]) -> None:
    from quickb_spark.index.commit_protocol import LedgerCommitProtocol

    LedgerCommitProtocol(fs, index_dir).save(commits)


def invalidate_buckets(fs: IndexFS, index_dir: str, buckets: list[int]) -> None:
    """Drop buckets from the commit ledger so the next build_index call
    re-encodes them (used by the streaming delta fold)."""
    from quickb_spark.index.commit_protocol import LedgerCommitProtocol

    LedgerCommitProtocol(fs, index_dir).invalidate(buckets)


def _parse_bytes_conf(v: str) -> int:
    """Parse a Spark byte-size conf string ('134217728', '128m', '16MB')."""
    s = v.strip().lower()
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    return int(float(s)) * mult


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
    `documents` DataFrame, or a pre-chunked `chunks` DataFrame. The first
    two run the direct engine: phase 0 samples hot terms
    (p1_direct.presample_hot_direct), phase 1 writes per-bucket sorted runs
    in batched pyarrow tasks that never cross the JVM<->Python Arrow
    channel (p1_direct.build_flat_runs), and phase 2 k-way merge-encodes
    them (p2_direct.merge_encode_buckets). A `documents` DataFrame is
    first staged to `<index_dir>/_staged_input/` with one Spark parquet
    write, and the staged copy is deleted once phase 1 has committed.
    `corpus_uri` wins when both are given. `chunks` runs the in-channel
    phase 1 (index/flatten.py) and a per-file phase-2 encode. All paths
    mint bit-identical doc_ids, term hashes and salts
    (tests/test_p1_direct.py) and build query-identical indexes.
    """
    if chunks is not None and documents is not None:
        raise ValueError("pass at most one of chunks= or documents=")
    cfg = cfg or EngineConfig()
    nb = cfg.index.term_buckets
    cores = spark.sparkContext.defaultParallelism
    _dbg = os.environ.get("QKB_BUILD_TIMING") == "1"
    _t0 = time.perf_counter()

    def _mark(label: str) -> None:
        nonlocal _t0
        now = time.perf_counter()
        if timings is not None:
            timings[label] = round(timings.get(label, 0.0) + now - _t0, 2)
        if _dbg:
            print(f"[build_index] {label}: {now - _t0:.1f}s", flush=True)
        _t0 = now
    # ALL side-file I/O (markers, meta JSONs, stats) goes through the
    # Hadoop FileSystem of the index dir, so hdfs:///s3a:///file:// index
    # roots resume exactly like local ones
    fs = IndexFS(index_dir or ".", spark)
    fs.mkdirs(join_path(index_dir, "meta"))
    flat_dir = join_path(index_dir, "flat")
    stats_path = join_path(index_dir, "meta", "stats.json")
    hot_path = join_path(index_dir, "meta", "hot_terms.json")
    staged_dir = join_path(index_dir, STAGED_INPUT)

    p1_needed = not fs.exists(join_path(flat_dir, "_SUCCESS"))
    if p1_needed and corpus_uri is None and documents is not None:
        stage_documents(spark, documents, staged_dir)
        corpus_uri = staged_dir
        _mark("phase1 stage documents")
    direct_p1 = p1_needed and corpus_uri is not None
    if p1_needed and not direct_p1 and chunks is None:
        raise ValueError(
            "no usable input (chunks=/documents=/corpus_uri=) and no "
            f"existing flat checkpoint at {flat_dir}"
        )
    if direct_p1:
        from quickb_spark.index.p1_direct import list_parquet_files

        if not list_parquet_files(corpus_uri):
            raise ValueError(f"no parquet data files under {corpus_uri}")

    # ---- phase 0: hot-term detection on a ~2% input sample, BEFORE phase 1.
    # Salt is a pure function of (term in hot set, doc_id), so knowing the
    # hot set up front lets phase 1 write the checkpoint already salted,
    # keyed and sorted. Persisted before phase 1 so a crashed build resumes
    # with the same salt assignment it started with; the streaming delta
    # tier salts with the same persisted set.
    if p1_needed and not fs.exists(hot_path):
        frac = _HOT_PRESAMPLE_FRACTION
        if direct_p1:
            from quickb_spark.index.p1_direct import presample_hot_direct

            hot, est_postings = presample_hot_direct(
                spark, corpus_uri, cfg, frac, _HOT_SAMPLE_MARGIN,
                _HOT_MAX_TERMS,
            )
        else:
            hot, est_postings = _presample_hot_terms(
                flat_postings_from_chunks(chunks.sample(False, frac, seed=42)),
                frac, cfg,
            )
        fs.write_text_atomic(
            hot_path,
            json.dumps(
                {
                    "hot_terms": hot,
                    "sample_fraction": frac,
                    "est_postings": est_postings,
                }
            ),
        )
        _mark("phase0 hot-term presample")
    _hot_payload = (
        json.loads(fs.read_text(hot_path)) if fs.exists(hot_path) else {}
    )
    hot_terms: list[str] = _hot_payload.get("hot_terms", [])
    # subgroup count of the chunks= checkpoint: the persisted estimate keeps
    # g (and thus the checkpoint layout) stable across resumes and levels
    g = _subgroups_per_bucket(
        cores, nb, int(_hot_payload.get("est_postings", 0)), cfg
    )

    # ---- phase 1 ---------------------------------------------------------
    # direct: sorted runs per (task, bucket) plus doc-stats runs; chunks=:
    # one tokenize pass straight into the bucketed checkpoint, written
    # pre-salted, pre-grouped and pre-sorted (the repartition key is a pure
    # function of (bucket, term, salt), so every partition holds only
    # COMPLETE posting-list groups) — the only shuffle of that build.
    p1_metrics: dict | None = None
    if direct_p1:
        from quickb_spark.index.p1_direct import build_flat_runs

        p1_metrics = build_flat_runs(
            spark, corpus_uri, flat_dir,
            join_path(index_dir, "doc_stats"), cfg, hot_terms,
        )
    elif p1_needed:
        # corpus scalars ride on the write action — no separate agg jobs
        obs = Observation("qkb_p1")
        flat = flat_postings_from_chunks(chunks).observe(
            obs,
            F.sum(F.col("first")).alias("n_docs"),
            F.sum(F.col("first") * F.col("doc_len")).alias("sum_dl"),
            F.count(F.lit(1)).alias("n_postings"),
        )
        salt_col = (
            F.when(
                F.col("term").isin(hot_terms),
                F.pmod(
                    F.xxhash64("doc_id"), F.lit(cfg.index.salt_buckets)
                ).cast("int"),
            ).otherwise(F.lit(0))
            if hot_terms
            else F.lit(0).cast("int")
        )
        # v4: salt needs the term STRING (hot-set membership); everything
        # after needs only equality, so the string is hashed to the 8-byte
        # term_h right here and never enters the shuffle
        (
            flat.withColumn("salt", salt_col)
            .withColumn("term_h", F.xxhash64("term"))
            .drop("term")
            .withColumn("bucket", _bucket_col_h(F.col("term_h"), nb))
            .repartition(
                nb * g,
                F.col("bucket"),
                F.pmod(F.xxhash64("term_h", "salt"), F.lit(g)),
            )
            .sortWithinPartitions("bucket", "term_h", "salt", "doc_id")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(flat_dir)
        )
        p1_metrics = {k: int(v or 0) for k, v in obs.get.items()}
    # phase 1 has committed (its _SUCCESS exists), so a staged documents
    # copy is no longer needed, also when an earlier call crashed before
    # deleting it
    fs.delete(staged_dir)

    _mark("phase1 flat checkpoint")

    # ---- phase 1b: doc stats + corpus scalars ----------------------------
    from quickb_spark.index.p1_direct import RUNS_MARKER, list_parquet_files

    def _check_format(columns) -> None:
        if "salt" not in columns or "term_h" not in columns:
            raise RuntimeError(
                f"flat checkpoint at {flat_dir} predates index format "
                f"v{FORMAT_VERSION} (missing salt/term_h columns) — delete "
                "the index dir and rebuild; resuming across format versions "
                "would silently mis-encode"
            )

    # The checkpoint as a Spark DataFrame is only read by the resume and
    # chunks= paths; its partition discovery lists every bucket dir in a
    # Spark job, so it is created on first use only.
    @functools.cache
    def flat_all() -> DataFrame:
        df = spark.read.parquet(flat_dir)
        _check_format(df.columns)
        return df

    runs_mode = fs.exists(join_path(flat_dir, RUNS_MARKER))
    if runs_mode:
        # sorted runs: the format check needs only one run's footer
        import pyarrow.parquet as pq

        from quickb_spark.index.p2_direct import pyarrow_fs_for

        runs = list_parquet_files(flat_dir)
        if runs:
            fsys, _ = pyarrow_fs_for(flat_dir)
            with fsys.open_input_file(runs[0][0]) as f:
                _check_format(pq.ParquetFile(f).schema_arrow.names)
    else:
        flat_all()
    if not fs.exists(stats_path):
        if not runs_mode:
            # chunks= checkpoint: doc-level stats via the `first` marker, a
            # narrow filtered scan of the checkpoint. Small scan bins: at
            # default 128MB bins this scan gets fewer tasks than cores.
            prev_mpb1 = spark.conf.get(
                "spark.sql.files.maxPartitionBytes", "134217728"
            )
            spark.conf.set(
                "spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024)
            )
            try:
                flat_all().filter(F.col("first") == 1).select(
                    "doc_id", "doc_len"
                ).write.mode("overwrite").parquet(
                    join_path(index_dir, "doc_stats")
                )
            finally:
                spark.conf.set("spark.sql.files.maxPartitionBytes", prev_mpb1)
        if p1_metrics is not None:
            # the scalars came back with phase 1 (task summaries / observe)
            n_docs = p1_metrics["n_docs"]
            avgdl = p1_metrics["sum_dl"] / n_docs if n_docs else 0.0
            total_postings = p1_metrics["n_postings"]
        else:  # resume path: phase 1 done in a previous process
            row = (
                spark.read.parquet(join_path(index_dir, "doc_stats"))
                .agg(F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avgdl"))
                .collect()[0]
            )
            n_docs, avgdl = int(row["n"]), float(row["avgdl"] or 0.0)
            total_postings = flat_all().count()  # parquet metadata-only count
        fs.write_text_atomic(
            stats_path,
            json.dumps(
                {
                    "format_version": FORMAT_VERSION,
                    "n_docs": n_docs,
                    "avgdl": avgdl,
                    "n_postings": total_postings,
                    "term_buckets": nb,
                    "salt_buckets": cfg.index.salt_buckets,
                    "block_size": cfg.index.block_size,
                    "store_positions": cfg.index.store_positions,
                    "hot_terms": hot_terms,
                }
            ),
        )

    _mark("phase1b stats")

    # ---- phase 2: per-bucket-wave encode, idempotent, resumable ----------
    # A sorted-runs checkpoint is k-way merge-encoded (p2_direct.
    # merge_encode_buckets): one job per wave, segments AND lexicon written
    # in-task. A chunks= checkpoint is already salted, grouped and sorted,
    # so its phase 2 is embarrassingly parallel per checkpoint FILE: the
    # DIRECT mode runs one Spark task per file (pyarrow read -> NumPy
    # encode -> pyarrow write, nothing but a summary row on the channel).
    # For that layout QKB_P2_CHANNEL=1 forces the in-channel mapInPandas
    # encoder (also the fallback when pyarrow cannot reach the checkpoint's
    # filesystem, e.g. hdfs:// without libhdfs) and QKB_P2_SHUFFLE=1 the
    # explicit repartition+sort channel path (A/B controls).
    if commit_protocol is None:
        from quickb_spark.index.commit_protocol import LedgerCommitProtocol

        commit_protocol = LedgerCommitProtocol(fs, index_dir)
    commits = commit_protocol.load()
    pending = [b for b in range(nb) if b not in commits]
    segments_dir = join_path(index_dir, "segments")
    if runs_mode:
        mode = "merge"
    elif os.environ.get("QKB_P2_SHUFFLE") == "1":
        mode = "shuffle"
    elif os.environ.get("QKB_P2_CHANNEL") == "1":
        mode = "channel"
    else:
        mode = "direct"
    prev_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    prev_open = spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    try:
        _run_waves(
            spark, fs, index_dir, flat_all, segments_dir, pending,
            wave_size, g, nb, mode, cfg, commits, _mark, commit_protocol,
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", prev_open)

    # ---- phase 3 (fallback only): the per-bucket (term, global-df) lexicon
    # is normally written INSIDE each wave from the same scan as the lineage
    # metrics; this fallback covers an already-committed index whose lexicon
    # dir is missing (e.g. built by an older layout).
    lex_dir = join_path(index_dir, "lexicon")
    if not pending and not fs.exists(lex_dir):
        (
            spark.read.parquet(segments_dir)
            .groupBy("bucket", "term_h")
            .agg(F.sum("df_part").alias("df"))
            .repartition(max(1, min(nb, cores)), "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(lex_dir)
        )
        _mark("phase3 lexicon fallback")


def _encode_wave_channel(
    spark, flat_all, segments_dir, wave, g, nb, cfg, shuffle: bool
) -> None:
    """In-channel mapInPandas encoder (fallback / A/B path): scan ->
    Arrow channel -> partition encoder -> Spark parquet write with dynamic
    partition overwrite (only this wave's bucket dirs are replaced)."""
    wave_flat = flat_all.filter(F.col("bucket").isin(wave))
    if shuffle:
        wave_flat = wave_flat.repartition(
            len(wave) * g,
            F.col("bucket"),
            F.pmod(F.xxhash64("term_h", "salt"), F.lit(g)),
        ).sortWithinPartitions("term_h", "salt", "doc_id")
    seg = (
        wave_flat.select("term_h", "salt", "doc_id", "tf", "doc_len", "pos_vb")
        .mapInPandas(_partition_encoder(cfg), SEGMENT_SCHEMA)
        .withColumn("bucket", _bucket_col_h(F.col("term_h"), nb))
    )
    (
        seg.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(segments_dir)
    )


def _run_waves(
    spark, fs, index_dir, flat_all, segments_dir, pending,
    wave_size, g, nb, mode, cfg, commits, _mark, commit_protocol,
):
    flat_dir = join_path(index_dir, "flat")
    for wave_start in range(0, len(pending), wave_size):
        wave = pending[wave_start : wave_start + wave_size]
        t0 = time.perf_counter()
        if mode == "merge":
            # wipe UNCOMMITTED segment + lexicon bucket dirs, then one task
            # per bucket k-way merges its sorted runs and writes segment AND
            # lexicon in-task — commits come straight from the summaries, so
            # the wave needs NO further Spark job at all
            for d in (segments_dir, join_path(index_dir, "lexicon")):
                if fs.exists(d):
                    existing = {
                        x for x in fs.listdir(d) if x.startswith("bucket=")
                    }
                    for b in wave:
                        if f"bucket={b}" in existing:
                            fs.delete(join_path(d, f"bucket={b}"))
            from quickb_spark.index.p2_direct import merge_encode_buckets

            summaries = merge_encode_buckets(
                spark, flat_dir, segments_dir,
                join_path(index_dir, "lexicon"), wave,
                cfg.index.block_size, cfg.index.store_positions,
                ds_dir=join_path(index_dir, "doc_stats"),
                task_mem_bytes=cfg.index.p2_task_mem_bytes,
            )
            _mark(f"phase2 merge wave {wave[0]}-{wave[-1]}")
            by_bucket = {s["bucket"]: s for s in summaries}
            build_ms = int(
                (time.perf_counter() - t0) * 1000 / max(len(wave), 1)
            )
            for b in wave:
                s = by_bucket.get(b)
                commits[b] = {
                    "segment_id": f"seg-{b:05d}",
                    "partition_id": b,
                    "salt": int(s["max_salt"]) if s else 0,
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
            continue
        files = None
        if mode == "direct":
            # idempotent resume: wipe UNCOMMITTED bucket dirs before the
            # direct tasks write into them (the channel path gets the same
            # effect from dynamic partition overwrite)
            if fs.exists(segments_dir):
                existing = {
                    d for d in fs.listdir(segments_dir) if d.startswith("bucket=")
                }
                for b in wave:
                    if f"bucket={b}" in existing:
                        fs.delete(join_path(segments_dir, f"bucket={b}"))
            from quickb_spark.index.p2_direct import list_bucket_files

            try:
                files = list_bucket_files(flat_dir, wave)
            except (OSError, ValueError, NotImplementedError) as e:
                # pyarrow cannot reach the checkpoint's filesystem
                # (ArrowIOError / ArrowInvalid for an unknown scheme /
                # ArrowNotImplementedError), as in Searcher._files_for
                print(
                    f"[build_index] direct phase-2 unavailable ({e!r}) — "
                    "falling back to the in-channel encoder",
                    flush=True,
                )
        if files is not None:
            from quickb_spark.index.p2_direct import encode_wave_direct

            encode_wave_direct(
                spark, flat_dir, segments_dir, wave,
                cfg.index.block_size, cfg.index.store_positions, files=files,
            )
        else:
            # channel modes: scan partition sizing is the whole game for a
            # CPU-bound Python encode — bin ~2x the MEDIAN checkpoint file so
            # each (uniform, subgroup-sized) file becomes one balanced task;
            # openCost >= bin/2 stops tiny-file packing from merging more
            # than ~2 files per task. Outlier files above the bin get
            # byte-range split — harmless: a split merely yields an extra
            # partial segment row per straddled group, and the query path
            # merges partials exactly like salted sub-lists.
            sizes = sorted(fs.file_sizes(flat_dir))
            p50 = sizes[len(sizes) // 2] if sizes else 0
            bin_bytes = max(4 << 20, 2 * p50)
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(bin_bytes))
            spark.conf.set("spark.sql.files.openCostInBytes", str(bin_bytes // 2))
            _encode_wave_channel(
                spark, flat_all(), segments_dir, wave, g, nb, cfg,
                mode == "shuffle",
            )
        _mark(f"phase2 encode wave {wave[0]}-{wave[-1]}")
        # ONE column-pruned scan of the landed (small, compressed) segment
        # rows powers BOTH the per-bucket lexicon (the serve-time fixed-cost
        # killer used by query.searcher.Searcher) and the lineage metrics —
        # exact, and cheaper/more truthful than a postings-wide pre-pass.
        # Dynamic partition overwrite keeps other waves' lexicon buckets.
        seg_w = (
            spark.read.parquet(segments_dir)
            .filter(F.col("bucket").isin(wave))
            .select("bucket", "term_h", "salt", "df_part")
            .persist()
        )
        lex_w = seg_w.groupBy("bucket", "term_h").agg(F.sum("df_part").alias("df"))
        cores = spark.sparkContext.defaultParallelism
        (
            lex_w.repartition(max(1, min(len(wave), cores)), "bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(join_path(index_dir, "lexicon"))
        )
        wave_rows = (
            seg_w.groupBy("bucket")
            .agg(
                F.countDistinct("term_h").alias("terms"),
                F.sum("df_part").alias("postings"),
                F.max("salt").alias("max_salt"),
            )
            .collect()
        )
        seg_w.unpersist()
        wave_stats = {int(r["bucket"]): r for r in wave_rows}
        build_ms = int((time.perf_counter() - t0) * 1000 / max(len(wave), 1))
        for b in wave:
            r = wave_stats.get(b)
            commits[b] = {
                "segment_id": f"seg-{b:05d}",
                "partition_id": b,
                "salt": int(r["max_salt"]) if r is not None else 0,
                "term_count": int(r["terms"]) if r is not None else 0,
                "posting_count": int(r["postings"]) if r is not None else 0,
                "input_rows": int(r["postings"]) if r is not None else 0,
                "build_time_ms": build_ms,
                "checkpoint_path": f"segments/bucket={b}",
                "status": "done",
                "committed_at": time.time(),
            }
        # ONE atomic ledger write commits the whole wave (data landed above;
        # a crash before this line just re-encodes the wave — identical to
        # the per-bucket-file protocol, minus 64 FS round-trips)
        commit_protocol.save(commits)
        _mark("phase2 meta commits")


def segments_meta(spark: SparkSession, index_dir: str) -> DataFrame:
    """Per-partition lineage + metrics as a DataFrame (FIXTURES.md §6)."""
    fs = IndexFS(index_dir, spark)
    rows = [m for _, m in sorted(load_commits(fs, index_dir).items())]
    schema = (
        "segment_id string, partition_id int, salt int, term_count long, "
        "posting_count long, input_rows long, build_time_ms long, "
        "checkpoint_path string, status string, committed_at double"
    )
    return spark.createDataFrame(rows, schema=schema)


def load_stats(index_dir: str) -> dict:
    from pyspark.sql import SparkSession

    stats_path = join_path(index_dir, "meta", "stats.json")
    if SparkSession.getActiveSession() is not None:
        stats = json.loads(IndexFS(index_dir).read_text(stats_path))
    else:
        with open(stats_path) as f:  # no session: plain local fallback
            stats = json.load(f)
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
