"""Phase-1 build as batched direct-pyarrow tasks writing sorted runs.

This is the only phase 1 of the engine: every build input (`corpus_uri=`,
a `documents=` DataFrame read in place or staged, a staged `chunks=`
DataFrame), given as a file listing [(path, bytes)], and every streaming
delta batch runs it. Why it looks like this (round-3 measurement): a fused
chunk+tokenize pandas UDF whose OUTPUT — ~10^8 per-chunk term arrays —
crosses the JVM<->Python Arrow channel has a large component that does
NOT parallelize with cores (decomposed: kernel+channel 131.4s @4c ->
60.3s @16c, only 2.18x on 4x cores, while the JVM-side shuffle+sort+write
of the same postings scales 4.57x and a pure-multiprocessing run of the
same kernel scales ~3.6-4x). Spark's per-task fixed cost is also ~70ms
SERIAL per task, so one-task-per-file is wrong at 500+ files. The design
that follows from both measurements:

  driver plans FEW, BIG, size-balanced file groups (LPT assignment,
  ~2-4 tasks per core) -> one Spark task per group -> each task reads ITS
  input parquet files with pyarrow, tokenizes, hashes terms, lexsorts
  its postings by (bucket, term_h, doc_id) and writes ONE SORTED RUN per
  term bucket plus a doc-stats run — only a one-row summary ever crosses
  the Python<->JVM boundary.

Two input shapes, passed down from build_index as `chunked`:

- documents (repo, path, commit, lang, content): the task runs the
  reference-exact chunker (chunking/splitter.py) and mints
  doc_id = xxhash64(repo, path, commit, chunk_idx) bit-identical to the
  JVM expression of chunking.udf (index/xxh.py);
- pre-chunked (doc_id, text) rows: each row is one chunk whose doc_id is
  taken as given. This is how chunkers that cannot run inside a task (the
  registry's semantic and fixed-token chunkers) reach the engine. A
  `chunks=chunk_documents(docs)` build writes the same runs as a
  documents build of `docs` (tests/test_p1_direct.py).

Phase 2 then k-way merges each bucket's sorted runs and encodes (see
index/p2_direct.merge_encode_buckets) — the layout the north star asks
for: "per-partition sorted posting lists (docID, tf, positions) that are
k-way merged and compressed".

Scale notes (the 100 TB story):
- run-file fan-out is tasks x buckets. Tasks are input-sized (64-256MB of
  corpus per task on a real cluster), so a 100 TB build is ~10^6 tasks; at
  term_buckets=64 that is ~6x10^7 run files of a few MB — workable on an
  object store but coarse. The knobs are the same ones Spark's sort-based
  shuffle turns: raise per-task input (fewer, larger runs), or add one
  merge level (tasks write runs, a mid tier merges task-group runs per
  bucket, phase 2 merges the merged runs).
- every run is written through `pyarrow.fs.FileSystem.from_uri`, so
  file:// and s3:// work identically; schemes pyarrow cannot reach raise
  at planning time.
- the streaming delta tier runs the same tasks per micro-batch
  (streaming/incremental.py) with the base's term_buckets; a fold moves
  those runs into the base checkpoint unchanged.
- no sampling pass precedes the tasks: a hot term's list is bounded in
  phase 2, which knows every term's exact df and cuts a long list into
  doc-range rows (p2_direct._ROW_POSTINGS).
- determinism/idempotency: run file names are a pure function of the task
  id, the group plan is a pure function of the (sorted) file listing, and
  a task retry rewrites exactly its own files; the run layout is committed
  by a driver-side `_RUNS` marker written only after every task summary
  returned.

Reference parity: the chunking semantics inside the kernel are the
reference's RecursiveTokenChunker (see chunking/splitter.py, conformance-
tested byte-identical against the reference's
recursive_token_chunker.py); this module only changes WHERE the kernel
runs, not what it computes.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict

import numpy as np

from quickb_spark.config import TOKEN_PATTERN, ChunkerConfig, EngineConfig
from quickb_spark.fs import IndexFS, file_listing, join_path, pyarrow_fs_for
from quickb_spark.functions.hashing import xxhash64 as _xxh_str
from quickb_spark.index.encode import varbyte_encode, varbyte_lengths
from quickb_spark.index.p2_direct import (
    binary_array as _binary_array,
    gather_slices as _gather_slices,
)
from quickb_spark.index.xxh import hash_bytes_vec, hash_int_tail
from quickb_spark.taskpack import job_description, lpt_bins

__all__ = [
    "documents_files",
    "scan_leaf",
    "plan_groups",
    "build_flat_runs",
    "RUNS_MARKER",
]

#: Marker file (inside flat/) stamping the checkpoint as this engine's
#: sorted-runs layout; a flat/ without it is an older engine's and is
#: refused on resume and fold.
RUNS_MARKER = "_RUNS"

_TOKEN_RE = re.compile(TOKEN_PATTERN)

#: The documents columns phase 1 reads.
DOC_COLUMNS = ["repo", "path", "commit", "lang", "content"]
#: The pre-chunked columns phase 1 reads (`chunked` input shape).
CHUNK_COLUMNS = ["doc_id", "text"]


def _class_name(obj) -> str:
    return obj.getClass().getSimpleName()


def scan_leaf(df):
    """(class name, node) of the analyzed plan's leaf under `SubqueryAlias`
    nodes and `Project`s of bare columns (the optimized plan costs ~0.3 s
    cold), or None (a computed or renamed column, or a documents column
    that is not a string)."""
    types = dict(df.dtypes)
    if any(types.get(c) != "string" for c in DOC_COLUMNS):
        return None
    plan = df._jdf.queryExecution().analyzed()
    while True:
        name = _class_name(plan)
        if name == "Project":
            exprs = plan.projectList()
            kinds = {_class_name(exprs.apply(i)) for i in range(exprs.size())}
            if kinds != {"AttributeReference"}:  # an alias renames a column
                return None
        elif name != "SubqueryAlias":
            return name, plan
        plan = plan.child()


def documents_files(documents) -> list[tuple[str, int]] | None:
    """The file listing of a plain parquet scan (scan_leaf over a parquet
    `HadoopFsRelation`, no documents column a partition column), or None
    for a filter, an in-memory DataFrame or any other plan."""
    leaf = scan_leaf(documents)
    if leaf is None or leaf[0] != "LogicalRelation":
        return None
    rel = leaf[1].relation()
    if (
        _class_name(rel) != "HadoopFsRelation"
        or _class_name(rel.fileFormat()) != "ParquetFileFormat"
        or not set(DOC_COLUMNS).isdisjoint(rel.partitionSchema().fieldNames())
    ):
        return None
    seq = documents.sparkSession._jvm.scala.collection.immutable.ArraySeq
    uris = seq.unsafeWrapArray(rel.location().inputFiles()).mkString("\n")
    return file_listing(uris.split("\n")) if uris else None


def plan_groups(
    files: list[tuple[str, int]], n_groups: int
) -> list[list[str]]:
    """LPT bin-packing: biggest file to the currently lightest group —
    size-balanced tasks kill end-of-wave stragglers without needing any
    statistics beyond the FS listing."""
    bins = lpt_bins([sz for _, sz in files], n_groups)
    return [[files[i][0] for i in b] for b in bins]


def _pos_slices(flat_pos: list[int], posting_tfs: list[int]):
    """Vectorized delta+varbyte encode of all token positions of a
    sub-batch (encode_posting_list's pos_stream format: absolute first
    position per posting, deltas after).
    -> (buf bytes, per-posting byte offsets int64[n+1])."""
    if not posting_tfs:
        return b"", np.zeros(1, dtype=np.int64)
    flat = np.asarray(flat_pos, dtype=np.int64)
    tf_arr = np.asarray(posting_tfs, dtype=np.int64)
    starts = np.zeros(len(tf_arr), dtype=np.int64)
    np.cumsum(tf_arr[:-1], out=starts[1:])
    deltas = np.empty_like(flat)
    deltas[0] = flat[0]
    np.subtract(flat[1:], flat[:-1], out=deltas[1:])
    deltas[starts] = flat[starts]
    dv = deltas.view(np.uint64)
    buf = varbyte_encode(dv)
    per_val = varbyte_lengths(dv)
    off = np.zeros(len(tf_arr) + 1, dtype=np.int64)
    np.cumsum(np.add.reduceat(per_val, starts), out=off[1:])
    return bytes(buf), off


class _TaskAccumulator:
    """Per-task posting accumulator: Python-object state lives only for one
    sub-batch (~2k docs); flushes produce compact numpy columns. Terms are
    interned to LOCAL ids in the hot loop; the XXH64 of each NEW distinct
    term is computed once per flush with the vectorized batch hash
    (hash_bytes_vec) — no scalar hashing on the per-posting path.

    A chunk is keyed by (key, chunk_idx): documents pass the doc's chained
    (repo, path, commit) hash and the chunk index, and flush mints the
    doc_ids from both; pre-chunked rows (`chunked`) pass the doc_id itself
    as the key, which flush keeps as is."""

    def __init__(self, chunked: bool = False) -> None:
        self.vocab: dict[str, int] = {}
        self.new_terms: list[str] = []
        self.id2hash = np.empty(0, dtype=np.int64)
        self.chunked = chunked
        self.reset()
        # flushed sub-batches
        self.parts: list[tuple] = []
        self.chunk_ids: list[np.ndarray] = []
        self.chunk_dls: list[np.ndarray] = []

    def reset(self) -> None:
        self.term_id: list[int] = []
        self.tfs: list[int] = []
        self.flat_pos: list[int] = []
        self.c_seed: list[int] = []
        self.c_idx: list[int] = []
        self.c_dl: list[int] = []
        self.c_nterms: list[int] = []

    def add_chunk(self, key: int, chunk_idx: int, toks: list[str]) -> None:
        pos: dict[str, list[int]] = defaultdict(list)
        for i, t in enumerate(toks):
            pos[t].append(i)
        if not pos:
            return
        vocab = self.vocab
        tid_list = self.term_id
        for t, plist in pos.items():
            tid = vocab.get(t)
            if tid is None:
                tid = vocab[t] = len(vocab)
                self.new_terms.append(t)
            tid_list.append(tid)
            self.tfs.append(len(plist))
            self.flat_pos.extend(plist)
        self.c_seed.append(key)
        self.c_idx.append(chunk_idx)
        self.c_dl.append(len(toks))
        self.c_nterms.append(len(pos))

    def flush(self) -> None:
        if not self.c_seed:
            return
        if self.new_terms:
            new_h = hash_bytes_vec(
                [t.encode("utf-8") for t in self.new_terms]
            )
            self.id2hash = np.concatenate([self.id2hash, new_h])
            self.new_terms = []
        seeds = np.asarray(self.c_seed, dtype=np.int64)
        idxs = np.asarray(self.c_idx, dtype=np.int64)
        dls = np.asarray(self.c_dl, dtype=np.int64)
        nt = np.asarray(self.c_nterms, dtype=np.int64)
        doc_ids = seeds if self.chunked else hash_int_tail(idxs, seeds)
        buf, off = _pos_slices(self.flat_pos, self.tfs)
        self.parts.append(
            (
                self.id2hash[np.asarray(self.term_id, dtype=np.int64)],
                np.repeat(doc_ids, nt),
                np.asarray(self.tfs, dtype=np.int32),
                buf,
                off,
                np.repeat(dls, nt),
            )
        )
        self.chunk_ids.append(doc_ids)
        self.chunk_dls.append(dls)
        self.reset()

    def concat(self):
        """-> (term_h, doc_id, tf, pos_buf, pos_off, posting_dl) over the
        whole task, plus per-chunk (doc_id, doc_len)."""
        if not self.parts:
            z = np.empty(0, dtype=np.int64)
            return (
                z, z, z.astype(np.int32), b"", np.zeros(1, dtype=np.int64),
                z, z, z,
            )
        th = np.concatenate([p[0] for p in self.parts])
        did = np.concatenate([p[1] for p in self.parts])
        tf = np.concatenate([p[2] for p in self.parts])
        bufs = [p[3] for p in self.parts]
        offs = [p[4] for p in self.parts]
        sizes = np.array([len(b) for b in bufs], dtype=np.int64)
        base = np.zeros(len(bufs), dtype=np.int64)
        np.cumsum(sizes[:-1], out=base[1:])
        pos_off = np.concatenate(
            [offs[0][:1]] + [o[1:] + b for o, b in zip(offs, base)]
        )
        pos_buf = b"".join(bufs)
        pdl = np.concatenate([p[5] for p in self.parts])
        cid = np.concatenate(self.chunk_ids)
        cdl = np.concatenate(self.chunk_dls)
        return th, did, tf, pos_buf, pos_off, pdl, cid, cdl


def _p1_task(
    task_id: int,
    paths: list[str],
    flat_uri: str,
    ds_uri: str,
    chunker_cfg: ChunkerConfig,
    nb: int,
    chunked: bool = False,
    sub_batch_docs: int = 2048,
) -> dict:
    """One build task: read own input files -> chunk (documents only) +
    tokenize -> sorted per-bucket runs + doc-stats run. Returns the task
    summary. `chunked`: the files hold pre-chunked (doc_id, text) rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quickb_spark.chunking.splitter import split_document

    # a task owns ONE core slot: pyarrow's default compute pool spans every
    # box core, which would let a small-cluster level steal cores its
    # executors don't have (real clusters pin slots; the scaling protocol
    # must too). Idempotent per reused worker process.
    pa.set_cpu_count(1)
    ofs, flat_root = pyarrow_fs_for(flat_uri)
    _, ds_root = pyarrow_fs_for(ds_uri)

    acc = _TaskAccumulator(chunked=chunked)
    repo_h: dict[str, int] = {}
    pending = 0
    for path in paths:
        fsys, fpath = pyarrow_fs_for(path)
        with fsys.open_input_file(fpath) as f:
            pf = pq.ParquetFile(f)
            # row-group iteration bounds task memory by the writer's row
            # group size, not the file size (256MB corpus files stay cheap)
            for batch in pf.iter_batches(
                batch_size=sub_batch_docs,
                columns=CHUNK_COLUMNS if chunked else DOC_COLUMNS,
            ):
                d = batch.to_pydict()
                if chunked:
                    # each row is one chunk; a batch is one sub-batch
                    for did, text in zip(d["doc_id"], d["text"]):
                        if text:
                            acc.add_chunk(
                                did, 0, _TOKEN_RE.findall(text.lower())
                            )
                    acc.flush()
                    continue
                live = [
                    (repo, p, c, lang, content)
                    for repo, p, c, lang, content in zip(
                        d["repo"], d["path"], d["commit"], d["lang"],
                        d["content"],
                    )
                    if content
                ]
                if not live:
                    continue
                # doc_id prefix = chained xxhash64(repo, path, commit):
                # repo hashes are dict-cached (few repos), the path and
                # commit links run as TWO vectorized batch hashes
                seeds1 = np.empty(len(live), dtype=np.int64)
                for i, (repo, *_rest) in enumerate(live):
                    h1 = repo_h.get(repo)
                    if h1 is None:
                        h1 = repo_h[repo] = _xxh_str(repo)
                    seeds1[i] = h1
                h2 = hash_bytes_vec(
                    [p.encode("utf-8") for _, p, *_r in live], seeds1
                )
                prefixes = hash_bytes_vec(
                    [c.encode("utf-8") for _, _, c, *_r in live], h2
                )
                for (repo, p, c, lang, content), prefix in zip(live, prefixes):
                    prefix = int(prefix)
                    for ci, text in enumerate(
                        split_document(content, lang, chunker_cfg)
                    ):
                        acc.add_chunk(prefix, ci, _TOKEN_RE.findall(text.lower()))
                    pending += 1
                    if pending >= sub_batch_docs:
                        acc.flush()
                        pending = 0
    acc.flush()
    term_h, doc_id, tf, pos_buf, pos_off, pdl, cid, cdl = acc.concat()
    n = len(term_h)

    bucket = (term_h % np.int64(nb)).astype(np.int32)  # pmod(term_h, nb)

    order = np.lexsort((doc_id, term_h, bucket))
    bucket_s = bucket[order]
    term_s = term_h[order]
    doc_s = doc_id[order]
    tf_s = tf[order]
    dl_s = pdl[order]
    pos_vals, pos_off_s = _gather_slices(pos_buf, pos_off, order)

    # one run per present bucket, rows already contiguous after the sort.
    # doc_len is a run column: re-attaching it from the doc-stats runs at
    # merge time saved 8 bytes/posting of run traffic but paid a
    # per-posting binary search over the corpus doc-stats table, measured
    # strictly slower at every level (round-5 A/B; at 4M docs phase 2 took
    # 148-150 s against 79-94 s at 32 cores)
    bounds = np.searchsorted(bucket_s, np.arange(nb + 1), side="left")
    for b in range(nb):
        lo, hi = int(bounds[b]), int(bounds[b + 1])
        if lo == hi:
            continue
        off_b = pos_off_s[lo : hi + 1] - pos_off_s[lo]
        run = pa.table(
            {
                "term_h": pa.array(term_s[lo:hi], type=pa.int64()),
                "doc_id": pa.array(doc_s[lo:hi], type=pa.int64()),
                "tf": pa.array(tf_s[lo:hi], type=pa.int32()),
                "doc_len": pa.array(dl_s[lo:hi], type=pa.int64()),
                "pos_vb": _binary_array(
                    pos_vals[int(pos_off_s[lo]) : int(pos_off_s[hi])], off_b
                ),
            }
        )
        dest_dir = f"{flat_root.rstrip('/')}/bucket={b}"
        ofs.create_dir(dest_dir, recursive=True)
        with ofs.open_output_stream(
            f"{dest_dir}/run-t{task_id:05d}.parquet"
        ) as out:
            pq.write_table(run, out, compression="snappy")

    ofs.create_dir(ds_root, recursive=True)
    ds = pa.table(
        {
            "doc_id": pa.array(cid, type=pa.int64()),
            "doc_len": pa.array(cdl, type=pa.int64()),
        }
    )
    with ofs.open_output_stream(
        f"{ds_root.rstrip('/')}/run-t{task_id:05d}.parquet"
    ) as out:
        pq.write_table(ds, out, compression="snappy")

    return {
        "task": task_id,
        "n_docs": int(len(cid)),
        "sum_dl": int(cdl.sum()) if len(cdl) else 0,
        "n_postings": int(n),
        "buckets": np.flatnonzero(np.diff(bounds)).tolist(),
    }


def build_flat_runs(
    spark,
    files: list[tuple[str, int]],
    flat_dir: str,
    doc_stats_dir: str,
    cfg: EngineConfig,
    n_tasks: int | None = None,
    chunked: bool = False,
) -> dict:
    """Plan + run the direct phase 1 over the parquet `files` [(path,
    bytes)]: documents, or pre-chunked (doc_id, text) rows when `chunked`.
    -> {n_docs, sum_dl, n_postings, buckets}; `buckets` lists the term
    buckets that received postings.

    Raises (before launching any task) if there are no files or the flat
    FS scheme is not reachable from Python.
    """
    if not files:
        raise ValueError("no parquet data files to build from")
    cores = spark.sparkContext.defaultParallelism
    if n_tasks is None:
        total = sum(s for _, s in files)
        # input-size-driven, like Spark's own scan splits: the task byte
        # target (cfg.index.p1_task_bytes) does NOT depend on cluster size
        # — tying it to cores would hand a smaller cluster bigger, more
        # memory-churning tasks and distort any cross-size comparison.
        # Small corpora still spread over every core (warm-up + tests).
        n_tasks = max(
            total // cfg.index.p1_task_bytes,
            min(len(files), cores),
            1,
        )
        # round up to a multiple of cores: 29 equal tasks on 16 cores run
        # as a full wave plus a 13-wide straggler wave (~10% idle); 32 run
        # as two full waves
        n_tasks = -(-n_tasks // cores) * cores
    groups = plan_groups(files, int(n_tasks))

    # wipe any partial previous attempt (no _SUCCESS => not resumable)
    fs = IndexFS(flat_dir)
    for d in (flat_dir, doc_stats_dir):
        fs.delete(d)

    chunker_cfg = cfg.chunker
    nb = cfg.index.term_buckets

    def _run(item):
        tid, paths = item
        return _p1_task(
            tid, paths, flat_dir, doc_stats_dir, chunker_cfg, nb, chunked,
        )

    sc = spark.sparkContext
    with job_description(sc, "qkb phase1: sorted runs"):
        rows = (
            sc.parallelize(list(enumerate(groups)), len(groups))
            .map(_run)
            .collect()
        )
    fs.mkdirs(flat_dir)
    fs.write_text_atomic(
        join_path(flat_dir, RUNS_MARKER), json.dumps({"n_tasks": len(groups)})
    )
    fs.write_text_atomic(join_path(flat_dir, "_SUCCESS"), "")
    return {
        "n_docs": sum(r["n_docs"] for r in rows),
        "sum_dl": sum(r["sum_dl"] for r in rows),
        "n_postings": sum(r["n_postings"] for r in rows),
        "buckets": sorted({b for r in rows for b in r["buckets"]}),
    }



def presample_hot_direct(*_args, **_kwargs):
    """Never called: the phase-0 hot-term sample is gone (phase 2 cuts long
    posting lists by doc range instead). The name stays only because the
    benchmark's traced runs (perfbench/tracing.py `WRAPPED`) look it up,
    and the benchmark harness changes only in a declared benchmark change;
    that change drops the lookup and this stub with it."""
    raise NotImplementedError("phase 0 was removed; build_index needs none")
