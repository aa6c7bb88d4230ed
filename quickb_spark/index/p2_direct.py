"""Phase-2 k-way merge-encode of the sorted runs (direct pyarrow IO).

Phase 1 (index/p1_direct.py) leaves one run per (task, bucket), each
sorted by (term_h, doc_id). `merge_encode_buckets` turns a wave of
buckets into segments: one work unit per BUCKET (or per term-split of a
big bucket), LPT-packed into at most one Spark task per slot
(taskpack.run_packed). Each unit reads its bucket's runs with pyarrow,
merges them (the runs are disjoint by doc, so the global order is one
stable lexsort over the concatenated columns plus one byte-slice gather),
encodes every term's posting list in whole-input NumPy passes
(`encode_sorted_groups`) and writes BOTH the bucket's segment file and its
(term_h, df) lexicon rows. A list longer than `_ROW_POSTINGS` is written
as consecutive doc-range rows (`part` 0, 1, ...): the merge knows each
term's exact df, so no sample decides it, and one term's rows are
doc-ordered and doc-disjoint, so serving concatenates them as they come.
Only a one-row summary per unit crosses the Python<->JVM boundary: routing per-posting rows through Spark's Python-UDF
Arrow channel was measured as the scaling ceiling of the whole build
(~20-30 s per million documents regardless of core count, BENCH/
BASELINE.md). This is the north star's layout: per-partition sorted
posting lists, k-way merged and compressed.

Scale notes (the 100 TB story):
- work units are buckets (64-128MB on a real cluster, a few MB here); LPT
  packing of the units into per-slot tasks kills end-of-wave stragglers;
- a merge task holds one bucket's postings in memory (columnar numpy, ~30
  bytes/posting); `IndexConfig.term_buckets` is the knob that keeps a
  bucket at ~1-4 GB on a real corpus — the same dial as Spark's shuffle
  partition count. A larger-than-memory bucket would stream row-group
  k-way merges instead; not needed at this corpus scale;
- storage goes through quickb_spark.fs (pyarrow.fs), so file:// and
  s3:// checkpoints work the same way (object stores are the realistic home
  of a 10^12-file index; there is no data-locality to lose). A root
  pyarrow cannot open (e.g. hdfs:// without libhdfs) fails the build
  before any job;
- a merge unit that finds its runs malformed (a group not strictly
  doc_id-sorted, e.g. a duplicated posting) returns the ValueError as its
  summary and `merge_encode_buckets` re-raises it in the driver, so
  `build_index` fails with the bucket named instead of a Spark task
  failure;
- idempotency: output file names are a pure function of the bucket id and
  split, and `build_index` deletes the segment + lexicon dirs of
  UNCOMMITTED buckets before each wave, so task retries and crash-resume
  both converge to the same layout (the commit ledger stays the commit
  marker).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import SparkSession

from quickb_spark.fs import list_bucket_files, pyarrow_fs_for
from quickb_spark.taskpack import run_packed

__all__ = [
    "merge_encode_buckets",
    "encode_sorted_groups",
    "gather_slices",
    "binary_array",
]

#: The sorted-run columns phase 2 reads (pos_vb only with positions).
_CHECKPOINT_COLS = ["term_h", "doc_id", "tf", "doc_len", "pos_vb"]

#: Conservative decoded-working-set multiplier over a bucket's on-disk run
#: bytes (snappy parquet -> numpy columns + sort/gather scratch). Used by
#: the merge memory guard to size term-granular splits.
_RUN_MEM_EXPANSION = 3

#: Postings per segment row: a longer posting list is cut into consecutive
#: doc-range rows of this many postings (the last one shorter). It keeps
#: every row's byte streams far under Arrow's 2 GiB binary cell and bounds
#: what one row costs to decode. `merge_encode_buckets` rounds it down to a
#: multiple of the block size, so rows split on block boundaries.
_ROW_POSTINGS = 1 << 20


def _row_postings(block_size: int) -> int:
    """_ROW_POSTINGS rounded down to a multiple of `block_size`."""
    return max(1, _ROW_POSTINGS // block_size) * block_size


def gather_slices(src, off: np.ndarray, order: np.ndarray):
    """Reorder variable-length byte slices: -> (values bytes, offsets
    int64[n+1]) in `order`. Fully vectorized (one fancy-index gather)."""
    lens = (off[1:] - off[:-1])[order]
    out_off = np.zeros(len(order) + 1, dtype=np.int64)
    np.cumsum(lens, out=out_off[1:])
    total = int(out_off[-1])
    if total == 0:
        return b"", out_off
    src_arr = np.frombuffer(src, dtype=np.uint8)
    idx = (
        np.arange(total, dtype=np.int64)
        - np.repeat(out_off[:-1], lens)
        + np.repeat(off[:-1][order], lens)
    )
    return src_arr[idx].tobytes(), out_off


def binary_array(values, off: np.ndarray):
    """Zero-copy pyarrow binary array over a shared (values, offsets) pair;
    falls back to large_binary when the byte total exceeds int32."""
    import pyarrow as pa

    n = len(off) - 1
    if off[-1] <= np.iinfo(np.int32).max:
        return pa.Array.from_buffers(
            pa.binary(), n,
            [None, pa.py_buffer(off.astype(np.int32).tobytes()),
             pa.py_buffer(values)],
        )
    return pa.Array.from_buffers(
        pa.large_binary(), n,
        [None, pa.py_buffer(off.astype(np.int64).tobytes()),
         pa.py_buffer(values)],
    )


def encode_sorted_groups(
    idx: np.ndarray,
    doc_id: np.ndarray,
    tf: np.ndarray,
    doc_len: np.ndarray,
    pos_off,
    pos_bytes,
    block_size: int,
    store_positions: bool,
    src_label: str,
    row_postings: int | None = None,
):
    """The vectorized whole-input encode core: postings sorted by
    (term_h, doc_id) -> (segment pyarrow Table, n_groups, max_part).

    A group (one segment row) is one term's postings of one `part` =
    rank_in_term // row_postings, so a list longer than `row_postings`
    becomes consecutive doc-range rows in doc order. Every row starts a
    block; with `row_postings` a multiple of `block_size` (the default,
    `_row_postings(block_size)`) only a list's last row ends in a short
    block.

    The input holds ~1e3-1e5 posting-list groups of ~1e2 postings each;
    calling the per-group encoder (index/encode.py) costs ~0.7ms of NumPy
    fixed overhead PER GROUP — more than the actual byte work. Instead,
    every stream is encoded in ONE pass over the whole input (absolute-gap
    resets at block starts make groups independent by construction) and
    per-group slices are materialized as zero-copy Arrow binary arrays
    over the shared buffer. Byte-identical to encode_posting_list
    (asserted in tests/test_p2_direct.py).

    `pos_off` must be zero-based int64[n+1]; `pos_bytes` the matching
    contiguous byte region (ignored unless store_positions)."""
    import pyarrow as pa

    from quickb_spark.index.encode import to_u64, varbyte_encode, varbyte_lengths

    row_postings = row_postings or _row_postings(block_size)
    n = len(idx)
    # each posting's rank within its term; a group starts at every
    # row_postings-th rank
    rank = np.arange(n, dtype=np.int64)
    if n:
        t_starts = np.flatnonzero(np.r_[True, idx[1:] != idx[:-1]])
        rank -= np.repeat(t_starts, np.diff(np.append(t_starts, n)))
    part, pos_in_group = np.divmod(rank, row_postings)
    starts = np.flatnonzero(pos_in_group == 0)
    ends = np.append(starts[1:], n) if n else starts
    n_groups = len(starts)
    sizes = ends - starts
    # sortedness check by COMPARISON in order-preserving u64 space —
    # np.diff on raw int64 doc_ids overflows when an adjacent gap exceeds
    # 2^63 (near-certain for df<=3 posting lists, whose two docs land
    # anywhere in the int64 range) and would flag a perfectly sorted input
    u_check = to_u64(doc_id)
    if n and not (
        (u_check[1:] > u_check[:-1]) | (pos_in_group[1:] == 0)
    ).all():
        raise ValueError(
            f"checkpoint group not strictly doc_id-sorted in {src_label} — "
            "input predates the v3 invariant or was rewritten outside "
            "build_index; rebuild the flat checkpoint"
        )

    # global block starts: every block_size-th row WITHIN its group
    bmask = (pos_in_group % block_size) == 0
    bstarts = np.flatnonzero(bmask)
    bends = np.concatenate((bstarts[1:], [n])) if n else bstarts
    nblocks = (sizes + block_size - 1) // block_size
    gb_off = np.concatenate(([0], np.cumsum(nblocks)))

    u = to_u64(doc_id)
    gaps = np.empty_like(u)
    if n:
        gaps[0] = u[0]
        np.subtract(u[1:], u[:-1], out=gaps[1:])
        gaps[bmask] = u[bmask]  # absolute reset at every block start
    tf_u = tf.astype(np.uint64)
    dl_u = doc_len.astype(np.uint64)

    def _stream(vals_u):
        """(data bytes, group offsets[n_groups+1], per-block byte offsets
        relative to each group's stream start)."""
        lens = varbyte_lengths(vals_u)
        data = varbyte_encode(vals_u, lens)
        cum = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=cum[1:])
        goff = cum[np.append(starts, n)]
        boff = cum[bstarts] - np.repeat(goff[:-1], nblocks)
        return data, goff, boff

    doc_data, doc_goff, doc_boff = _stream(gaps)
    tf_data, tf_goff, tf_boff = _stream(tf_u)
    dl_data, dl_goff, dl_boff = _stream(dl_u)

    def _bin(data, goff):
        arr = binary_array(data, goff)
        return arr.cast(pa.binary()) if arr.type == pa.large_binary() else arr

    def _list_array(values):
        return pa.ListArray.from_arrays(
            pa.array(gb_off, type=pa.int32()),
            pa.array(values, type=pa.int64()),
        )

    if store_positions and n:
        pos_off_a = np.asarray(pos_off, dtype=np.int64)
        pos_goff = pos_off_a[np.append(starts, n)]
        pos_arr = _bin(bytes(pos_bytes), pos_goff)
        # per-block byte offsets into pos_stream, relative to each group's
        # stream start (format v5 — block-aligned pos slices decode alone)
        pos_boff = pos_off_a[bstarts] - np.repeat(pos_goff[:-1], nblocks)
    else:
        pos_arr = _bin(b"", np.zeros(n_groups + 1, dtype=np.int64))
        pos_boff = np.zeros(int(nblocks.sum()) if n else 0, dtype=np.int64)

    out_tbl = pa.table(
        {
            "term_h": pa.array(idx[starts], type=pa.int64()),
            "part": pa.array(part[starts].astype(np.int32), type=pa.int32()),
            "df_part": pa.array(sizes, type=pa.int64()),
            "cf_part": pa.array(
                np.add.reduceat(tf.astype(np.int64), starts) if n
                else np.empty(0, dtype=np.int64),
                type=pa.int64(),
            ),
            "doc_stream": _bin(doc_data, doc_goff),
            "tf_stream": _bin(tf_data, tf_goff),
            "dl_stream": _bin(dl_data, dl_goff),
            "pos_stream": pos_arr,
            "block_last_doc": _list_array(
                doc_id[bends - 1] if n else np.empty(0, dtype=np.int64)
            ),
            "block_max_tf": _list_array(
                np.maximum.reduceat(tf.astype(np.int64), bstarts) if n
                else np.empty(0, dtype=np.int64)
            ),
            "block_min_dl": _list_array(
                np.minimum.reduceat(doc_len.astype(np.int64), bstarts) if n
                else np.empty(0, dtype=np.int64)
            ),
            "block_doc_off": _list_array(doc_boff),
            "block_tf_off": _list_array(tf_boff),
            "block_dl_off": _list_array(dl_boff),
            "block_pos_off": _list_array(pos_boff),
        }
    )
    max_part = int(part.max()) if n else 0
    return out_tbl, n_groups, max_part


def _merge_one_bucket(
    bucket: int,
    run_paths: list[str],
    flat_dir: str,
    seg_dir: str,
    lex_dir: str,
    block_size: int,
    store_positions: bool,
    nsplits: int = 1,
    split_id: int = 0,
    row_postings: int | None = None,
) -> dict:
    """k-way merge one bucket's sorted runs -> one segment file + its
    lexicon rows. Each run is sorted by (term_h, doc_id) and the keys
    are disjoint-by-doc across runs, so the global order is one stable
    lexsort of the concatenated columns; position slices follow with one
    vectorized byte gather.

    When nsplits > 1, this unit handles only the TERMS with
    pmod(xxhash64(term_h), nsplits) == split_id: term-hash bucketing is
    Zipf-skewed (one popular term's postings all share a bucket), so big
    buckets would otherwise become the wave's straggler. The split filter
    is applied to each run AS IT IS READ, so a split task's resident
    working set is ~1/nsplits of the bucket (plus one run's transient) —
    this is what makes nsplits a real MEMORY bound, not just a
    work-balance knob (merge_encode_buckets sizes it from both). Every
    term's posting list stays whole in one unit, each term's lexicon row is
    written exactly once, and the extra cost is only re-reading the
    bucket's runs per split. At a larger scale the next step down is
    splitting one term's list by doc range across units, with a df-summing
    lexicon read; not needed at this corpus size."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quickb_spark.index.xxh import hash_long_array

    pa.set_cpu_count(1)  # one core slot per task (see p1_direct._p1_task)
    fsys, _ = pyarrow_fs_for(flat_dir)
    ofs, seg_root = pyarrow_fs_for(seg_dir)
    _, lex_root = pyarrow_fs_for(lex_dir)

    cols = _CHECKPOINT_COLS if store_positions else _CHECKPOINT_COLS[:-1]
    tbls = []
    for p in run_paths:
        with fsys.open_input_file(p) as f:
            t = pq.read_table(f, columns=cols)
        if nsplits > 1 and t.num_rows:
            th_run = t.column("term_h").to_numpy(zero_copy_only=False)
            mask = hash_long_array(th_run) % np.int64(nsplits) == split_id
            if not mask.all():
                t = t.filter(pa.array(mask))
        tbls.append(t)
    tbl = pa.concat_tables(tbls) if len(tbls) > 1 else tbls[0]
    del tbls
    n = tbl.num_rows
    idx = tbl.column("term_h").to_numpy(zero_copy_only=False)
    doc_id = tbl.column("doc_id").to_numpy(zero_copy_only=False)
    tf = tbl.column("tf").to_numpy(zero_copy_only=False)

    # merge: signed-int64 lexsort, the runs' in-task sort order
    order = np.lexsort((doc_id, idx))
    idx_s = idx[order]
    doc_s = doc_id[order]
    tf_s = tf[order]
    dl_s = tbl.column("doc_len").to_numpy(zero_copy_only=False)[order]
    if store_positions:
        # byte-slice reorder via Arrow's C++ take — ~4x less memory traffic
        # than a per-byte numpy index gather (A/B'd; byte-identical)
        taken = (
            tbl.column("pos_vb")
            .combine_chunks()
            .take(pa.array(order))
            .cast(pa.large_binary())
        )
        pos_off_s = np.frombuffer(taken.buffers()[1], dtype=np.int64)[
            : len(order) + 1
        ]
        pos_vals = (
            memoryview(taken.buffers()[2])[: pos_off_s[-1]]
            if len(order)
            else b""
        )
    else:
        pos_vals, pos_off_s = b"", np.zeros(len(order) + 1, dtype=np.int64)
    del tbl

    out_tbl, n_groups, max_part = encode_sorted_groups(
        idx_s, doc_s, tf_s, dl_s, pos_off_s, pos_vals,
        block_size, store_positions, f"bucket={bucket} runs", row_postings,
    )

    dest_dir = f"{seg_root.rstrip('/')}/bucket={bucket}"
    ofs.create_dir(dest_dir, recursive=True)
    dest = f"{dest_dir}/part-m{split_id:04d}.parquet"
    with ofs.open_output_stream(dest) as out:
        pq.write_table(out_tbl, out, compression="snappy")
    sz = ofs.get_file_info(dest).size or 0

    # in-task lexicon: groups are term-sorted, so per-term df is one reduceat
    g_term = out_tbl.column("term_h").to_numpy(zero_copy_only=False)
    g_df = out_tbl.column("df_part").to_numpy(zero_copy_only=False)
    if n_groups:
        tchange = np.flatnonzero(g_term[1:] != g_term[:-1]) + 1
        tstarts = np.concatenate(([0], tchange)).astype(np.int64)
        lex_term = g_term[tstarts]
        lex_df = np.add.reduceat(g_df, tstarts)
    else:
        lex_term = lex_df = np.empty(0, dtype=np.int64)
    lex_dest_dir = f"{lex_root.rstrip('/')}/bucket={bucket}"
    ofs.create_dir(lex_dest_dir, recursive=True)
    with ofs.open_output_stream(
        f"{lex_dest_dir}/part-m{split_id:04d}.parquet"
    ) as out:
        pq.write_table(
            pa.table(
                {
                    "term_h": pa.array(lex_term, type=pa.int64()),
                    "df": pa.array(lex_df, type=pa.int64()),
                }
            ),
            out,
            compression="snappy",
        )

    return {
        "bucket": bucket,
        "src_file": f"{len(run_paths)} runs (split {split_id}/{nsplits})",
        "n_groups": int(n_groups),
        "n_terms": int(len(lex_term)),
        "n_postings": int(len(order)),
        "max_part": max_part,
        "out_bytes": int(sz),
    }


#: Hard ceiling on term-granular splits per bucket: beyond this, re-reading
#: the bucket's runs per split dominates — the right fix is more
#: term_buckets, and the memory guard below says so explicitly.
_MAX_BUCKET_SPLITS = 256


def merge_encode_buckets(
    spark: SparkSession,
    flat_dir: str,
    seg_dir: str,
    lex_dir: str,
    buckets: list[int],
    block_size: int,
    store_positions: bool,
    target_bytes: int | None = None,
    task_mem_bytes: int | None = None,
) -> list[dict]:
    """Merge-encode the given buckets' sorted-runs checkpoint. The work
    units (one per bucket, or per term-split of a bucket) are LPT-packed by
    their estimated bytes into at most one Spark task per slot
    (taskpack.run_packed); a unit's output files do not depend on which
    task runs it. A bucket is split into term-granular sub-units when its runs
    exceed ~1/256 of the wave's bytes (Zipf skew makes the hottest
    bucket several times the median — unsplit it IS the wave's makespan)
    OR when its estimated decoded working set (run bytes x
    {_RUN_MEM_EXPANSION}) exceeds `task_mem_bytes` — the MEMORY GUARD: a
    mis-set term_buckets at a bigger corpus must degrade into more, smaller
    splits (each split filters its terms per run at read time, bounding
    residency to ~bucket/nsplits), not OOM a wave. Past
    {_MAX_BUCKET_SPLITS} splits it fails fast with the term_buckets
    prescription instead of thrashing re-reads. Writes segments AND the
    per-bucket lexicon in-task; returns per-BUCKET summary dicts (sub-task
    summaries pre-aggregated here) — the caller commits them without
    running any further Spark job."""
    files = list_bucket_files(flat_dir, buckets)
    by_bucket: dict[int, list[tuple[str, int]]] = {}
    for b, p, sz in files:
        by_bucket.setdefault(b, []).append((p, sz))
    if not by_bucket:
        return []
    total = sum(sz for _, p in by_bucket.items() for _, sz in p)
    # Work-balance split target is CLUSTER-SIZE-INDEPENDENT (same principle
    # as IndexConfig.p1_task_bytes): ~one unit per median bucket, so only
    # Zipf-hot buckets (several x the median) split, in proportion to their
    # size — exactly the straggler bound splitting exists for. The part
    # that matters for comparability: the SEGMENT FILE LAYOUT is now
    # identical at every cluster size (the previous total/(4*cores) target
    # tied the split count, the split re-read amplification, and the
    # serving-side file count to the builder's core count). More units
    # than buckets only helps while splits are cheaper than their re-read
    # cost — at real scale the unit count is driven by term_buckets, which
    # grows into the thousands long before executor counts do.
    target = target_bytes or max(32 << 20, total // max(64, len(by_bucket)))
    mem_budget = task_mem_bytes or (4 << 30)
    work: list[tuple[int, list[str], int, int, float]] = []
    for b, paths in by_bucket.items():
        bsize = sum(s for _, s in paths)
        mem_splits = -(-(bsize * _RUN_MEM_EXPANSION) // mem_budget)
        if mem_splits > _MAX_BUCKET_SPLITS:
            raise ValueError(
                f"bucket={b}: {bsize >> 20} MB of runs needs {mem_splits} "
                f"term-splits to fit {mem_budget >> 20} MB tasks (cap "
                f"{_MAX_BUCKET_SPLITS}) — raise IndexConfig.term_buckets "
                "so buckets shrink, or raise p2_task_mem_bytes"
            )
        nsplits = int(
            max(1, min(_MAX_BUCKET_SPLITS,
                       max(round(bsize / target), mem_splits)))
        )
        for k in range(nsplits):
            work.append(
                (b, [p for p, _ in paths], nsplits, k, bsize / nsplits)
            )
    work.sort(key=lambda t: -t[4])
    # read here, in the driver, so the tasks' closure carries the value
    row_postings = _row_postings(block_size)

    def _run(item):
        b, paths, nsplits, k, _est = item
        try:
            return _merge_one_bucket(
                b, paths, flat_dir, seg_dir, lex_dir,
                block_size, store_positions, nsplits, k, row_postings,
            )
        except ValueError as e:  # malformed runs: deterministic, no retry
            return {"bucket": b, "error": str(e)}

    parts = run_packed(
        spark.sparkContext, _run, work, [t[4] for t in work],
        label="qkb phase2: merge-encode buckets",
    )
    for s in parts:
        if "error" in s:
            raise ValueError(s["error"])
    agg: dict[int, dict] = {}
    for s in parts:
        a = agg.get(s["bucket"])
        if a is None:
            agg[s["bucket"]] = dict(s)
        else:
            a["n_groups"] += s["n_groups"]
            a["n_terms"] += s["n_terms"]
            a["n_postings"] += s["n_postings"]
            a["max_part"] = max(a["max_part"], s["max_part"])
            a["out_bytes"] += s["out_bytes"]
    return list(agg.values())
