"""BM25 serving: docID-range tasks that read the segment files themselves.

This is the one path every BM25 query takes (`Searcher.topk`,
`bm25_topk_segments` and `query_with_deltas` all plan a `RangePlan` and
call `serve_topk_direct`):

  driver plans R docID ranges (ranges partition the doc space, so per-range
  top-k lists merge exactly) -> one Spark task per range reads the
  CANDIDATE segment rows itself with pyarrow (bucket-pruned file list from
  the Searcher's cached listing), slices each row's streams to its range
  via the per-block byte offsets (the per-block absolute delta reset makes
  any block-aligned slice independently decodable), decodes each table's
  slices in one pass, merges each term's parts with `wand._build_struct`
  and scores the whole query batch with `wand._score_query_set`. Only
  per-range top-k rows (<= R*Q*k) ever cross the Python<->JVM boundary;
  the driver merges them exactly and returns them as a local `TopK` list —
  no shuffle, no window job, no stream bytes on the JVM<->Python Arrow
  channel, and no second job to materialize the result.

Small plans skip the job: an auto-ranged plan of at most
wand.DRIVER_MAX_POSTINGS candidate postings runs the same range task in
the driver over the whole doc space, because a Spark job's fixed dispatch
cost is larger than the scoring work (see the constant's comment). Those
calls run no Spark job at all.

Why no Arrow channel: an earlier serving path shipped every candidate
stream slice through the JVM->Python channel once per range (pruned scan
-> JVM slicing -> a grouped pandas UDF). The round-3 scaling pools
measured its query batches scaling at only ~half the build's rate (median
q-eff 0.493 vs build 0.802, BENCH/BASELINE.md), and the channel was the
one component measured NOT to parallelize with cores in this environment
— the same ceiling that drove the build's direct engine (index/p1_direct.py).

Candidate rows are consumed as zero-copy NumPy/buffer VIEWS over the Arrow
table (offsets+values of the binary and list columns) — never `to_pylist`
(materializing block-metadata lists as Python objects measured ~5x the
parquet decode cost on the 4M-doc index) — and each file's DECODED table
is kept in a per-process LRU cache (Spark reuses Python workers; the
driver keeps its own for driver-path plans):
the R range tasks of a batch, and every later batch a serving process
handles, re-read a candidate file zero times instead of once per range.
This is the decoded-block cache every serving engine keeps; entries are
fingerprinted by (size, mtime) so a rebuilt index invalidates, and each
process's budget is derived from the host (_cache_budget). Measured on
the 4M index at 8
cores: warm 50-query batch 29.3s uncached -> 15.4s cached (see
BENCH/query_decompose_r4.json). `Searcher.preload()` loads the tables at
server construction — the Lucene-style index open — so even the FIRST
batch skips the cold segment read.

Scale notes (the 100 TB story):
- each range task re-reads the candidate rows (R-fold read amplification of
  candidate bytes). Reads are bucket-pruned, term-filtered, page-cached
  parquet, so the amplified cost is snappy decode — CPU that scales with
  cores; total read work is fixed per batch (R is postings-driven, not
  cluster-driven), so it spreads over whatever cores exist. At
  object-store scale the knob is the range count
  (query/wand.RANGE_TARGET_POSTINGS): fewer, bigger ranges trade task
  memory for read amplification.
- phrase verification is vectorized end to end: candidate docs come from
  posting-list intersection, their positions from a per-part BULK decode of
  the range's position slice (format v5 block_pos_off), and adjacency from
  sorted-set intersection on (candidate, position) composite keys — no
  per-document Python loop exists on the phrase path.
- conjunctive (all-terms) mode reuses the same sorted-array candidate
  intersection WITHOUT the position verify (`_conj_topk`) — AND-mode
  retrieval at any-mode cost minus scoring of non-matching docs; works on
  positionless indexes.
- postings that live outside the segment files (the streaming delta tier,
  `RangePlan.extra`) ride in the plan; each range task trims them to its
  range and adds them to the term's struct as one more part.

Reference parity: this serves the same capability as the reference's
ChromaDB top-k query (examples/chromadb_integration.ipynb cell 8); phrase
mode is the exact-match retrieval companion the reference demonstrates
beside ANN in the same notebook.
"""

from __future__ import annotations

import threading
from collections import OrderedDict, defaultdict
from typing import NamedTuple

import numpy as np
from pyspark.sql import Row

from quickb_spark.index.encode import from_u64, varbyte_decode
from quickb_spark.taskpack import job_description, run_packed

__all__ = ["RangePlan", "TopK", "serve_topk_direct", "preload_files"]

#: Segment-row columns every serving read needs; position columns join in
#: phrase mode only.
_BASE_COLS = [
    "term_h", "df_part", "doc_stream", "tf_stream", "dl_stream",
    "block_last_doc", "block_doc_off", "block_tf_off", "block_dl_off",
]
_POS_COLS = ["pos_stream", "block_pos_off"]


#: Per-process decoded-table cache (executor workers, and the driver for
#: driver-path plans): (path, want_pos) -> (fingerprint, table). LRU by
#: access order, bounded by _cache_budget() Arrow buffer bytes per
#: process. Every read or write of it holds _TBL_LOCK: threads serving
#: driver-path calls on one driver share it.
_TBL_CACHE: "OrderedDict[tuple[str, bool], tuple]" = OrderedDict()
_TBL_CACHE_BYTES = [0]
_TBL_LOCK = threading.Lock()


def _shm_dir() -> str | None:
    """Shared decoded-table cache directory (None = disabled).

    The per-PROCESS LRU above makes every Python worker decode every
    candidate file once — a fresh-open cost that grows with executor
    count (round-4 pools: cold-warm gap 1.6s @N vs 12.3s @4N, VERDICT r4
    #4). The standard fix is sharing the decoded form across workers on a
    host: the first worker to need a file decodes it ONCE and writes it
    as an Arrow IPC file here; every other worker memory-maps that file —
    zero-copy, page-cache-shared, milliseconds. On a multi-node cluster
    /dev/shm is per-host, so this is the per-host segment cache every
    serving engine keeps (Lucene's mmap directory); workers on other
    hosts decode their own host's copy on first touch. Entries are keyed
    by (path, size, mtime) so a rebuilt index never matches a stale
    entry. QKB_SERVE_SHM_DIR overrides ('' disables)."""
    import os

    d = os.environ.get("QKB_SERVE_SHM_DIR")
    if d is not None:
        return d or None
    return "/dev/shm/qkb_serve_cache" if os.path.isdir("/dev/shm") else None


#: The host-shared cache may fill this share of the smaller of its
#: filesystem's size and physical RAM, at most _SHM_BUDGET_CAP, when
#: QKB_SERVE_SHM_MB is unset. Half of a 16 GB host (7.8 GiB) holds both
#: decoded forms (with and without positions) of the 4M-doc scale index,
#: 4.8 GiB by a linear fit of 50k- and 400k-doc builds (CHANGES.md); a
#: quarter (3.9 GiB) would hold only one.
_SHM_BUDGET_DIVISOR = 2
_SHM_BUDGET_CAP = 16384 << 20
#: budget name (or shm dir) -> bytes, derived once per process.
_BUDGETS: dict[str, int] = {}


def _phys_ram_bytes() -> int:
    """Physical RAM of this host in bytes (0 when unknown)."""
    import os

    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (OSError, ValueError):
        return 0


def _host_budget(name: str, cap: int, share: int) -> int:
    """min(cap, physical RAM // share) bytes, or cap when RAM is unknown;
    derived once per process and logged."""
    import logging

    budget = _BUDGETS.get(name)
    if budget is None:
        ram = _phys_ram_bytes()
        budget = _BUDGETS[name] = min(cap, ram // share) if ram > 0 else cap
        logging.getLogger(__name__).info(
            "%s: budget %d MiB (RAM %d MiB / %d, cap %d MiB)",
            name, budget >> 20, ram >> 20, share, cap >> 20,
        )
    return budget


def _cache_budget() -> int:
    """Byte budget of this process's decoded-table LRU: the driver and one
    Python worker per usable core together stay under half the RAM. The
    6 GiB cap sits above the 4M-doc index's decoded candidate set (~2.1
    GB): a budget just under a working set thrashes the LRU."""
    import os

    share = 2 * (len(os.sched_getaffinity(0)) + 1)
    return _host_budget("decoded-table LRU", 6144 << 20, share)


def _shm_budget(shm: str) -> int:
    """Byte budget of the shared cache dir: QKB_SERVE_SHM_MB when set,
    else 1/_SHM_BUDGET_DIVISOR of min(size of the filesystem holding
    `shm`, physical RAM), capped at _SHM_BUDGET_CAP — a tmpfs /dev/shm is
    backed by RAM, so a flat budget above it lets the cache claim the
    whole host. The filesystem's size, not its free space: the cache's
    own entries use that space, so a budget from free space would shrink
    with every process that opens against a full cache."""
    import logging
    import os

    env = os.environ.get("QKB_SERVE_SHM_MB")
    if env is not None:
        return int(env) << 20
    budget = _BUDGETS.get(shm)
    if budget is None:
        probe = shm
        while not os.path.isdir(probe) and os.path.dirname(probe) != probe:
            probe = os.path.dirname(probe)
        try:
            st = os.statvfs(probe)
            fs_bytes = st.f_frsize * st.f_blocks
        except OSError:
            fs_bytes = 0
        ram = _phys_ram_bytes()
        sizes = [b for b in (fs_bytes, ram) if b > 0]
        budget = min([b // _SHM_BUDGET_DIVISOR for b in sizes]
                     + [_SHM_BUDGET_CAP])
        _BUDGETS[shm] = budget
        logging.getLogger(__name__).info(
            "shared decoded-table cache %s: budget %d MiB (filesystem %d MiB, "
            "RAM %d MiB)", shm, budget >> 20, fs_bytes >> 20, ram >> 20,
        )
    return budget


def _shm_evict(shm: str, budget: int) -> None:
    """Bound the shared cache dir to `budget` bytes, oldest-mtime first
    (best-effort; concurrent removals are fine)."""
    import os

    try:
        entries = []
        for name in os.listdir(shm):
            if not name.endswith(".arrow"):
                continue
            p = os.path.join(shm, name)
            try:
                st = os.stat(p)
            except OSError:
                continue
            entries.append((st.st_mtime_ns, st.st_size, p))
        total = sum(sz for _, sz, _ in entries)
        if total <= budget:
            return
        for _, sz, p in sorted(entries):
            try:
                os.remove(p)
            except OSError:
                continue
            total -= sz
            if total <= budget:
                return
    except OSError:
        return


def _shm_path(shm: str, path: str, fp: tuple, want_pos: bool) -> str:
    import hashlib
    import os

    key = hashlib.sha1(
        f"{path}|{fp[0]}|{fp[1]}|{int(want_pos)}".encode()
    ).hexdigest()
    return os.path.join(shm, f"{key}.arrow")


def _shm_table(sp: str):
    """The published table at `sp`, memory-mapped (None when absent)."""
    import pyarrow as pa

    try:
        return pa.ipc.open_file(pa.memory_map(sp)).read_all()
    except (OSError, pa.ArrowInvalid):
        return None


def _workers_share_cache(sc) -> bool:
    """True when every executor runs on the driver's host (a local or
    local-cluster master) and its Python workers resolve the same shared
    cache dir and budget as the driver, so the entries the driver
    publishes are the ones range tasks map. A worker's environment is the
    driver JVM's (fixed when the session started) overlaid with
    spark.executorEnv.* (sc.environment), which may differ from the
    driver's os.environ."""
    import os

    m = sc.master
    if not (m == "local" or m.startswith(("local[", "local-cluster["))):
        return False
    for k in ("QKB_SERVE_SHM_DIR", "QKB_SERVE_SHM_MB"):
        seen = sc.environment.get(k)
        if seen is None:
            seen = sc._jvm.System.getenv(k)
        if seen != os.environ.get(k):
            return False
    return True


def driver_map(sc, fn, items: list) -> list:
    """[fn(x) for x in items] on a driver thread pool of
    sc.defaultParallelism threads (pyarrow reads and decodes release the
    GIL). Index-open work runs here instead of in a Spark job, whose fixed
    cost is seconds when the work behind it takes milliseconds."""
    from concurrent.futures import ThreadPoolExecutor

    n = min(max(1, sc.defaultParallelism), len(items))
    if n <= 1:
        return [fn(x) for x in items]
    with ThreadPoolExecutor(n, thread_name_prefix="qkb-open") as pool:
        return list(pool.map(fn, items))


def preload_files(spark, files: list[str], want_pos: bool = False,
                  pretouch_mb: int = 0) -> int:
    """Best-effort warm open of the serving caches — the index-open step
    of a serving process (Lucene-style: segments load at reader open, not
    on the first query). Returns the decoded byte count of every file as
    one process loaded them.

    When every worker shares the driver's host and its shared-cache
    settings (_workers_share_cache) and the host-shared decoded-table
    cache is enabled (_shm_dir), the driver
    does it all with no Spark job: a driver_map pool decodes each file
    once and publishes it to the shared cache, then evicts the cache dir
    once. The driver keeps the memory-mapped entries; range tasks
    memory-map the same entries on first use, in milliseconds. A Spark
    job would cost seconds here for milliseconds of decode.

    Otherwise (workers on other hosts cannot see the driver's cache,
    workers set another QKB_SERVE_SHM_DIR / QKB_SERVE_SHM_MB than the
    driver, the cache is off, or pretouch_mb > 0) the open is two-phase Spark work:
    with the cache enabled, a DISTRIBUTED decode first — each file is one
    work unit, LPT-packed by size into at most one task per slot
    (taskpack.run_packed) — publishes every file to the workers' host
    caches; then two jobs of one task per slot load every file into their
    worker's cache (mapping published entries instead of re-decoding; the
    repeat catches workers the scheduler skipped). The return value is
    then the last round's first task's byte count.

    pretouch_mb (0=off): additionally grow each worker's malloc arena by
    this many MB of touched-then-freed 32MB blocks — the Python-worker
    analog of the JVM's AlwaysPreTouch. With
    the arena-reuse env from quickb_spark.session applied, the first
    query batch then allocates its temporaries from already-faulted pages
    instead of paying DRAM-bound page zeroing inside the batch (measured:
    the first post-preload batch's tasks fault ~1M pages each without
    this). Without that env the blocks are munmapped on free and the
    pretouch is wasted work, so it defaults off. It needs the worker
    rounds, so it selects the job path."""
    import os

    sc = spark.sparkContext
    par = max(1, sc.defaultParallelism)
    shm = _shm_dir()

    if shm is not None and not pretouch_mb and _workers_share_cache(sc):
        try:
            return sum(driver_map(
                sc, lambda f: _cached_table(f, want_pos, evict=False).nbytes,
                files,
            ))
        except OSError:
            return 0  # non-local FS: nothing to preload
        finally:
            _shm_evict(shm, _shm_budget(shm))

    if shm is not None and len(files) > 1:
        # phase A: decode once per file, spread over every task slot; the
        # rounds below evict once per task after loading
        def _decode_one(f):
            try:
                return _cached_table(f, want_pos, evict=False).nbytes
            except OSError:
                return 0

        try:
            costs = [os.path.getsize(f) for f in files]
        except OSError:
            costs = None
        run_packed(sc, _decode_one, files, costs,
                   label="qkb preload: decode segments")

    def _load(_i):
        total = 0
        for f in files:
            try:
                total += _cached_table(f, want_pos, evict=False).nbytes
            except OSError:
                return 0  # non-local FS: nothing to preload
        ws = _shm_dir()  # this worker's host cache
        if ws:
            _shm_evict(ws, _shm_budget(ws))
        if pretouch_mb:
            # 32MB blocks stay under any configured mmap threshold, so
            # freeing them leaves the pages arena-resident for the first
            # batch's temps; hold all before freeing so the arena peak
            # covers the full pretouch size at once
            chunk_words = (32 << 20) // 8
            held = []
            for _ in range(max(0, (pretouch_mb << 20) // (32 << 20))):
                a = np.empty(chunk_words, dtype=np.int64)
                a[::512] = 1  # touch each 4KB page
                held.append(a)
            del held
        return total

    out = 0
    with job_description(sc, "qkb preload: warm worker caches"):
        for _ in range(2):
            res = sc.parallelize(range(par), par).map(_load).collect()
            out = res[0] if res else 0
    return out


def _cached_table(path: str, want_pos: bool, evict: bool = True):
    """Decoded candidate table for one segment file, process-cached.

    The cache key includes want_pos (phrase batches read the position
    columns too); a want_pos=True table's columns are a superset, so it
    also serves want_pos=False reads, from the LRU or the shared cache.
    The fingerprint is (size, mtime_ns) so replacing the file — rebuild,
    re-fold — invalidates the entry. The decode runs outside the lock;
    two threads missing on one file both decode it, and the later insert
    replaces the earlier.

    A miss decodes the parquet and, with the shared cache enabled,
    publishes the decoded form there and keeps the memory-mapped
    published file instead of the heap copy, so the process never holds
    a segment twice (heap and tmpfs). `evict` bounds the shared dir after
    publishing; preload passes False and evicts once when it is done."""
    import os

    import pyarrow.parquet as pq

    import pyarrow as pa

    st = os.stat(path)
    fp = (st.st_size, st.st_mtime_ns)
    modes = (True,) if want_pos else (False, True)
    with _TBL_LOCK:
        for m in modes:
            hit = _TBL_CACHE.get((path, m))
            if hit is not None and hit[0] == fp:
                _TBL_CACHE.move_to_end((path, m))  # refresh LRU position
                return hit[1]
    tbl = None
    key = (path, want_pos)
    shm = _shm_dir()
    if shm:
        for m in modes:
            tbl = _shm_table(_shm_path(shm, path, fp, m))
            if tbl is not None:
                key = (path, m)
                break
    if tbl is None:
        cols = _BASE_COLS + (_POS_COLS if want_pos else [])
        tbl = pq.read_table(path, columns=cols).combine_chunks()
        if shm:
            # publish the decoded form for the host's other workers
            # (atomic rename; racing writers converge on identical bytes
            # modulo writer, last rename wins)
            sp = _shm_path(shm, path, fp, want_pos)
            tmp = f"{sp}.tmp.{os.getpid()}.{threading.get_ident()}"
            try:
                os.makedirs(shm, exist_ok=True)
                with pa.OSFile(tmp, "wb") as sink:
                    with pa.ipc.new_file(sink, tbl.schema) as writer:
                        writer.write_table(tbl)
                os.replace(tmp, sp)
            except OSError:
                # e.g. ENOSPC on a full tmpfs: eviction only counts
                # *.arrow entries, so a left-over temp file would hold
                # its RAM for good
                try:
                    os.remove(tmp)
                except OSError:
                    pass
            else:
                mapped = _shm_table(sp)
                if mapped is not None:
                    tbl = mapped
                if evict:
                    _shm_evict(shm, _shm_budget(shm))
    budget = _cache_budget()
    with _TBL_LOCK:
        old = _TBL_CACHE.pop(key, None)
        if old is not None:
            _TBL_CACHE_BYTES[0] -= old[1].nbytes
        while _TBL_CACHE and _TBL_CACHE_BYTES[0] + tbl.nbytes > budget:
            _, old = _TBL_CACHE.popitem(last=False)
            _TBL_CACHE_BYTES[0] -= old[1].nbytes
        if tbl.nbytes <= budget:
            _TBL_CACHE[key] = (fp, tbl)
            _TBL_CACHE_BYTES[0] += tbl.nbytes
    return tbl


def _bin_views(tbl, name):
    """(offsets int64[n+1], values memoryview) over a binary column —
    zero-copy row slicing without per-row Python bytes objects."""
    import pyarrow as pa

    arr = tbl.column(name).combine_chunks().cast(pa.large_binary())
    if arr.offset != 0:
        arr = pa.concat_arrays([arr])
    n = len(arr)
    off = np.frombuffer(arr.buffers()[1], dtype=np.int64)[: n + 1]
    buf = memoryview(arr.buffers()[2] or b"")[: off[-1]] if n else memoryview(b"")
    return off, buf


def _list_views(tbl, name):
    """(offsets int64[n+1], values int64 ndarray) over a list<int64> column."""
    import pyarrow as pa

    arr = tbl.column(name).combine_chunks()
    if arr.offset != 0:
        arr = pa.concat_arrays([arr])
    off = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    vals = arr.values.to_numpy(zero_copy_only=False)
    return off, vals


class _RowView:
    """Vectorized accessors over one candidate table's rows."""

    def __init__(self, tbl, want_pos: bool):
        self.term_h = tbl.column("term_h").to_numpy(zero_copy_only=False)
        self.df_part = tbl.column("df_part").to_numpy(zero_copy_only=False)
        self.streams = {
            c: _bin_views(tbl, c)
            for c in (
                ("doc_stream", "tf_stream", "dl_stream", "pos_stream")
                if want_pos
                else ("doc_stream", "tf_stream", "dl_stream")
            )
        }
        self.lists = {
            c: _list_views(tbl, c)
            for c in (
                ("block_last_doc", "block_doc_off", "block_tf_off",
                 "block_dl_off", "block_pos_off")
                if want_pos
                else ("block_last_doc", "block_doc_off", "block_tf_off",
                      "block_dl_off")
            )
        }

    def byte_ranges(self, name, rows, b_lo, b_hi):
        """(start, end) byte positions in `name`'s values buffer covering
        blocks [b_lo, b_hi) of each of `rows`, from the rows' per-block
        byte offsets into the stream."""
        soff, _ = self.streams[name]
        loff, lvals = self.lists["block_" + name.split("_")[0] + "_off"]
        base = soff[rows]
        first = loff[rows]
        start = base + lvals[first + b_lo]
        inner = b_hi < loff[rows + 1] - first
        end = np.where(
            inner,
            lvals[np.minimum(first + b_hi, len(lvals) - 1)],
            soff[rows + 1] - base,
        ) + base
        return start, end

    def gather(self, name, start, end) -> bytes:
        """The byte ranges of `name`'s stream, concatenated."""
        buf = self.streams[name][1]
        return b"".join(
            buf[a:z] for a, z in zip(start.tolist(), end.tolist())
        )


def _seg_counts(flags: np.ndarray, off: np.ndarray) -> np.ndarray:
    """Per-segment count of True flags; segment i is flags[off[i]:off[i+1]]."""
    cs = np.zeros(len(flags) + 1, dtype=np.int64)
    np.cumsum(flags, out=cs[1:])
    return cs[off[1:]] - cs[off[:-1]]


def _slice_table(rv: _RowView, lo: int, hi: int, block_size: int,
                 want_pos: bool) -> list[tuple]:
    """Every row of one candidate table -> its range-trimmed part:
    (term_h, docs, tfs, dls, pos_part) for rows with postings in [lo, hi].

    Per row, b_lo = #blocks entirely below lo and b_hi = min(nb, #blocks
    starting <= hi + 1). The rows' block-aligned slices are concatenated
    and decoded with one varbyte_decode per stream; doc gaps become ids by
    one cumsum that restarts at each block start (the per-block absolute
    reset). The result is split per row and trimmed to [lo, hi], so every
    doc is scored in exactly one range."""
    boff, bvals = rv.lists["block_last_doc"]
    b_lo = _seg_counts(bvals < lo, boff)
    b_hi = np.minimum(np.diff(boff), _seg_counts(bvals <= hi, boff) + 1)
    rows = np.flatnonzero(b_lo < b_hi)
    if not len(rows):
        return []
    b_lo, b_hi = b_lo[rows], b_hi[rows]
    n_sub = (
        np.minimum(rv.df_part[rows].astype(np.int64), b_hi * block_size)
        - b_lo * block_size
    )
    row_at = np.zeros(len(rows) + 1, dtype=np.int64)
    np.cumsum(n_sub, out=row_at[1:])
    total = int(row_at[-1])
    streams = {
        name: rv.gather(name, *rv.byte_ranges(name, rows, b_lo, b_hi))
        for name in ("doc_stream", "tf_stream", "dl_stream")
    }
    c = np.cumsum(varbyte_decode(streams["doc_stream"], total),
                  dtype=np.uint64)
    # block starts of every row slice, in the concatenated posting order
    n_blk = b_hi - b_lo
    blk_at = np.zeros(len(rows) + 1, dtype=np.int64)
    np.cumsum(n_blk, out=blk_at[1:])
    starts = np.repeat(row_at[:-1], n_blk) + block_size * (
        np.arange(blk_at[-1], dtype=np.int64) - np.repeat(blk_at[:-1], n_blk)
    )
    carry = np.concatenate(([np.uint64(0)], c[starts[1:] - 1]))
    docs = from_u64(c - np.repeat(carry, np.diff(np.append(starts, total))))
    tfs = varbyte_decode(streams["tf_stream"], total).view(np.int64)
    dls = varbyte_decode(streams["dl_stream"], total).view(np.int64)
    trim_a = _seg_counts(docs < lo, row_at)
    trim_z = _seg_counts(docs <= hi, row_at)
    if want_pos:
        pos_buf = rv.streams["pos_stream"][1]
        pos_a, pos_z = rv.byte_ranges("pos_stream", rows, b_lo, b_hi)
    out = []
    for j, i in enumerate(rows.tolist()):
        r0, r1 = int(row_at[j]), int(row_at[j + 1])
        a, z = r0 + int(trim_a[j]), r0 + int(trim_z[j])
        if a >= z:
            continue
        pos_part = None
        if want_pos:
            pos_part = {
                # pre-trim slice tfs (position counts per posting)
                "tfs_slice": tfs[r0:r1],
                "trim_a": a - r0,
                "n_sub": r1 - r0,
                "pos_bytes": pos_buf[int(pos_a[j]): int(pos_z[j])],
            }
        out.append(
            (int(rv.term_h[i]), docs[a:z], tfs[a:z], dls[a:z], pos_part)
        )
    return out


def _part_positions(p) -> tuple[np.ndarray, np.ndarray]:
    """Bulk-decode one part's position slice -> (flat ABSOLUTE positions,
    per-slice-posting offsets int64[n_sub+1]). Cached on the part dict.
    One vectorized pass over the whole slice: per-posting deltas with an
    absolute first value become absolute positions via a segmented cumsum
    (cumsum minus the carry at each posting start)."""
    hit = p.get("_pos")
    if hit is not None:
        return hit
    tfs = np.asarray(p["tfs_slice"], dtype=np.int64)
    n_vals = int(tfs.sum())
    offs = np.zeros(len(tfs) + 1, dtype=np.int64)
    np.cumsum(tfs, out=offs[1:])
    deltas = varbyte_decode(p["pos_bytes"], n_vals).view(np.int64)
    c = np.cumsum(deltas)
    starts = offs[:-1][tfs > 0]
    if len(starts) > 1:
        reps = np.diff(np.append(starts, n_vals))
        carry = np.repeat(
            np.concatenate(([np.int64(0)], c[starts[1:] - 1])), reps
        )
        flat = c - carry
    else:
        flat = c
    p["_pos"] = (flat, offs)
    return p["_pos"]


def _candidate_pos_keys(struct, cand_idx: np.ndarray) -> np.ndarray:
    """Sorted composite keys (slot << 32 | position) for the candidate
    postings' token positions, where slot = index into the candidate doc
    array. Fully vectorized: per part, a bulk pos decode + one ragged
    gather (np.repeat/arange trick). Token positions are chunk-local
    (< 2^31), slots < 2^31 — the composite never overflows."""
    perm = struct["perm"]
    part_starts = struct["part_starts"]
    flat_idx = perm[cand_idx]
    part_i = np.searchsorted(part_starts, flat_idx, "right") - 1
    out = []
    for pi in np.unique(part_i):
        p = struct["pos_parts"][pi]
        sel = part_i == pi
        slots = np.flatnonzero(sel)
        sidx = flat_idx[sel] - int(part_starts[pi]) + p["trim_a"]
        flat, offs = _part_positions(p)
        lens = offs[sidx + 1] - offs[sidx]
        total = int(lens.sum())
        if not total:
            continue
        dst_off = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(lens, out=dst_off[1:])
        take = (
            np.arange(total, dtype=np.int64)
            - np.repeat(dst_off[:-1], lens)
            + np.repeat(offs[sidx], lens)
        )
        pos_vals = flat[take]
        key = (np.repeat(slots.astype(np.int64), lens) << np.int64(32)) | pos_vals
        out.append(key)
    if not out:
        return np.empty(0, dtype=np.int64)
    keys = np.concatenate(out)
    keys.sort()
    return keys


def _phrase_topk(structs, seq, k, block_size, slop: int = 0):
    """Phrase top-k within one range: docs containing the query's terms in
    order with successive-term position gaps in [1, slop + 1] (slop=0 =
    exact adjacency: positions p, p+1, ...), scored with the same BM25 sum
    as non-phrase queries, ranked (score desc, doc asc). Candidates from
    posting-list intersection; the in-order chain via sorted intersection
    of (candidate, position) composite keys — the key set after step i is
    exactly the positions of term i that can END a valid chain, so the
    sloppy generalization is the union of `keys + d` for d in
    [1, slop + 1] (token positions are < 2^31, so +d never crosses the
    slot boundary of the composite). No per-document loop."""
    from quickb_spark.query.wand import _intersect, _sum_topk

    hit = _intersect(structs, seq)
    if hit is None:
        return [], []
    cand, idx_of = hit
    keys = _candidate_pos_keys(structs[seq[0]], idx_of[seq[0]])
    for t in seq[1:]:
        if not len(keys):
            return [], []
        nxt = _candidate_pos_keys(structs[t], idx_of[t])
        if slop == 0:
            keys = np.intersect1d(keys + 1, nxt, assume_unique=True)
        else:
            keys = np.unique(
                np.concatenate(
                    [
                        np.intersect1d(keys + d, nxt, assume_unique=True)
                        for d in range(1, slop + 2)
                    ]
                )
            )
    if not len(keys):
        return [], []
    slots = np.unique(keys >> np.int64(32))
    return _sum_topk(structs, idx_of, cand[slots], k, slots)


class RangePlan(NamedTuple):
    """Everything a batch's range tasks need, planned in the driver.

    Term identity is the v4 int64 term_h throughout. `phrase_seqs`: qid ->
    ordered term_h sequence turns the batch into phrase retrieval (same
    BM25 scores, result set restricted to docs containing the terms in
    order with successive gaps <= slop + 1; slop=0 = exact phrase).
    `conj_seqs`: qid -> term_h list turns it into conjunctive (all-terms)
    retrieval. `extra`: term_h -> (docs, tfs, dls) doc-sorted postings
    that are not in `files` (the streaming delta tier); their doc ids must
    be disjoint from the segment files' and they carry no positions.
    `auto_ranges`: the caller left the fan-out to the engine, so a plan
    at or under wand.DRIVER_MAX_POSTINGS is served in the driver."""

    files: list[str]
    terms_by_query: dict[str, list[int]]
    dfs: dict[int, int]
    n_docs: int
    avgdl: float
    block_size: int
    k: int
    k1: float
    b: float
    r_count: int
    phrase_seqs: dict[str, list[int]] | None = None
    conj_seqs: dict[str, list[int]] | None = None
    slop: int = 0
    extra: dict[int, tuple] | None = None
    auto_ranges: bool = False

    def payloads(self) -> list[tuple[int, int, "RangePlan"]]:
        """One (lo, hi, plan) payload per docID range."""
        from quickb_spark.query.wand import _range_bounds

        return [(lo, hi, self) for _, lo, hi in _range_bounds(self.r_count)]


def _serve_range_task(payload):
    """One range's serving work: read candidate rows, slice via zero-copy
    views, build structs with the SHARED kernels, score the batch (or
    phrase-verify), return top-k tuples. Pure pyarrow/NumPy — nothing but
    these rows crosses the Python<->JVM boundary. Runs in a range task
    (`_range_job_task`) or, for a driver-path plan, in the driver."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quickb_spark.query.wand import (
        _build_struct,
        _conj_topk,
        _idf_of,
        _score_query_set,
    )

    lo, hi, plan = payload
    want_pos = plan.phrase_seqs is not None
    cols = _BASE_COLS + (_POS_COLS if want_pos else [])
    th_set = sorted(plan.dfs)
    th_arr = np.array(th_set, dtype=np.int64)
    parts: dict[int, list] = defaultdict(list)
    pos_parts: dict[int, list] = defaultdict(list)
    for path in plan.files:
        try:
            full = _cached_table(path, want_pos)
        except OSError:
            # non-local FS path (no os.stat): uncached, filter-pushed read
            full = pq.read_table(
                path, columns=cols, filters=[("term_h", "in", th_set)]
            )
        if not full.num_rows:
            continue
        th_col = full.column("term_h").to_numpy(zero_copy_only=False)
        mask = np.isin(th_col, th_arr)
        if not mask.any():
            continue
        tbl = full if mask.all() else full.filter(pa.array(mask))
        sliced = _slice_table(
            _RowView(tbl, want_pos), lo, hi, plan.block_size, want_pos
        )
        for term, d, t, dl, pp in sliced:
            parts[term].append((d, t, dl))
            if want_pos:
                pos_parts[term].append(pp)
    for term, (d, t, dl) in (plan.extra or {}).items():
        a = int(np.searchsorted(d, lo, "left"))
        z = int(np.searchsorted(d, hi, "right"))
        if a < z:
            parts[term].append((d[a:z], t[a:z], dl[a:z]))
    structs = {}
    for term in sorted(parts):
        s = _build_struct(
            parts[term], _idf_of(term, plan.dfs, plan.n_docs), plan.k1,
            plan.b, plan.avgdl,
        )
        if want_pos:
            lens = np.array([len(p[0]) for p in parts[term]], dtype=np.int64)
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            s["part_starts"] = starts
            s["pos_parts"] = pos_parts[term]
        structs[term] = s
    if want_pos:
        out = []
        for qid in sorted(plan.phrase_seqs):
            doc_ids, scores = _phrase_topk(
                structs, plan.phrase_seqs[qid], plan.k, plan.block_size,
                slop=plan.slop,
            )
            out.extend(
                (qid, int(d), float(s)) for d, s in zip(doc_ids, scores)
            )
        return out
    if plan.conj_seqs is not None:
        out = []
        for qid in sorted(plan.conj_seqs):
            doc_ids, scores = _conj_topk(structs, plan.conj_seqs[qid], plan.k)
            out.extend(
                (qid, int(d), float(s)) for d, s in zip(doc_ids, scores)
            )
        return out
    out_q, out_d, out_s = _score_query_set(
        structs, plan.terms_by_query, plan.k, plan.k1, plan.b, plan.avgdl
    )
    return list(zip(out_q, (int(d) for d in out_d), map(float, out_s)))


def _range_job_task(payload):
    """The range job's task body. `pa.set_cpu_count` is process-global,
    so it is set here, in the executor's worker (one core slot per task,
    see p1_direct._p1_task), never in the driver."""
    import pyarrow as pa

    pa.set_cpu_count(1)
    return _serve_range_task(payload)


class TopK(list):
    """Ranked `Row(query_id, rank, doc_id, score)` hits, already in the
    driver: ordered by query_id, then rank. `collect()`, `count()` and
    `toPandas()` read the list and run no Spark job; `toDF()` builds a
    DataFrame for callers that want one (a write, a join)."""

    SCHEMA = "query_id string, rank int, doc_id long, score double"
    _ROW = Row("query_id", "rank", "doc_id", "score")

    def __init__(self, rows=(), spark=None) -> None:
        super().__init__(self._ROW(*r) for r in rows)
        self._spark = spark

    def collect(self) -> list:
        return list(self)

    def count(self) -> int:
        return len(self)

    def toPandas(self):
        import pandas as pd

        return pd.DataFrame({
            "query_id": pd.Series([r[0] for r in self], dtype=object),
            "rank": np.array([r[1] for r in self], dtype=np.int32),
            "doc_id": np.array([r[2] for r in self], dtype=np.int64),
            "score": np.array([r[3] for r in self], dtype=np.float64),
        })

    def toDF(self):
        return self._spark.createDataFrame(list(self), self.SCHEMA)


def serve_topk_direct(spark, plan: RangePlan) -> TopK:
    """Score a plan -> TopK rows, then the exact driver-side merge.

    An auto-ranged plan of at most wand.DRIVER_MAX_POSTINGS candidate
    postings runs `_serve_range_task` in the driver over one payload that
    covers the whole doc space: no Spark job, whose fixed dispatch cost
    would exceed the scoring work. Every other plan runs one Spark job of
    `plan.r_count` range tasks. Both give the same rows (ranges partition
    the doc space; tested for every R). The driver path reads the files
    the driver listed with pyarrow (Searcher._files_for), through this
    process's decoded-table cache and the host-shared one."""
    from quickb_spark.query import wand

    if plan.auto_ranges and sum(plan.dfs.values()) <= wand.DRIVER_MAX_POSTINGS:
        chunks = [
            _serve_range_task(p) for p in plan._replace(r_count=1).payloads()
        ]
    else:
        payloads = plan.payloads()
        sc = spark.sparkContext
        with job_description(sc, "qkb serve: range top-k"):
            chunks = sc.parallelize(payloads, len(payloads)).map(
                _range_job_task
            ).collect()
    # exact driver-side merge: ranges partition the doc space, so each doc
    # appears in exactly one range's partial top-k; per query keep the k
    # best by (score desc, doc asc) and rank them
    per_q: dict[str, list[tuple[float, int]]] = defaultdict(list)
    for chunk in chunks:
        for qid, doc, score in chunk:
            per_q[qid].append((score, doc))
    rows = []
    for qid in sorted(per_q):
        cands = sorted(per_q[qid], key=lambda t: (-t[0], t[1]))[:plan.k]
        rows.extend(
            (qid, rank, doc, score)
            for rank, (score, doc) in enumerate(cands, start=1)
        )
    return TopK(rows, spark)
