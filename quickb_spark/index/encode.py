"""Posting-list compression: delta-gap + varbyte, with block-max metadata.

Pure NumPy kernels (no Spark imports): the reference codec the phase-2
merge tasks are held byte-identical to (p2_direct.encode_sorted_groups),
the varbyte codec phase 1 and the serving decode share, and the block-max
metadata the scorer rebuilds at query time. Fully vectorized: the varbyte
encoder emits all 10 potential byte planes of the uint64 stream with masks
(no per-value Python loop); the decoder scans continuation bits with
cumulative masks.

Layout per (term, salt) posting list:
  doc stream   varbyte(gaps of order-preserving uint64-mapped docIDs)
  tf stream    varbyte(tf values)
  dl stream    varbyte(doc lengths) — inlining dl makes query-time scoring
               join-free (no doc-length broadcast table, which could not
               broadcast at 10^12 docs); costs ~1-2 bytes/posting
  pos stream   varbyte(per-doc delta-encoded token positions), lengths = tf
  block meta   per block of `block_size` docs:
                 last_doc  (skip pointer for WAND)
                 max_tf    (upper-bounds the tf saturation term)
                 min_dl    (lower-bounds the length normalizer)
               max_tf+min_dl give a correct BM25 upper bound per block:
               score ≤ idf·S(max_tf, min_dl), since BM25 is increasing in tf
               and decreasing in dl.

Signed docIDs (xxhash64) map to uint64 by flipping the sign bit
(two's-complement → offset-binary), which preserves sort order, so gaps are
always ≥1 for strictly increasing ids.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "to_u64",
    "from_u64",
    "varbyte_encode",
    "varbyte_decode",
    "varbyte_lengths",
    "encode_posting_list",
    "decode_posting_list",
    "block_meta",
]

_SIGN = np.uint64(0x8000000000000000)


def to_u64(doc_ids: np.ndarray) -> np.ndarray:
    """int64 -> order-preserving uint64."""
    return doc_ids.astype(np.int64).view(np.uint64) ^ _SIGN


def from_u64(u: np.ndarray) -> np.ndarray:
    """uint64 -> original int64."""
    return (u ^ _SIGN).view(np.int64)


def varbyte_encode(values: np.ndarray, lens: np.ndarray | None = None) -> bytes:
    """LEB128-style varbyte for a uint64 array, vectorized. `lens` may pass
    a precomputed varbyte_lengths(values) to avoid recomputing it.

    7 payload bits per byte, continuation bit 0x80 on all but the last byte
    of each value.

    Writes each byte plane only for the values that still NEED it (the
    active set shrinks every plane): posting streams are dominated by 1-2
    byte values, so this does ~1.3n byte writes instead of materializing
    all 10 planes plus a 20n-byte masked transpose (measured 4-6x on the
    segment encode, which is varbyte-bound)."""
    v = values.astype(np.uint64, copy=False)
    n = len(v)
    if n == 0:
        return b""
    if lens is None:
        lens = varbyte_lengths(v)
    out = np.empty(int(lens.sum()), dtype=np.uint8)
    off = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=off[1:])
    j = 0
    while len(v):
        cont = lens > j + 1
        out[off + j] = (v & np.uint64(0x7F)).astype(np.uint8) | (
            cont.astype(np.uint8) << 7
        )
        v = v[cont] >> np.uint64(7)
        off = off[cont]
        lens = lens[cont]
        j += 1
    return out.tobytes()


def varbyte_decode(buf: bytes, count: int) -> np.ndarray:
    """Decode `count` uint64 values from a varbyte stream, vectorized."""
    if count == 0:
        return np.empty(0, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    is_final = (raw & 0x80) == 0
    # index of the value each byte belongs to = #finals strictly before it
    value_idx = np.zeros(len(raw), dtype=np.int64)
    np.cumsum(is_final[:-1], out=value_idx[1:])
    # position of the byte within its value
    starts = np.zeros(len(raw), dtype=bool)
    starts[0] = True
    starts[1:] = is_final[:-1]
    byte_pos = np.arange(len(raw)) - np.maximum.accumulate(
        np.where(starts, np.arange(len(raw)), 0)
    )
    out = np.zeros(count, dtype=np.uint64)
    np.add.at(
        out,
        value_idx,
        (raw & np.uint8(0x7F)).astype(np.uint64) << (np.uint64(7) * byte_pos.astype(np.uint64)),
    )
    return out


def varbyte_lengths(vals: np.ndarray) -> np.ndarray:
    """Bytes varbyte_encode emits per value (1 + one per extra 7-bit plane).
    Lets callers compute byte offsets into a stream without re-scanning it
    (per-posting position slices in index/p1_direct.py; per-block stream
    offsets for lazy query-time decode)."""
    v = vals.astype(np.uint64, copy=False)
    return 1 + np.searchsorted(_VB_THRESHOLDS, v, side="right")


#: smallest value needing k+1 varbyte bytes, k = 1..9
_VB_THRESHOLDS = np.array([1 << (7 * k) for k in range(1, 10)], dtype=np.uint64)


def block_meta(
    doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray, block_size: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-block (last_doc, max_tf, min_dl) for block-max WAND."""
    n = len(doc_ids)
    if not n:
        return tuple(np.empty(0, dtype=np.int64) for _ in range(3))
    starts = np.arange(0, n, block_size)
    last = np.minimum(starts + block_size, n) - 1
    return (
        np.asarray(doc_ids)[last].astype(np.int64, copy=False),
        np.maximum.reduceat(tfs, starts).astype(np.int64, copy=False),
        np.minimum.reduceat(dls, starts).astype(np.int64, copy=False),
    )


def encode_posting_list(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    positions: list | None = None,
    block_size: int = 128,
    pos_vb: list | None = None,
) -> dict:
    """Encode one sorted posting list. Returns the segment-row payload.

    The reference codec: the build encodes whole buckets at once with
    p2_direct.encode_sorted_groups, which the tests hold byte-identical to
    this per-list form (tests/test_p2_direct.py).

    Positions come in one of two forms: `positions` (per-posting int arrays,
    delta+varbyte encoded here) or `pos_vb` (per-posting ALREADY-varbyte
    byte slices, as phase 1 writes them into the runs; the streams are
    simply concatenated in doc order, identical format).

    The doc-gap delta RESETS to an absolute value at every block start, and
    per-block BYTE offsets into the three streams are returned — together
    they make any block-aligned sub-range of the list independently
    decodable, which is what lets a range task read and decode only the
    blocks of its docID range instead of a whole hot posting list.
    """
    order = np.argsort(doc_ids, kind="stable")
    doc_ids = np.asarray(doc_ids, dtype=np.int64)[order]
    tfs = np.asarray(tfs, dtype=np.int64)[order]
    dls = np.asarray(dls, dtype=np.int64)[order]
    n = len(doc_ids)
    u = to_u64(doc_ids)
    gaps = np.empty_like(u)
    if n:
        gaps[0] = u[0]
        np.subtract(u[1:], u[:-1], out=gaps[1:])
        bstarts = np.arange(0, n, block_size, dtype=np.int64)
        gaps[bstarts] = u[bstarts]  # absolute reset per block
    doc_stream = varbyte_encode(gaps)
    tfs_u = tfs.astype(np.uint64)
    dls_u = dls.astype(np.uint64)
    tf_stream = varbyte_encode(tfs_u)
    dl_stream = varbyte_encode(dls_u)
    if n:
        def _offsets(vals_u: np.ndarray) -> list[int]:
            per = varbyte_lengths(vals_u)
            return np.concatenate(
                ([0], np.cumsum(per)[bstarts[1:] - 1])
            ).tolist()

        block_doc_off = _offsets(gaps)
        block_tf_off = _offsets(tfs_u)
        block_dl_off = _offsets(dls_u)
    else:
        block_doc_off = block_tf_off = block_dl_off = []
    # per-POSTING position stream byte lengths: per-block byte offsets into
    # pos_stream (block_pos_off, format v5) make block-aligned pos slices
    # independently decodable — the phrase query path depends on this
    pos_lens = np.zeros(n, dtype=np.int64)
    pos_stream = b""
    if pos_vb is not None and len(doc_ids):
        pos_stream = b"".join(pos_vb[i] for i in order)
        pos_lens = np.array([len(pos_vb[i]) for i in order], dtype=np.int64)
    elif positions is not None and len(doc_ids):
        # per-doc delta-encoded positions, vectorized: one global diff with
        # absolute resets at each doc boundary (lengths are the tf values)
        flat = np.concatenate(
            [np.asarray(positions[i], dtype=np.int64) for i in np.asarray(order)]
        ) if len(order) else np.empty(0, dtype=np.int64)
        if len(flat):
            deltas = np.empty_like(flat)
            deltas[0] = flat[0]
            np.subtract(flat[1:], flat[:-1], out=deltas[1:])
            starts = np.cumsum(tfs)[:-1]
            deltas[starts] = flat[starts]
            dv = deltas.view(np.uint64)
            per_val = varbyte_lengths(dv)
            pos_stream = varbyte_encode(dv, per_val)
            vstarts = np.zeros(n, dtype=np.int64)
            np.cumsum(tfs[:-1], out=vstarts[1:])
            pos_lens = np.add.reduceat(per_val, vstarts)
            pos_lens[tfs == 0] = 0
    if n:
        block_pos_off = np.concatenate(
            ([0], np.cumsum(pos_lens)[bstarts[1:] - 1])
        ).tolist()
    else:
        block_pos_off = []
    last_doc, max_tf, min_dl = block_meta(doc_ids, tfs, dls, block_size)
    return {
        "n_docs": int(len(doc_ids)),
        "doc_stream": doc_stream,
        "tf_stream": tf_stream,
        "dl_stream": dl_stream,
        "pos_stream": pos_stream,
        "block_last_doc": last_doc.tolist(),
        "block_max_tf": max_tf.tolist(),
        "block_min_dl": min_dl.tolist(),
        "block_doc_off": block_doc_off,
        "block_tf_off": block_tf_off,
        "block_dl_off": block_dl_off,
        "block_pos_off": block_pos_off,
    }


def decode_posting_list(
    doc_stream: bytes,
    tf_stream: bytes,
    n_docs: int,
    dl_stream: bytes | None = None,
    block_size: int = 128,
):
    """-> (doc_ids int64 sorted ascending, tfs int64[, dls int64]).

    Works on the full stream OR any block-aligned slice of it (the gap
    stream resets to an absolute value at every block start; `n_docs` is
    the number of postings in the slice)."""
    gaps = varbyte_decode(doc_stream, n_docs)
    c = np.cumsum(gaps, dtype=np.uint64)
    starts = np.arange(0, n_docs, block_size, dtype=np.int64)
    if len(starts) > 1:
        # segmented cumsum: u[i] = c[i] - c[start_of_block(i) - 1]
        reps = np.diff(np.append(starts, n_docs))
        carry = np.repeat(np.concatenate(([np.uint64(0)], c[starts[1:] - 1])), reps)
        u = c - carry
    else:
        u = c
    tfs = varbyte_decode(tf_stream, n_docs).view(np.int64)
    if dl_stream is None:
        return from_u64(u), tfs
    dls = varbyte_decode(dl_stream, n_docs).view(np.int64)
    return from_u64(u), tfs, dls


def decode_positions(
    pos_stream: bytes, tfs: np.ndarray
) -> list[np.ndarray]:
    """-> list of absolute-position arrays aligned with the doc order."""
    total = int(np.sum(tfs))
    flat = varbyte_decode(pos_stream, total).view(np.int64)
    out = []
    off = 0
    for tf in tfs:
        d = flat[off : off + int(tf)]
        out.append(np.cumsum(d))
        off += int(tf)
    return out
