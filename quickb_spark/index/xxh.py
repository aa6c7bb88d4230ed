"""Vectorized + chained xxHash64, bit-identical to Spark's `F.xxhash64`.

The direct phase-1 build tasks (index/p1_direct.py) mint doc_ids and term
hashes in Python but MUST produce the same values as the JVM expressions
of chunking.udf.chunk_documents (whose doc_ids a `chunks=` build keeps)
and of Spark-side readers of the index:

  doc_id = F.xxhash64("repo", "path", "commit", chunk_idx)   (strings + int)
  term_h = F.xxhash64("term")                                 (string)
  split  = F.pmod(F.xxhash64("term_h"), nsplits)               (long)

(the last is phase 2's term split of a big bucket, index/p2_direct.py).

Spark's XxHash64 expression (`org.apache.spark.sql.catalyst.expressions.
XXH64`, a Java port of Yann Collet's public XXH64, seed 42) chains multiple
columns by feeding each column's hash in as the next column's seed; int
columns hash their 4 little-endian bytes, longs their 8, strings their
UTF-8 bytes. `functions.hashing.xxhash64` already provides the scalar
byte-path; this module adds

  hash_long_array   vectorized XXH64 of an int64 numpy array (the 8-byte
                    specialization — pure numpy, ~1e8 hashes/sec)
  hash_int_tail     vectorized XXH64 of an int32 array with per-element
                    seeds (the trailing chunk_idx column of the doc_id
                    chain, seeded by the per-file string-prefix hash)
  chain_strings     scalar chained hash of the (repo, path, commit) prefix

Bit-identity with the JVM is asserted in tests/test_p1_direct.py over
strings, ints, longs and the full 4-column doc_id chain.
"""

from __future__ import annotations

import numpy as np

from quickb_spark.functions.hashing import xxhash64 as _xxh_bytes

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)

__all__ = ["hash_long_array", "hash_int_tail", "chain_strings", "hash_bytes_vec"]


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    h = h ^ (h >> np.uint64(32))
    return h


def hash_long_array(vals: np.ndarray, seed: int = 42) -> np.ndarray:
    """XXH64 of each int64 (Spark's hashLong path: the 8-LE-byte input),
    -> int64 array. `seed` is a scalar (Spark's default 42)."""
    v = vals.astype(np.int64, copy=False).view(np.uint64)
    with np.errstate(over="ignore"):
        h = np.uint64(np.uint64(seed & (2**64 - 1)) + _P5 + np.uint64(8))
        h = h ^ (_rotl(v * _P2, 31) * _P1)
        h = _rotl(h, 27) * _P1 + _P4
        return _fmix(h).view(np.int64)


def hash_int_tail(ints: np.ndarray, seeds: np.ndarray) -> np.ndarray:
    """XXH64 of each int32 (Spark's hashInt path: 4 LE bytes) with a
    PER-ELEMENT seed — the last link of a chained multi-column hash.
    -> int64 array."""
    i32 = ints.astype(np.int64, copy=False) & np.int64(0xFFFFFFFF)
    u = i32.view(np.uint64)
    s = seeds.astype(np.int64, copy=False).view(np.uint64)
    with np.errstate(over="ignore"):
        h = s + _P5 + np.uint64(4)
        h = h ^ (u * _P1)
        h = _rotl(h, 23) * _P2 + _P3
        return _fmix(h).view(np.int64)


def _round_vec(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    return _rotl(acc + lane * _P2, 31) * _P1


def hash_bytes_vec(datas: list[bytes], seeds=42) -> np.ndarray:
    """Vectorized XXH64 over a batch of VARIABLE-LENGTH byte strings with
    scalar or per-element seeds -> int64 array, bit-identical to
    functions.hashing.xxhash64 (asserted in tests/test_p1_direct.py).

    The scalar pure-Python hash costs ~25us per call; at two chained calls
    per document (path, commit) that is real build time. Here the batch is
    padded into one (n, P) byte matrix and every XXH64 step runs as masked
    numpy ops: stripes/tails shorter rows don't have are computed on
    garbage lanes and discarded by np.where — arithmetic is cheaper than
    branching. Memory is n*P bytes (P = padded max length), so callers
    batch ~2k short strings at a time."""
    n = len(datas)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    lens = np.fromiter((len(d) for d in datas), np.int64, n)
    max_len = int(lens.max())
    P = max(32, ((max_len + 7) // 8) * 8)
    mat = np.zeros((n, P), dtype=np.uint8)
    mask = np.arange(P) < lens[:, None]
    mat[mask] = np.frombuffer(b"".join(datas), dtype=np.uint8)
    u64 = mat.view(np.uint64)  # (n, P//8) little-endian lanes
    u32 = mat.view(np.uint32)
    s = (
        np.broadcast_to(np.asarray(seeds, dtype=np.int64), (n,))
        .astype(np.int64)
        .view(np.uint64)
    )
    rows = np.arange(n)
    ln = lens.view(np.uint64)
    with np.errstate(over="ignore"):
        h = s + _P5
        big = lens >= 32
        if big.any():
            v1 = s + _P1 + _P2
            v2 = s + _P2
            v3 = s.copy()
            v4 = s - _P1
            for k in range(max_len // 32):
                act = lens >= 32 * (k + 1)
                b = 4 * k
                v1 = np.where(act, _round_vec(v1, u64[:, b]), v1)
                v2 = np.where(act, _round_vec(v2, u64[:, b + 1]), v2)
                v3 = np.where(act, _round_vec(v3, u64[:, b + 2]), v3)
                v4 = np.where(act, _round_vec(v4, u64[:, b + 3]), v4)
            hb = _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
            z = np.zeros(n, dtype=np.uint64)
            for v in (v1, v2, v3, v4):
                hb = (hb ^ _round_vec(z, v)) * _P1 + _P4
            h = np.where(big, hb, h)
        h = h + ln
        base = (lens // 32) * 32
        z = np.zeros(n, dtype=np.uint64)
        for k in range(3):  # <=3 8-byte tail lanes (rem < 32)
            act = (lens - base) >= 8 * (k + 1)
            if not act.any():
                break
            off = np.minimum((base + 8 * k) // 8, P // 8 - 1)
            nh = h ^ _round_vec(z, u64[rows, off])
            h = np.where(act, _rotl(nh, 27) * _P1 + _P4, h)
        done = base + ((lens - base) // 8) * 8
        act = (lens - done) >= 4
        off4 = np.minimum(done // 4, P // 4 - 1)
        nh = h ^ (u32[rows, off4].astype(np.uint64) * _P1)
        h = np.where(act, _rotl(nh, 23) * _P2 + _P3, h)
        done = done + np.where(act, 4, 0)
        for k in range(3):  # <=3 single tail bytes (rem < 4)
            act = (lens - done) >= k + 1
            if not act.any():
                break
            off = np.minimum(done + k, P - 1)
            nh = h ^ (mat[rows, off].astype(np.uint64) * _P5)
            h = np.where(act, _rotl(nh, 11) * _P1, h)
        return _fmix(h).view(np.int64)


def chain_strings(parts: tuple[str, ...], seed: int = 42) -> int:
    """Chained XXH64 over string columns (each hash seeds the next), the
    Spark multi-column convention. -> signed int64."""
    h = seed
    for p in parts:
        h = _xxh_bytes(p, seed=h & (2**64 - 1))
    return h
