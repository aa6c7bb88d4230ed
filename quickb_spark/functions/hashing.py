"""Pure-Python xxHash64, bit-identical to Spark's `F.xxhash64` (seed 42).

Spark's XxHash64 expression hashes a string column's UTF-8 bytes with the
public XXH64 algorithm (xxHash by Yann Collet, BSD-2; Spark ships its own
Java port in `org.apache.spark.sql.catalyst.expressions.XXH64`). Having the
same function driver-side lets the Searcher compute term -> bucket pruning
literals with ZERO Spark jobs per query batch: `bucket =
pmod(xxhash64(term), n_buckets)` becomes plain Python. Bit-identity with
the JVM implementation is asserted in tests/test_searcher.py over ASCII,
unicode, empty and long inputs.
"""

from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxhash64(data: bytes | str, seed: int = 42) -> int:
    """XXH64 of `data` -> SIGNED int64, matching Spark's F.xxhash64 for a
    single string/binary column (Spark's default seed is 42)."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def bucket_of(term: str, n_buckets: int) -> int:
    """Driver-side term bucket: pmod(xxhash64(term), n), as every build
    path buckets term_h."""
    return xxhash64(term) % n_buckets
