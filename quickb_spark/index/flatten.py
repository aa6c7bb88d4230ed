"""Chunk tokenize kernel for the chunks= build: pre-chunked text -> flat
postings in ONE Arrow crossing.

`build_index(chunks=...)` takes text the caller already chunked (doc_id
minted JVM-side by chunking.udf, xxhash64(repo, path, commit, chunk_idx)),
so this pandas UDF only tokenizes. Documents go through the direct engine
instead (index/p1_direct.py), which never crosses the Arrow channel.

Emit shape (the 100x-scale cost lesson): Python emits ONE row per CHUNK —
(terms[], tfs[], position byte-ranges[], one position stream) — not one row
per posting. Building tens of millions of per-posting Python tuples cost
more than the tokenize itself; the per-posting fan-out happens JVM-side
(posexplode over arrays_zip, whole-stage codegen). Token positions are
delta+varbyte encoded HERE, once, vectorized across the whole Arrow batch
(quickb_spark.index.encode.varbyte_encode), and flow through the shuffle as
compact binary slices: the segment encoder just concatenates them — the
stream format is already exactly encode_posting_list's pos_stream (absolute
first position per posting, deltas after).
"""

from __future__ import annotations

import re
from collections import defaultdict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from quickb_spark.config import TOKEN_PATTERN
from quickb_spark.index.encode import varbyte_encode, varbyte_lengths

__all__ = ["flat_postings_from_chunks"]

_TOKEN_RE = re.compile(TOKEN_PATTERN)

_CHUNK_STRUCT = StructType(
    [
        StructField("chunk_idx", IntegerType()),
        StructField("doc_len", IntegerType()),
        StructField("terms", ArrayType(StringType())),
        StructField("tfs", ArrayType(IntegerType())),
        # byte ranges of each posting's delta-varbyte positions inside ps
        StructField("po", ArrayType(IntegerType())),
        StructField("pl", ArrayType(IntegerType())),
        StructField("ps", BinaryType()),
    ]
)

_FLAT_SCHEMA = ArrayType(_CHUNK_STRUCT)


class _BatchAccumulator:
    """Accumulates per-chunk token stats across an Arrow batch and performs
    ONE vectorized varbyte encode of all token positions at flush time
    (per-chunk varbyte calls would be fixed-overhead-dominated)."""

    def __init__(self) -> None:
        self.chunk_meta: list[tuple] = []  # (row, chunk_idx, doc_len, terms, tfs)
        self.flat_pos: list[int] = []
        self.posting_tfs: list[int] = []

    def add_chunk(self, row: int, chunk_idx: int, toks: list[str]) -> None:
        pos: dict[str, list[int]] = defaultdict(list)
        for i, t in enumerate(toks):
            pos[t].append(i)
        if not pos:
            return
        terms = list(pos.keys())
        tfs = [len(pos[t]) for t in terms]
        for t in terms:
            self.flat_pos.extend(pos[t])
        self.posting_tfs.extend(tfs)
        self.chunk_meta.append((row, chunk_idx, len(toks), terms, tfs))

    def flush(self, n_rows: int) -> list[list[tuple]]:
        """-> per input row: list of chunk-struct tuples."""
        out: list[list[tuple]] = [[] for _ in range(n_rows)]
        if not self.chunk_meta:
            return out
        flat = np.asarray(self.flat_pos, dtype=np.int64)
        tf_arr = np.asarray(self.posting_tfs, dtype=np.int64)
        starts = np.zeros(len(tf_arr), dtype=np.int64)
        np.cumsum(tf_arr[:-1], out=starts[1:])
        deltas = np.empty_like(flat)
        deltas[0] = flat[0]
        np.subtract(flat[1:], flat[:-1], out=deltas[1:])
        deltas[starts] = flat[starts]  # absolute reset at each posting start
        dv = deltas.view(np.uint64)
        buf = varbyte_encode(dv)
        # byte offset/length per posting
        per_val = varbyte_lengths(dv)
        post_len = np.add.reduceat(per_val, starts) if len(starts) else per_val
        post_off = np.zeros(len(post_len), dtype=np.int64)
        np.cumsum(post_len[:-1], out=post_off[1:])
        p = 0
        for row, ci, dl, terms, tfs in self.chunk_meta:
            k = len(terms)
            offs = post_off[p : p + k]
            lens = post_len[p : p + k]
            base = int(offs[0])
            out[row].append(
                (
                    ci,
                    dl,
                    terms,
                    tfs,
                    (offs - base).tolist(),
                    lens.tolist(),
                    bytes(buf[base : base + int(lens.sum())]),
                )
            )
            p += k
        return out


def _chunked_udf():
    """Per-row (pre-chunked text) variant: one chunk struct per input row."""

    @F.pandas_udf(_FLAT_SCHEMA)
    def _flat(text: pd.Series) -> pd.Series:
        acc = _BatchAccumulator()
        for row, c in enumerate(text):
            if not c:
                continue
            acc.add_chunk(row, 0, _TOKEN_RE.findall(c.lower()))
        return pd.Series(acc.flush(len(text)))

    return _flat


def _explode_chunks(df: DataFrame, doc_id_col) -> DataFrame:
    """chunk structs -> per-posting rows, all JVM-side (codegen): posexplode
    over zipped arrays + substring slicing of the position stream."""
    z = df.select(
        doc_id_col.alias("doc_id"),
        F.col("c.doc_len").cast("long").alias("doc_len"),
        F.col("c.ps").alias("ps"),
        F.posexplode(
            F.arrays_zip(
                F.col("c.terms").alias("t"),
                F.col("c.tfs").alias("f"),
                F.col("c.po").alias("o"),
                F.col("c.pl").alias("l"),
            )
        ).alias("i", "p"),
    )
    return z.select(
        F.col("p.t").alias("term"),
        "doc_id",
        F.col("p.f").alias("tf"),
        F.expr("substring(ps, p.o + 1, p.l)").alias("pos_vb"),
        "doc_len",
        F.when(F.col("i") == 0, F.lit(1)).otherwise(F.lit(0)).alias("first"),
    )


def flat_postings_from_chunks(
    chunks: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Pre-chunked (doc_id, text) -> (term, doc_id, tf, pos_vb, doc_len,
    first) flat postings (used when the caller chunked with chunking.udf);
    `first` is 1 on each chunk's first posting."""
    udf = _chunked_udf()
    c = chunks.select(
        F.col(id_col).alias("_did"),
        F.explode(udf(F.col(text_col))).alias("c"),
    )
    return _explode_chunks(c, F.col("_did"))
