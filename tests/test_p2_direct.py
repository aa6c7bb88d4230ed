"""Direct (vectorized pyarrow) phase-2 encoder vs the in-channel encoder.

The direct path re-implements the segment encode as whole-file vectorized
passes (index/p2_direct.py); the channel path runs the original per-group
encoder (index/segments.py _partition_encoder -> encode.encode_posting_list).
Both must produce BYTE-IDENTICAL segment rows — streams, block metadata and
offsets — or the query path's lazy block-sliced decode would silently skew.
Both encode the complete-group checkpoint a chunks= build writes.
"""

from __future__ import annotations

import os

import pytest

from quickb_spark.chunking.udf import chunk_documents
from quickb_spark.config import EngineConfig, IndexConfig
from quickb_spark.corpus import fixture_queries, generate_documents_df
from quickb_spark.index.segments import build_index
from quickb_spark.query.wand import bm25_topk_segments

CFG = EngineConfig(
    index=IndexConfig(
        hot_term_doc_fraction=0.2,
        hot_term_min_df=50,
        salt_buckets=4,
        block_size=32,
        term_buckets=16,
    )
)

_KEY = ["term_h", "salt"]
_PAYLOAD = [
    "df_part", "cf_part", "doc_stream", "tf_stream", "dl_stream",
    "pos_stream", "block_last_doc", "block_max_tf", "block_min_dl",
    "block_doc_off", "block_tf_off", "block_dl_off", "block_pos_off",
    "bucket",
]


def _rows(spark, idx):
    rows = (
        spark.read.parquet(f"{idx}/segments")
        .select(*_KEY, *_PAYLOAD)
        .collect()
    )
    return sorted(
        (tuple(r[k] for k in _KEY), tuple(map(str, (r[k] for k in _PAYLOAD))))
        for r in rows
    )


def test_direct_vs_channel_byte_identity(spark, tmp_path):
    chunks = chunk_documents(
        generate_documents_df(spark, 220, seed=11, partitions=4), CFG
    )
    ia, ib = str(tmp_path / "direct"), str(tmp_path / "channel")
    build_index(spark, index_dir=ia, cfg=CFG, chunks=chunks)
    os.environ["QKB_P2_CHANNEL"] = "1"
    try:
        build_index(spark, index_dir=ib, cfg=CFG, chunks=chunks)
    finally:
        del os.environ["QKB_P2_CHANNEL"]

    a, b = _rows(spark, ia), _rows(spark, ib)
    assert len(a) == len(b) > 0
    assert a == b

    # and the serving path agrees end to end
    qdf = spark.createDataFrame(fixture_queries()[:8], ["query_id", "query_text"])
    ra = sorted(map(tuple, bm25_topk_segments(spark, ia, qdf, k=5).collect()))
    rb = sorted(map(tuple, bm25_topk_segments(spark, ib, qdf, k=5).collect()))
    assert ra == rb


def test_direct_handles_gaps_over_2_63(tmp_path):
    """Adjacent doc_ids whose gap exceeds 2^63 (routine for df<=3 posting
    lists — xxhash64 ids are uniform over the whole int64 range) must not
    trip the sortedness check: np.diff on raw int64 overflows there, the
    u64-comparison form does not. Streams must stay byte-identical to the
    per-group encoder."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quickb_spark.index.encode import decode_posting_list, encode_posting_list
    from quickb_spark.index.p2_direct import _encode_one_file, pyarrow_fs_for

    doc_ids = np.array([-(2**62) - 5, 2**62 + 7], dtype=np.int64)  # gap > 2^63
    tbl = pa.table(
        {
            "term_h": pa.array([123456789, 123456789], type=pa.int64()),
            "salt": pa.array([0, 0], type=pa.int32()),
            "doc_id": pa.array(doc_ids, type=pa.int64()),
            "tf": pa.array([2, 1], type=pa.int64()),
            "doc_len": pa.array([10, 20], type=pa.int64()),
            "pos_vb": pa.array([b"\x01\x02", b"\x05"], type=pa.binary()),
        }
    )
    src_dir = tmp_path / "flat" / "bucket=0"
    src_dir.mkdir(parents=True)
    src = str(src_dir / "part-00000.parquet")
    pq.write_table(tbl, src)
    fsys, _ = pyarrow_fs_for(str(tmp_path))
    out = _encode_one_file(
        fsys, fsys, src, 0, str(tmp_path / "segments"), 128, True
    )
    assert out["n_groups"] == 1 and out["n_postings"] == 2
    seg = pq.read_table(str(tmp_path / "segments" / "bucket=0" / "part-00000.parquet"))
    row = seg.to_pylist()[0]
    ref = encode_posting_list(
        doc_ids, np.array([2, 1]), np.array([10, 20]),
        pos_vb=[b"\x01\x02", b"\x05"], block_size=128,
    )
    assert row["doc_stream"] == ref["doc_stream"]
    assert row["pos_stream"] == ref["pos_stream"]
    d, t = decode_posting_list(row["doc_stream"], row["tf_stream"], 2, block_size=128)
    assert d.tolist() == doc_ids.tolist()


def test_direct_no_positions(spark, tmp_path):
    cfg = EngineConfig(
        index=IndexConfig(
            hot_term_doc_fraction=0.2, hot_term_min_df=50, salt_buckets=4,
            block_size=32, term_buckets=16, store_positions=False,
        )
    )
    docs = generate_documents_df(spark, 80, seed=3, partitions=2)
    idx = str(tmp_path / "nopos")
    build_index(spark, index_dir=idx, cfg=cfg, documents=docs)
    seg = spark.read.parquet(f"{idx}/segments")
    assert seg.count() > 0
    assert seg.filter("length(pos_stream) > 0").count() == 0
    qdf = spark.createDataFrame(fixture_queries()[:4], ["query_id", "query_text"])
    assert bm25_topk_segments(spark, idx, qdf, k=5).count() > 0
