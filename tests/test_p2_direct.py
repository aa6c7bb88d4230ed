"""Phase-2 vectorized encoder vs the reference per-list codec.

The build encodes every (term_h, salt) group of a bucket in whole-input
vectorized passes (index/p2_direct.encode_sorted_groups). The reference
codec encodes one posting list at a time (index/encode.encode_posting_list).
Every segment row must be BYTE-IDENTICAL to the reference encoding of its
decoded postings — streams, block metadata and offsets — or the query
path's lazy block-sliced decode would silently skew.
"""

from __future__ import annotations

import numpy as np

from quickb_spark.chunking.udf import chunk_documents
from quickb_spark.config import EngineConfig, IndexConfig
from quickb_spark.corpus import fixture_queries, generate_documents_df
from quickb_spark.index.encode import (
    decode_positions,
    decode_posting_list,
    encode_posting_list,
)
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

_STREAMS = ["doc_stream", "tf_stream", "dl_stream", "pos_stream"]
_BLOCKS = [
    "block_last_doc", "block_max_tf", "block_min_dl",
    "block_doc_off", "block_tf_off", "block_dl_off", "block_pos_off",
]


def test_segment_rows_byte_identical_to_reference_encoder(spark, tmp_path):
    """Decode every segment row of a build and re-encode its postings with
    the reference encode_posting_list: every stream and block list is
    ==, and df_part/cf_part match the postings."""
    chunks = chunk_documents(
        generate_documents_df(spark, 220, seed=11, partitions=4), CFG
    )
    idx = str(tmp_path / "idx")
    build_index(spark, index_dir=idx, cfg=CFG, chunks=chunks)
    bs = CFG.index.block_size
    rows = spark.read.parquet(f"{idx}/segments").collect()
    assert len(rows) > 500
    assert max(r["df_part"] for r in rows) > 2 * bs, "no multi-block list"
    for r in rows:
        n = int(r["df_part"])
        dids, tfs, dls = decode_posting_list(
            bytes(r["doc_stream"]), bytes(r["tf_stream"]), n,
            bytes(r["dl_stream"]), bs,
        )
        ref = encode_posting_list(
            dids, tfs, dls,
            positions=decode_positions(bytes(r["pos_stream"]), tfs),
            block_size=bs,
        )
        assert ref["n_docs"] == n and int(r["cf_part"]) == int(tfs.sum())
        for c in _STREAMS:
            assert bytes(r[c]) == bytes(ref[c]), (r["term_h"], c)
        for c in _BLOCKS:
            assert list(r[c]) == list(ref[c]), (r["term_h"], c)

    # and the serving path answers from it
    qdf = spark.createDataFrame(fixture_queries()[:8], ["query_id", "query_text"])
    assert bm25_topk_segments(spark, idx, qdf, k=5).count() > 0


def test_direct_handles_gaps_over_2_63():
    """Adjacent doc_ids whose gap exceeds 2^63 (routine for df<=3 posting
    lists — xxhash64 ids are uniform over the whole int64 range) must not
    trip the sortedness check: np.diff on raw int64 overflows there, the
    u64-comparison form does not. Streams must stay byte-identical to the
    per-group encoder."""
    from quickb_spark.index.p2_direct import encode_sorted_groups

    doc_ids = np.array([-(2**62) - 5, 2**62 + 7], dtype=np.int64)  # gap > 2^63
    pos = b"\x01\x02\x05"
    tbl, n_groups, max_salt = encode_sorted_groups(
        np.array([123456789, 123456789], dtype=np.int64),
        np.zeros(2, dtype=np.int32),
        doc_ids,
        np.array([2, 1], dtype=np.int64),
        np.array([10, 20], dtype=np.int64),
        np.array([0, 2, 3], dtype=np.int64),
        pos,
        128, True, "test",
    )
    assert n_groups == 1 and max_salt == 0
    row = tbl.to_pylist()[0]
    assert row["df_part"] == 2
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
