"""Property tests: delta+varbyte round-trip identity and block-max soundness
(SURVEY.md §5 item 5; FIXTURES.md §5). Seeded-random sweeps + a small
hypothesis pass (hypothesis list generation dominates runtime, so the broad
coverage comes from numpy-seeded cases)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from quickb_spark.index.encode import (
    decode_posting_list,
    decode_positions,
    encode_posting_list,
    from_u64,
    to_u64,
    varbyte_decode,
    varbyte_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=60))
@settings(max_examples=50, deadline=None)
def test_varbyte_roundtrip_hypothesis(values):
    arr = np.array(values, dtype=np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(arr), len(arr)), arr)


def test_varbyte_roundtrip_sweep():
    rng = np.random.RandomState(42)
    # sizes incl. block boundaries; magnitudes spanning every byte length
    for n in (0, 1, 2, 127, 128, 129, 1000, 10_000):
        for hi_bits in (7, 8, 14, 28, 35, 56, 63, 64):
            arr = (
                rng.randint(0, 2**62, size=n).astype(np.uint64)
                % np.uint64(2**hi_bits - 1 if hi_bits < 64 else 2**63)
            )
            assert np.array_equal(varbyte_decode(varbyte_encode(arr), n), arr), (
                n, hi_bits,
            )
    # exact boundary values
    edges = np.array(
        [0, 1, 127, 128, 16383, 16384, 2**28 - 1, 2**28, 2**56, 2**64 - 1],
        dtype=np.uint64,
    )
    assert np.array_equal(varbyte_decode(varbyte_encode(edges), len(edges)), edges)
    assert len(varbyte_encode(np.array([0, 1, 127], dtype=np.uint64))) == 3
    assert len(varbyte_encode(np.array([128], dtype=np.uint64))) == 2


def test_u64_mapping_order_preserving():
    rng = np.random.RandomState(7)
    arr = np.unique(
        rng.randint(-(2**63), 2**63 - 1, size=5000, dtype=np.int64)
    )
    u = to_u64(arr)
    assert np.all(u[1:] > u[:-1])
    assert np.array_equal(from_u64(u), arr)
    edge = np.array([-(2**63), -1, 0, 1, 2**63 - 1], dtype=np.int64)
    assert np.array_equal(from_u64(to_u64(edge)), edge)
    assert np.all(np.diff(to_u64(edge).astype(object)) > 0)


def test_posting_list_roundtrip_sweep():
    rng = np.random.RandomState(1234)
    for n in (1, 2, 128, 129, 500, 10_000):
        ids = np.unique(rng.randint(-(2**61), 2**61, size=n * 2, dtype=np.int64))
        ids = rng.permutation(ids)[:n]
        n = len(ids)
        tfs = rng.randint(1, 1000, size=n).astype(np.int64)
        dls = rng.randint(1, 100_000, size=n).astype(np.int64)
        enc = encode_posting_list(ids, tfs, dls, block_size=128)
        got_ids, got_tfs = decode_posting_list(
            enc["doc_stream"], enc["tf_stream"], enc["n_docs"]
        )
        order = np.argsort(ids, kind="stable")
        assert np.array_equal(got_ids, ids[order])
        assert np.array_equal(got_tfs, tfs[order])
        # block-max soundness: every block's bounds hold
        for b in range(len(enc["block_last_doc"])):
            lo, hi = b * 128, min((b + 1) * 128, n)
            assert enc["block_last_doc"][b] == got_ids[hi - 1]
            assert enc["block_max_tf"][b] >= got_tfs[lo:hi].max()
            assert enc["block_min_dl"][b] <= dls[order][lo:hi].min()


def test_positions_roundtrip():
    rng = np.random.RandomState(7)
    n = 50
    ids = np.sort(np.unique(rng.randint(0, 10**9, size=n * 2, dtype=np.int64)))[:n]
    n = len(ids)
    positions = [
        np.sort(rng.choice(5000, size=rng.randint(1, 20), replace=False))
        for _ in range(n)
    ]
    tfs = np.array([len(p) for p in positions], dtype=np.int64)
    dls = np.full(n, 5000, dtype=np.int64)
    enc = encode_posting_list(ids, tfs, dls, positions=list(positions))
    _, got_tfs = decode_posting_list(enc["doc_stream"], enc["tf_stream"], n)
    got_pos = decode_positions(enc["pos_stream"], got_tfs)
    for p, g in zip(positions, got_pos):
        assert np.array_equal(g, p)


def test_compression_actually_compresses():
    # dense docID range: gaps ~1 -> ~1 byte/doc vs 8 raw
    ids = np.arange(0, 100_000, dtype=np.int64)
    tfs = np.ones(100_000, dtype=np.int64)
    dls = np.full(100_000, 100, dtype=np.int64)
    enc = encode_posting_list(ids, tfs, dls)
    assert len(enc["doc_stream"]) < 100_000 * 2  # ≥4x better than raw int64


def test_table_slice_decode_matches_per_list_decode():
    """The serving path decodes many rows' block-aligned slices at once
    (serve_direct._slice_table). For any doc range, each row's part must
    equal that row's own full decode trimmed to the range, positions
    included."""
    import pyarrow as pa

    from quickb_spark.query import serve_direct as sd

    rng = np.random.RandomState(11)
    bs = 8
    rows, lists = [], []
    for n in (1, 7, 8, 9, 40, 130):
        docs = np.unique(rng.randint(-(2**63), 2**63 - 1, size=n, dtype=np.int64))
        if len(docs) > 2:  # the int64 extremes sit on range bounds
            docs[0], docs[-1] = -(2**63), 2**63 - 1
        tfs = rng.randint(1, 5, size=len(docs))
        dls = rng.randint(1, 300, size=len(docs))
        pos = [np.sort(rng.choice(500, t, replace=False)) for t in tfs]
        enc = encode_posting_list(docs, tfs, dls, positions=pos, block_size=bs)
        rows.append(enc)
        lists.append((docs, tfs, dls, pos))
    cols = {
        "term_h": pa.array(np.arange(len(rows)), pa.int64()),
        "df_part": pa.array([r["n_docs"] for r in rows], pa.int64()),
    }
    for c in ("doc_stream", "tf_stream", "dl_stream", "pos_stream"):
        cols[c] = pa.array([r[c] for r in rows], pa.binary())
    for c in ("block_last_doc", "block_doc_off", "block_tf_off",
              "block_dl_off", "block_pos_off"):
        cols[c] = pa.array([r[c] for r in rows], pa.list_(pa.int64()))
    rv = sd._RowView(pa.table(cols), True)
    bounds = [(-(2**63), 2**63 - 1), (5, 4)] + [
        tuple(sorted(rng.randint(-(2**63), 2**63 - 1, size=2, dtype=np.int64)))
        for _ in range(40)
    ]
    for lo, hi in bounds:
        got = {p[0]: p for p in sd._slice_table(rv, int(lo), int(hi), bs, True)}
        for term, (docs, tfs, dls, pos) in enumerate(lists):
            keep = (docs >= lo) & (docs <= hi)
            if not keep.any():
                assert term not in got
                continue
            _, d, t, dl, part = got[term]
            assert np.array_equal(d, docs[keep])
            assert np.array_equal(t, tfs[keep])
            assert np.array_equal(dl, dls[keep])
            flat, offs = sd._part_positions(part)
            for j, i in enumerate(np.flatnonzero(keep)):
                s = part["trim_a"] + j
                assert np.array_equal(flat[offs[s]: offs[s + 1]], pos[i])
