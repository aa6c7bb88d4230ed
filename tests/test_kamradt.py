"""KamradtModifiedChunker conformance: the reference pipeline is executed
DIRECTLY with a deterministic embedder injected through its litellm seam
(the embedding call is the only nondeterministic/network part of the
reference algorithm; the threshold binary search is pure given
embeddings) when its checkout is present, and our implementation must be
byte-identical on every document. The verified output is frozen in
tests/golden/ (tests/golden_data.py)."""

from __future__ import annotations

import sys

import numpy as np
import pytest

from quickb_spark.chunking.cluster_semantic import hash_embedder
from quickb_spark.chunking.kamradt import (
    breakpoint_threshold,
    combine_pieces,
    kamradt_split,
)
from tests.corpus_cases import EDGE_DOCS, random_docs
from tests.test_chunker_conformance import _load_reference_chunker  # stubs deps
from tests.golden_data import case_key, check

GOLDEN = "kamradt"


def _ref_kamradt_split(text: str, avg_chunk: int = 400, min_chunk: int = 50):
    if _load_reference_chunker() is None:  # installs stubs + sys.path
        return None
    embed = hash_embedder()

    def fake_embedding(model=None, input=None, api_base=None, **kw):
        mat = embed(list(input))
        return {"data": [{"embedding": row.tolist()} for row in mat]}

    sys.modules["litellm"].embedding = fake_embedding
    import chunking.kamradt_modified_chunker as ref_mod

    # the reference binds `from litellm import embedding` at import time,
    # so inject through the module-level name it actually calls
    ref_mod.embedding = fake_embedding
    KamradtModifiedChunker = ref_mod.KamradtModifiedChunker

    ref = KamradtModifiedChunker(
        avg_chunk_size=avg_chunk,
        min_chunk_size=min_chunk,
        length_type="character",
    )
    # Same reference quirk as ClusterSemanticChunker (see
    # test_cluster_semantic._ref_cluster_split): the inner
    # RecursiveTokenChunker's oversize check reads `self.length_function`
    # (the BaseChunker attribute, which stays the 'token' -> tiktoken
    # default even when a length_function kwarg is injected) while its
    # merge uses the injected character `_length_function`. tiktoken is
    # env-blocked — pin the check to character length so the whole
    # reference pipeline is deterministic-executable in character mode.
    ref.splitter.length_function = len
    return ref.split_text(text)


@pytest.mark.parametrize("lang,text", EDGE_DOCS)
def test_edge_docs_match_reference(lang, text):
    got = kamradt_split(text, hash_embedder())
    check(GOLDEN, case_key("edge", text), got)
    want = _ref_kamradt_split(text)
    if want is not None:
        assert got == want


@pytest.mark.parametrize("avg_chunk,min_chunk", [(400, 50), (200, 50), (400, 100), (150, 30)])
def test_random_docs_match_reference(avg_chunk, min_chunk):
    for lang, text in random_docs(25, seed=avg_chunk + min_chunk):
        got = kamradt_split(text, hash_embedder(), avg_chunk, min_chunk)
        check(GOLDEN, case_key("random", avg_chunk, min_chunk, text), got)
        want = _ref_kamradt_split(text, avg_chunk, min_chunk)
        if want is not None:
            assert got == want, (lang, avg_chunk, min_chunk, text[:80])


def test_combine_pieces_windows():
    assert combine_pieces(["a", "b", "c"], 1) == ["a b", "a b c", "b c"]
    assert combine_pieces(["a"], 3) == ["a"]
    assert combine_pieces([], 3) == []


def test_breakpoint_threshold_hand_cases():
    d = np.array([0.1, 0.5, 0.9])
    # no splits allowed -> threshold above the max distance
    assert breakpoint_threshold(d, 0) >= 0.9
    # one split allowed -> only the 0.9 breakpoint survives
    t1 = breakpoint_threshold(d, 1)
    assert (d > t1).sum() <= 1 and 0.9 > t1
    # plenty allowed -> threshold collapses toward 0, all survive
    assert (d > breakpoint_threshold(d, 10)).sum() == 3


def test_split_edge_behavior():
    assert kamradt_split("") == []
    assert kamradt_split("   \n  ") == []
    # a single first-stage piece comes back as that piece
    assert kamradt_split("short") == ["short"]


def test_spark_op_and_registry(spark):
    from quickb_spark.chunking.registry import chunk_documents_with
    from quickb_spark.corpus import generate_documents_df

    docs = generate_documents_df(spark, 12, seed=11, partitions=2)
    out = chunk_documents_with("KamradtModifiedChunker", docs)
    rows = out.collect()
    assert len(rows) > 0
    assert len({(r["repo"], r["path"], r["chunk_idx"]) for r in rows}) == len(rows)
    # chunks reproduce the driver-side kernel exactly for one sampled doc
    one = docs.limit(1).collect()[0]
    want = kamradt_split(one["content"], hash_embedder())
    got = [
        r["text"]
        for r in sorted(
            (r for r in rows if r["path"] == one["path"] and r["repo"] == one["repo"]),
            key=lambda r: r["chunk_idx"],
        )
    ]
    assert got == want
