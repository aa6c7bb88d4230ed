"""LLMSemanticChunker conformance: the reference pipeline is executed
DIRECTLY with the deterministic responder injected through its litellm
completion seam (the LLM call is the only nondeterministic/network part;
window assembly, protocol parsing, and merging are pure) when its checkout
is present, and our implementation must be byte-identical on every
document. The verified output is frozen in tests/golden/
(tests/golden_data.py)."""

from __future__ import annotations

import sys
from types import SimpleNamespace

import pytest

from quickb_spark.chunking.llm_semantic import (
    fake_llm_responder,
    llm_semantic_split,
    merge_pieces,
    parse_split_response,
)
from tests.corpus_cases import EDGE_DOCS, random_docs
from tests.test_chunker_conformance import _load_reference_chunker  # stubs deps
from tests.golden_data import case_key, check

GOLDEN = "llm_semantic"


class _FakeTqdm:
    def __init__(self, *a, **kw):
        self.n = 0

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False

    def update(self, k):
        self.n += k


def _ref_llm_split(text: str):
    if _load_reference_chunker() is None:  # installs stubs + sys.path
        return None
    import chunking.llm_semantic_chunker as ref_mod

    def fake_completion(model=None, messages=None, temperature=None,
                        max_tokens=None, api_base=None, **kw):
        user = messages[1]["content"]
        context = user.split("CHUNKED_TEXT: ", 1)[1].split("\n\nRespond", 1)[0]
        content = fake_llm_responder(context)
        return SimpleNamespace(
            choices=[SimpleNamespace(message=SimpleNamespace(content=content))]
        )

    # the reference binds `from litellm import completion` and
    # `from tqdm import tqdm` at import time — inject through the
    # module-level names it actually calls
    ref_mod.completion = fake_completion
    ref_mod.tqdm = _FakeTqdm

    ref = ref_mod.LLMSemanticChunker(length_type="character")
    # Same reference quirk as the other semantic chunkers: the inner
    # RecursiveTokenChunker's oversize check reads the BaseChunker token
    # default even when a length_function kwarg is injected; tiktoken is
    # env-blocked, so pin the check to character length (the convention of
    # every conformance suite here).
    ref.splitter.length_function = len
    return ref.split_text(text)


@pytest.mark.parametrize("lang,text", EDGE_DOCS)
def test_edge_docs_match_reference(lang, text):
    got = llm_semantic_split(text)
    check(GOLDEN, case_key("edge", text), got)
    want = _ref_llm_split(text)
    if want is not None:
        assert got == want


def test_random_docs_match_reference():
    for lang, text in random_docs(40, seed=808):
        got = llm_semantic_split(text)
        check(GOLDEN, case_key("random", text), got)
        want = _ref_llm_split(text)
        if want is not None:
            assert got == want, (lang, text[:80])


def test_parse_split_response():
    assert parse_split_response("split_after: 3, 5", 0) == [3, 5]
    assert parse_split_response("split_after: 5, 3", 0) == [3, 5]
    assert parse_split_response("split_after: 3, 5", 3) == [5]
    assert parse_split_response("no marker 7", 0) == []
    assert parse_split_response("split_after:", 0) == []


def test_merge_pieces():
    assert merge_pieces(["a", "b", "c", "d"], [2]) == ["a b", "c d"]
    assert merge_pieces(["a", "b", "c"], []) == ["a b c"]
    assert merge_pieces([" a ", "b"], [1]) == ["a", "b"]


def test_responder_protocol():
    ctx = "<|start_chunk_3|>def f():<|end_chunk_3|>\n<|start_chunk_4|>return 1<|end_chunk_4|>"
    out = fake_llm_responder(ctx)
    assert out.startswith("split_after: ")
    nums = parse_split_response(out, 2)
    assert nums and all(n in (3, 4) for n in nums)
    assert fake_llm_responder("") == "split_after:"


def test_split_edge_behavior():
    assert llm_semantic_split("") == []
    # <= 4 first-stage pieces: no completer round at all, single chunk
    assert llm_semantic_split("tiny text") == ["tiny text"]


def test_spark_op_and_registry(spark):
    from quickb_spark.chunking.registry import chunk_documents_with
    from quickb_spark.corpus import generate_documents_df

    docs = generate_documents_df(spark, 8, seed=21, partitions=2)
    out = chunk_documents_with("LLMSemanticChunker", docs)
    rows = out.collect()
    assert len(rows) > 0
    one = docs.limit(1).collect()[0]
    want = llm_semantic_split(one["content"])
    got = [
        r["text"]
        for r in sorted(
            (r for r in rows if r["path"] == one["path"] and r["repo"] == one["repo"]),
            key=lambda r: r["chunk_idx"],
        )
    ]
    assert got == want
