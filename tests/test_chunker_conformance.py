"""Byte-identity of our splitter vs the reference RecursiveTokenChunker.

The oracle is the splitter's output frozen in tests/golden/ after it was
verified byte-identical to the reference (tests/golden_data.py). When the
reference checkout is present, its implementation is also executed
directly (pure functions, character mode) and compared. tiktoken isn't
installed in this container; character-length mode never calls it, so a
stub module satisfies the import (reference src/chunking/utils.py imports
it at module scope).
"""

from __future__ import annotations

import os
import sys
import types

import pytest

from quickb_spark.config import (
    DEFAULT_SEPARATORS,
    PYTHON_SEPARATORS,
    ChunkerConfig,
    separators_for_lang,
)
from quickb_spark.chunking.splitter import split_document, split_text
from tests.corpus_cases import EDGE_DOCS, random_docs
from tests.golden_data import case_key, check

GOLDEN = "recursive_token"


_STUBS: dict[str, dict] = {
    "tiktoken": {},
    "litellm": {"embedding": None, "completion": None},
    "backoff": {"on_exception": lambda *a, **k: (lambda f: f), "expo": None},
    "tqdm": {"tqdm": lambda x, *a, **k: x},
    "openai": {},
    "anthropic": {"Anthropic": object},
    "attr": {"dataclass": lambda cls=None, **kw: cls if cls else (lambda c: c)},
}


#: The reference checkout's source root, beside this repository.
_REFERENCE_SRC = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "reference", "src",
)


def _load_reference_chunker():
    """The reference RecursiveTokenChunker class, or None when the
    reference checkout is absent."""
    if not os.path.isdir(_REFERENCE_SRC):
        # no stubs then: they would shadow the real modules' ImportError
        # (quickb_spark.chunking.fixed_token.tiktoken_codec relies on it)
        # for the rest of the process
        return None
    # The reference package imports network/tokenizer deps at module scope
    # that aren't installed here; character-mode chunking never calls them,
    # so empty stub modules satisfy the imports.
    for mod, attrs in _STUBS.items():
        try:
            __import__(mod)
        except ImportError:
            stub = types.ModuleType(mod)
            for k, v in attrs.items():
                setattr(stub, k, v)
            sys.modules[mod] = stub
    if _REFERENCE_SRC not in sys.path:
        sys.path.insert(0, _REFERENCE_SRC)
    try:
        from chunking.recursive_token_chunker import RecursiveTokenChunker
    except ImportError:
        return None
    return RecursiveTokenChunker


def test_loader_leaves_tiktoken_import_error_intact():
    """Loading the reference chunker (which installs stub modules only
    beside a reference checkout) leaves tiktoken_codec() raising its
    designed ImportError in this process when tiktoken is not installed."""
    from quickb_spark.chunking.fixed_token import tiktoken_codec

    _load_reference_chunker()
    if os.path.isdir(_REFERENCE_SRC):
        pytest.skip("the reference checkout stubs tiktoken by design")
    if hasattr(sys.modules.get("tiktoken"), "get_encoding"):
        pytest.skip("tiktoken is installed")
    with pytest.raises(ImportError, match="tiktoken"):
        tiktoken_codec()


@pytest.fixture(scope="module")
def ref_chunker_cls():
    return _load_reference_chunker()


def _ref_split(cls, text, seps, size=400, overlap=0):
    return cls(
        chunk_size=size,
        chunk_overlap=overlap,
        separators=list(seps),
        keep_separator=True,
        length_type="character",
    ).split_text(text)


@pytest.mark.parametrize("lang,text", EDGE_DOCS)
def test_edge_docs_match_reference(ref_chunker_cls, lang, text):
    cfg = ChunkerConfig()
    got = split_document(text, lang, cfg)
    check(GOLDEN, case_key("edge", lang, text), got)
    if ref_chunker_cls is not None:
        seps = separators_for_lang(lang, cfg)
        assert got == _ref_split(ref_chunker_cls, text, seps)


@pytest.mark.parametrize("size,overlap", [(400, 0), (400, 50), (100, 20), (50, 0), (1000, 200), (7, 3)])
def test_random_docs_match_reference(ref_chunker_cls, size, overlap):
    for lang, text in random_docs(60, seed=size * 1000 + overlap):
        for name, seps in (("default", DEFAULT_SEPARATORS),
                           ("python", PYTHON_SEPARATORS)):
            got = split_text(text, size, overlap, seps)
            check(GOLDEN, case_key("random", size, overlap, name, text), got)
            if ref_chunker_cls is not None:
                expected = _ref_split(ref_chunker_cls, text, seps, size,
                                      overlap)
                assert got == expected, (lang, size, overlap, seps, text[:80])


def test_empty_and_whitespace():
    assert split_text("") == []
    assert split_text("   \n\n  ") == []


def test_oversized_unsplittable_emitted_as_is():
    chunks = split_text("A" * 2000)
    # "" separator explodes to chars, all < 400, merged back into <=400 windows
    assert all(len(c) <= 400 for c in chunks)
    assert "".join(chunks) == "A" * 2000


def test_overlap_guard_rejected():
    with pytest.raises(ValueError):
        ChunkerConfig(chunk_size=10, chunk_overlap=20)


def test_chunks_cover_bounded_size():
    # Property from SURVEY.md §5: merged chunks never exceed chunk_size
    # (only unsplittable single pieces may, and "" fallback splits those too).
    for lang, text in random_docs(40, seed=7):
        for c in split_document(text, lang, ChunkerConfig()):
            assert len(c) <= 400
            assert c == c.strip()
            assert c != ""
