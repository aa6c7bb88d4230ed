"""Frozen expected outputs of the chunker conformance tests.

Every chunker was verified byte-identical to the executed reference
implementation, and its output on the conformance cases is frozen in
tests/golden/<name>.json: a map from a case key to the expected chunks.
The tests compare against those files on every run, and against the live
reference too when its checkout is present. A missing file or case key
fails the test; it does not skip.

Regenerate, only after checking a chunker change against the reference,
by running the whole files (a file is rewritten with the cases that ran):

    REGEN_GOLDEN=1 python -m pytest tests/test_chunker_conformance.py \
        tests/test_fixed_token.py tests/test_kamradt.py \
        tests/test_cluster_semantic.py tests/test_llm_semantic.py
"""

from __future__ import annotations

import atexit
import functools
import hashlib
import json
import os
from pathlib import Path

GOLDEN_DIR = Path(__file__).parent / "golden"
REGEN = os.environ.get("REGEN_GOLDEN") == "1"


def case_key(*parts) -> str:
    """A case key: the parameters, then a digest of the input text (the
    last part), so an edited input finds no frozen output."""
    *params, text = parts
    digest = hashlib.sha1(text.encode("utf-8")).hexdigest()[:16]
    return "/".join([*map(str, params), digest])


@functools.cache
def _frozen(name: str) -> dict:
    if REGEN:
        data: dict = {}
        atexit.register(_write, name, data)
        return data
    with open(GOLDEN_DIR / f"{name}.json", encoding="utf-8") as f:
        return json.load(f)


def _write(name: str, data: dict) -> None:
    GOLDEN_DIR.mkdir(exist_ok=True)
    lines = [
        f"{json.dumps(k)}: {json.dumps(data[k], ensure_ascii=False)}"
        for k in sorted(data)
    ]
    with open(GOLDEN_DIR / f"{name}.json", "w", encoding="utf-8") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")


def check(name: str, key: str, got: list[str]) -> None:
    """Assert `got` equals the output frozen under `key` in `name`."""
    frozen = _frozen(name)
    if REGEN:
        frozen[key] = got
        return
    assert key in frozen, f"no frozen output for {key} in {name}: regenerate"
    assert got == frozen[key], key
