"""Inventory of the engine's QKB_* environment switches.

Settings belong in quickb_spark.config; an env switch bypasses its
validation. The two left are deployment settings of the host-shared
decoded-table cache (its directory, and a budget two callers set
differently). A new switch has to be added here on purpose."""

from __future__ import annotations

import re
from pathlib import Path

import quickb_spark

ALLOWED = {"QKB_SERVE_SHM_DIR", "QKB_SERVE_SHM_MB"}


def test_engine_env_switches_are_the_allowed_set():
    root = Path(quickb_spark.__file__).parent
    found = set()
    for path in root.rglob("*.py"):
        found |= set(re.findall(r"QKB_[A-Z0-9_]+", path.read_text("utf-8")))
    assert found == ALLOWED
