"""Fast self-test of the benchmark on tiny corpora.

Checks that every metric BENCHMARK.json names is emitted with its unit on
every workload, that answers on a healthy engine all pass the oracle, and
that a deliberately corrupted expected answer is counted as a failed op.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import copy
import json
import math
import os

import pytest

from perfbench import harness
from perfbench.tracing import RssSampler

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = {"fixed-cost": (300, 60), "update": (200, 60)}


def _contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _spec():
    with open(os.path.join(ROOT, "perfbench", "spec.json")) as f:
        spec = json.load(f)
    spec = copy.deepcopy(spec)
    for name, (base, delta) in TINY.items():
        spec["workloads"][name].update(base_files=base, delta_files=delta)
    return spec


@pytest.mark.parametrize("workload", sorted(TINY))
def test_metrics_emitted_and_oracle_strict(workload, tmp_path):
    spec = _spec()
    settings = {"nproc": 2, "task_slots": 2, "driver_memory": "2g"}
    r = harness.Run(ROOT, str(tmp_path / "run"), workload,
                    spec["workloads"][workload], spec["index_config"][workload],
                    seed=7, seconds=0, trace=True, settings=settings)
    os.makedirs(r.work)
    try:
        with RssSampler() as rss:
            r.setup()
            r.measure()
        attempted, failed = r.check()
        e2e = r.end_to_end(rss.peak)
        layers = r.per_layer()
        # the same answers against a corrupted expected set must fail
        c_attempted, c_failed = r.check(corrupt=True)
    finally:
        r.tracer.uninstall()
        harness.stop_session(r.spark)

    assert attempted >= len(harness.ROUND) + 1
    assert failed == 0, [o for o in r.ops if not o["ok"]][:2]
    assert c_attempted == attempted and c_failed > 0

    contract = _contract()
    for declared, emitted in ((contract["end_to_end"], e2e),
                              (contract["per_layer"], layers)):
        assert set(emitted) == {m["name"] for m in declared}
        for m in declared:
            got = emitted[m["name"]]
            assert got["unit"] == m["unit"], m["name"]
            assert isinstance(got["value"], (int, float)), m["name"]
            assert math.isfinite(got["value"]), m["name"]
    for m in contract["end_to_end"]:
        assert e2e[m["name"]]["value"] > 0, m["name"]
    assert layers["trace.reconciled"]["value"] == 1
