"""Worker memory tuning (quickb_spark/session.py): env resolution and
builder application. The performance effect is recorded in
BENCH/query_decompose_r4.json (r4d); here we pin the plumbing — defaults,
values preset in the driver passed through, and executorEnv conf keys."""

import os
from unittest import mock

from quickb_spark.session import _DEFAULTS, tune_builder, worker_memory_env


def _without_tuning_env() -> dict:
    return {k: v for k, v in os.environ.items() if k not in _DEFAULTS}


def test_defaults_present():
    with mock.patch.dict(os.environ, _without_tuning_env(), clear=True):
        env = worker_memory_env()
    assert env["MALLOC_MMAP_THRESHOLD_"] == "536870912"
    assert env["MALLOC_TRIM_THRESHOLD_"] == "536870912"
    assert env["ARROW_DEFAULT_MEMORY_POOL"] == "system"


class _FakeBuilder:
    def __init__(self):
        self.conf = {}

    def config(self, k, v):
        self.conf[k] = v
        return self


def test_tune_builder_sets_executor_env_and_process_env():
    b = _FakeBuilder()
    # keep the test hermetic: drop any pre-set process env for these keys
    with mock.patch.dict(os.environ, _without_tuning_env(), clear=True):
        out = tune_builder(b)
        assert out is b
        for k, v in _DEFAULTS.items():
            assert b.conf[f"spark.executorEnv.{k}"] == v
            # the driver process (and the JVM it launches) gets the same
            assert os.environ[k] == v


def test_tune_builder_does_not_clobber_existing_process_env():
    b = _FakeBuilder()
    with mock.patch.dict(
        os.environ, {"MALLOC_MMAP_THRESHOLD_": "7777"}
    ):
        tune_builder(b)
        assert os.environ["MALLOC_MMAP_THRESHOLD_"] == "7777"


def test_preset_env_reaches_executor_env():
    """A value set in the driver before tune_builder is the one the
    workers get: spark.executorEnv.* overlays the worker environment on
    every master, so writing the default there would override it."""
    b = _FakeBuilder()
    with mock.patch.dict(
        os.environ, {"MALLOC_MMAP_THRESHOLD_": "7777"}
    ):
        tune_builder(b)
        assert os.environ["MALLOC_MMAP_THRESHOLD_"] == "7777"
        assert b.conf["spark.executorEnv.MALLOC_MMAP_THRESHOLD_"] == "7777"
