"""Task packing: the pure LPT planner, and the one-job packed runner."""

from __future__ import annotations

import random

import pytest

from quickb_spark.taskpack import job_description, lpt_bins, run_packed


def _check_plan(costs, n_tasks):
    bins = lpt_bins(costs, n_tasks)
    flat = sorted(i for b in bins for i in b)
    assert flat == list(range(len(costs)))  # every unit in exactly one bin
    assert len(bins) <= n_tasks
    assert all(bins)  # no empty bin
    return bins


@pytest.mark.parametrize("n_units,n_tasks", [
    (1, 1), (1, 4), (3, 4), (4, 4), (5, 4), (64, 2), (64, 4), (2048, 4),
])
def test_plan_covers_every_unit_once(n_units, n_tasks):
    bins = _check_plan([1.0] * n_units, n_tasks)
    assert len(bins) == min(n_units, n_tasks)
    sizes = [len(b) for b in bins]
    assert max(sizes) - min(sizes) <= 1  # equal costs: near-equal bins


def test_plan_bound_on_skewed_costs():
    rng = random.Random(5)
    for _ in range(200):
        n = rng.randrange(1, 300)
        k = rng.randrange(1, 17)
        # Zipf-like: a few units much bigger than the rest
        costs = [rng.paretovariate(1.2) for _ in range(n)]
        bins = _check_plan(costs, k)
        loads = [sum(costs[i] for i in b) for b in bins]
        assert max(loads) <= sum(costs) / k + max(costs) + 1e-9


def test_plan_is_deterministic():
    # largest first (ties: lower index), each to the least-loaded bin
    # (ties: lower bin): 6->b0, 0->b1, 2->b2, 3->b1, 4->b2, 1->b0, 5->b1
    costs = [3.0, 1.0, 3.0, 2.0, 2.0, 1.0, 5.0]
    assert lpt_bins(costs, 3) == [[6, 1], [0, 3, 5], [2, 4]]
    assert lpt_bins([], 4) == []


def _group_tasks(sc, gid):
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(gid)
    tasks = 0
    for jid in jobs:
        for sid in st.getJobInfo(jid).stageIds:
            tasks += st.getStageInfo(sid).numTasks
    return len(jobs), tasks


def test_run_packed_order_and_task_count(spark):
    sc = spark.sparkContext
    slots = sc.defaultParallelism
    units = list(range(5 * slots + 3))
    costs = [float((u * 7) % 11 + 1) for u in units]
    gid = "test-taskpack-run"
    sc.setJobGroup(gid, "packed run")
    try:
        got = run_packed(sc, lambda u: u * u, units, costs, label="packed")
        empty = run_packed(sc, lambda u: u, [], None, "empty")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == [u * u for u in units]
    assert empty == []
    n_jobs, n_tasks = _group_tasks(sc, gid)
    assert n_jobs == 1  # the empty call launched nothing
    assert n_tasks <= slots


def test_run_packed_rejects_mismatched_costs(spark):
    with pytest.raises(ValueError):
        run_packed(spark.sparkContext, str, [1, 2], [1.0], "mismatch")


def test_job_description_labels_tasks_and_restores(spark):
    from pyspark import TaskContext

    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        seen = run_packed(
            sc,
            lambda _u: TaskContext.get().getLocalProperty(
                "spark.job.description"),
            list(range(3)),
            None,
            "qkb test: label",
        )
        assert seen == ["qkb test: label"] * 3
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    with job_description(sc, "inner"):
        assert sc.getLocalProperty("spark.job.description") == "inner"
    assert sc.getLocalProperty("spark.job.description") is None
