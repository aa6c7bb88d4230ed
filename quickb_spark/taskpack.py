"""Driver-side task packing: many fixed work units, one Spark task per slot.

A Python RDD task has a fixed cost (worker hand-off, closure unpickle,
result pickle) that does not depend on how much work it carries. A
trivial 2-task job on a 2-slot local master (4-vCPU VM) takes ~0.1 s:
~0.08 s from submit to the task function's start, ~0.02 s from its end to
the collected result. (Another 0.15-0.2 s of zip directory re-reads per
task came before the function until `session.keep_zip_directories`.)
Engine phases whose work units are many and small — the phase-2
bucket/term-split merges, the per-file preload decode — paid that cost
once per UNIT. `run_packed` keeps the units (so every output is
exactly what the unit computes on its own) and changes only how they map
to tasks: LPT bin-packing (longest processing time first; each unit,
largest first, goes to the least-loaded task) into at most
`defaultParallelism` tasks, run as one `parallelize(...).collect()` job.

`job_description` labels an engine job in Spark's UI and event log. It
sets only the job DESCRIPTION and restores the caller's value afterwards;
it never touches the job group, which belongs to the caller.
"""

from __future__ import annotations

import contextlib
import heapq
from typing import Callable, Sequence, TypeVar

__all__ = ["lpt_bins", "run_packed", "job_description"]

U = TypeVar("U")
R = TypeVar("R")

_DESC = "spark.job.description"


def lpt_bins(costs: Sequence[float], n_bins: int) -> list[list[int]]:
    """LPT plan: unit indices grouped into at most `n_bins` non-empty bins.

    Units are taken largest cost first (ties: lower index first) and each
    goes to the currently least-loaded bin (ties: lower bin first), so the
    plan is a pure function of `costs` and `n_bins`. The heaviest bin is at
    most sum(costs) / n_bins + max(costs). Indices inside a bin are in
    assignment order (largest cost first)."""
    n_bins = max(1, min(int(n_bins), len(costs)))
    bins: list[list[int]] = [[] for _ in range(n_bins)]
    heap = [(0.0, b) for b in range(n_bins)]
    for i in sorted(range(len(costs)), key=lambda j: (-costs[j], j)):
        load, b = heapq.heappop(heap)
        bins[b].append(i)
        heapq.heappush(heap, (load + costs[i], b))
    return [b for b in bins if b]


@contextlib.contextmanager
def job_description(sc, text: str):
    """Label the Spark jobs run inside the block; restore the caller's
    description (or its absence) on exit."""
    prev = sc.getLocalProperty(_DESC)
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty(_DESC, prev)


def run_packed(
    sc,
    fn: Callable[[U], R],
    units: Sequence[U],
    costs: Sequence[float] | None,
    label: str,
) -> list[R]:
    """fn(unit) for every unit, in at most sc.defaultParallelism tasks of
    one Spark job labelled `label`; results come back in unit order.
    `costs` (None: all equal) drives the LPT plan. An empty `units` runs
    no job."""
    if not units:
        return []
    if costs is None:
        costs = [1.0] * len(units)
    elif len(costs) != len(units):
        raise ValueError(f"{len(costs)} costs for {len(units)} units")
    bins = lpt_bins(costs, sc.defaultParallelism)
    tasks = [[(i, units[i]) for i in b] for b in bins]

    def _run_task(task):
        return [(i, fn(u)) for i, u in task]

    with job_description(sc, label):
        parts = sc.parallelize(tasks, len(tasks)).flatMap(_run_task).collect()
    out: list = [None] * len(units)
    for i, r in parts:
        out[i] = r
    return out
