"""quickb_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload fixed-cost --seed 1 --seconds 8 --trace 0

Run it from the root of a source checkout. Workloads, sizes, session
settings and the layer predictions are in perfbench/spec.json.

Output: a `{"host": ...}` line (nproc, RAM, commit, session settings and the
external busy cores measured during each timed phase), then, as the last
line, `{"correct", "attempted", "failed", "metrics"}` where metrics are the
end-to-end metrics (--trace 0) or the per-layer metrics of a traced run
(--trace 1). The full report, spans included, is written to
.bench_work/reports/. Scratch data lives in .bench_work/ and the run's own
part of it is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: files outside perfbench/ the benchmark needs from the checkout
NEEDED = ["quickb_spark/__init__.py", "tests/oracle_bm25.py", "bench/_hostload.py"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in NEEDED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a quickb_spark checkout, missing {missing}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "perfbench", "spec.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(spec['workloads'])}", file=sys.stderr)
        return 2

    sys.path[0] = ROOT  # import perfbench and quickb_spark from the checkout
    from perfbench import harness

    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, "run")
    try:
        report = harness.run(ROOT, work, args.workload, spec, args.seed,
                             args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(base, "reports"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(base, "reports", name), "w") as f:
        json.dump(report, f)
    print(json.dumps({"host": report["host"], "errors": report["errors"]}))
    metrics = report["per_layer"] if args.trace else report["end_to_end"]
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
