"""Benchmark entry point.

    python3 perfbench/run.py --workload adsb_etl_query --seed 1 --seconds 3 --trace 0

Runs from the root of a checkout: it imports the engine package from
there, generates its inputs from ``--seed`` into ``.perfbench_work/``,
starts a host-fitted ``local[nproc]`` session, sets up, measures (the
query phase runs at least ``--seconds`` seconds and a fixed number of
calls), checks every output against the planted truth
and prints, as the last line of standard output, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones (tracing off); with
``--trace 1`` they are the per-layer ones from the traced run.  The
line before it is a report with every metric under the workload's own
names, the percentiles with their sample counts, and the session
labels (master, partitions, driver memory, stream engine).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Outcome:
    """Attempted/failed operation counts and the failure messages."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, errors: list[str] | str | None) -> bool:
        self.attempted += 1
        if isinstance(errors, str):
            errors = [errors]
        if errors:
            self.failed += 1
            self.errors.extend(errors)
            return False
        return True


def _parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    os.environ["TZ"] = "UTC"
    time.tzset()
    # the engine must be importable from the checkout; outside one this
    # raises before anything is printed
    import dump1090_postgis_spark  # noqa: F401

    import host
    from workloads import WORKLOADS

    args = _parse_args(argv)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(work)
    outcome = Outcome()
    try:
        host.fit_environment(work)
        report, metrics = WORKLOADS[args.workload](args, work, outcome)
    finally:
        trace_file = os.path.join(work, "trace.json")
        if os.path.exists(trace_file):
            shutil.copy(trace_file, os.path.join(
                base, f"trace-{args.workload}-s{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)
    correct = outcome.failed == 0 and outcome.attempted > 0
    report.update(workload=args.workload, seed=args.seed, trace=args.trace,
                  attempted=outcome.attempted, failed=outcome.failed,
                  error_rate=outcome.failed / max(1, outcome.attempted),
                  errors=outcome.errors[:20])
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
