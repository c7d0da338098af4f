"""Measure how much of a query's time ``count()`` skips.

    python3 perfbench/count_gap.py --workload trips --seed 1 --passes 3

Runs ``run.py``'s cold pass and warm-up in the same kind of session, then
alternates passes that end each query in ``count()`` with passes that write
its full output to the ``noop`` sink, and prints each query's median wall
time under both.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys

import run
import spans


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()

    import inputs
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    work = os.path.join(run.ROOT, ".perfbench", f"gap-{args.workload}-{os.getpid()}")
    run.configure_env(work)
    os.chdir(work)
    try:
        fixture = inputs.generate(work, args.seed, wl.sizes)
        spark, registry, _ = run.setup(fixture)
        try:
            runner = run.Runner(spark, registry, wl.queries, fixture, spans.Tracer())
            runner.run_pass("collect")
            for _ in range(run.WARM_PASSES):
                runner.run_pass("noop")
            walls = {"count": [], "noop": []}
            for _ in range(args.passes):
                for sink in walls:
                    walls[sink].append(runner.run_pass(sink)["walls"])
        finally:
            run.stop(spark)
    finally:
        os.chdir(run.ROOT)
        shutil.rmtree(work, ignore_errors=True)
    if runner.failed:
        print(f"{runner.failed} of {runner.attempted} executions raised", file=sys.stderr)
        return 1
    for name in wl.queries:
        c = statistics.median(w[name] for w in walls["count"])
        m = statistics.median(w[name] for w in walls["noop"])
        print(f"{name}: count {c:.3f} s, noop {m:.3f} s, ratio {m / c:.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
