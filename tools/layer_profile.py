"""Per-round optimization profiler (guide §1: measure first).

For each bench query (or an explicit name list): capture
``explain("formatted")`` to ``plans/r<N>/<name>_<tag>.txt``, run the timed
count min-of-3 under the canonical bench confs, and record the stage count
and shuffle bytes the run added to the status store. Job descriptions are
set per query so the (disabled-UI) status store rows stay attributable.

Usage:
    python tools/layer_profile.py --round N [--tag before] [--runs 3] [name ...]

Writes a JSON summary to ``plans/r<N>/profile_<tag>.json`` and prints one
line per query. The plan files are the evidence for every claim in
OPTIMIZATION_r<N>.md, so they are captured from the SAME DataFrame object
the timing runs count.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import BENCH_QUERIES  # noqa: E402


def explain_text(df) -> str:
    """explain('formatted') as a string (explain() only prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", default=None)
    ap.add_argument("--round", type=int, required=True, dest="round_n", metavar="N")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()
    names = args.names or BENCH_QUERIES

    from meos_rs_spark.registry import load_registry
    from tools.probekit import (
        bench_session,
        reset_confs,
        shuffle_delta,
        shuffle_stage_keys,
        timed_count,
        warm_up,
    )

    spark = bench_session(f"profile-r{args.round_n}")
    registry = load_registry()
    if os.path.isdir("/root/testdata/sf0.001"):
        warm_up(registry, names, spark)
    spark.read.parquet(os.path.join(args.sf_dir, "lineitem.parquet")).count()

    out_dir = os.path.join(REPO, "plans", f"r{args.round_n}")
    os.makedirs(out_dir, exist_ok=True)

    summary = {}
    for name in names:
        fn = registry[name].fn
        reset_confs(spark)
        spark.sparkContext.setJobDescription(f"r{args.round_n}-profile:{name}")
        df = fn(spark, args.sf_dir)
        plan = explain_text(df)
        with open(os.path.join(out_dir, f"{name}_{args.tag}.txt"), "w") as fh:
            fh.write(plan)
        before = shuffle_stage_keys(spark)
        reset_confs(spark)
        t0 = time.time()
        best, n, runs = timed_count(lambda: fn(spark, args.sf_dir).count(), runs=args.runs)
        wall = time.time() - t0
        delta = shuffle_delta(spark, before) or {}
        n_ex = plan.count("Exchange")
        n_arrow = plan.count("ArrowEvalPython") + plan.count("MapInPandas") + plan.count("MapInArrow") + plan.count("FlatMapGroupsInPandas")
        n_batch = plan.count("BatchEvalPython")
        summary[name] = {
            "best": best,
            "runs": runs,
            "rows": n,
            "wall_3runs": round(wall, 3),
            "stages_3runs": delta.get("n_stages"),
            "shuffle_read_3runs": delta.get("shuffle_read"),
            "plan_exchanges": n_ex,
            "plan_arrow_nodes": n_arrow,
            "plan_batch_eval": n_batch,
        }
        print(
            f"{name:28s} best={best:7.3f} runs={runs} stages/3runs={delta.get('n_stages')} "
            f"shufRead={delta.get('shuffle_read')} Exch={n_ex} arrow={n_arrow} batch={n_batch}",
            flush=True,
        )
        spark.sparkContext.setJobDescription(None)

    with open(os.path.join(out_dir, f"profile_{args.tag}.json"), "w") as fh:
        json.dump(summary, fh, indent=2, sort_keys=True)
    print(f"# total best-sum: {round(sum(v['best'] for v in summary.values()), 3)}")


if __name__ == "__main__":
    main()
