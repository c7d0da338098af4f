"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]; prints ONE JSON line for the driver
(BENCH_r{N}.json).

Query set mirrors the reference's instrumented pipeline (BASELINE.md): the
E3 scan→group→agg→sort→limit aggregation plus the heaviest operators per
family — trajectory assembly (A5), multi-way join, window battery, MinHash
LSH dedup, cosine top-k. Each timing covers plan build + execution to a
count/collect the way the reference times plan-exec (ais_to_db.rs:117,
142-148).

One sweep: a warm-up pass at the smallest fixture
(``tools.probekit.warm_up``) keeps compilation and Python-worker startup
off the first query timed; then every query starts from the canonical
session confs (``tools.probekit.reset_confs``) and is timed min-of-3
(``tools.probekit.timed_count``) with the query's name as the job
description, so event logs attribute its jobs. Every timed run does full
work: ``stage()`` rewrites its staging table on each call, so a repeat run
of a staging-backed query (dedup_minhash_lsh) pays the producing stages
and the parquet write again. Each query's full run list goes on a ``# name:``
comment line; the final line carries the per-query minima, their sum, and
``noise.steal_pct`` — the hypervisor steal over the sweep (None
off-Linux), so a reading taken on a contended host says so. Wall-clock on
a shared host is noisy by construction; the steal-free parent-vs-change
comparison is ``cpu_s`` in ``perfbench/run.py``.
"""

from __future__ import annotations

import json
import os

BENCH_QUERIES = [
    "flagship_trip_pipeline",
    "rel_pricing_summary",
    "rel_join_multiway",
    "win_running_total",
    "traj_assembly",
    "dedup_minhash_lsh",
    "sim_cosine_topk",
    # round-3 session-3 additions for family breadth: the window-heavy
    # mobility interpolator and the ANN scale path. (text_curation_pipeline
    # was measured at 5.4s — dominated by the iterative connected-components
    # loop — and deliberately left out: it is a composition of operators
    # already benched individually, not a new hot path.)
    "traj_resample_linear",
    "sim_ann_ivf",
    # round-3 session-4 additions: the PQ codebook ANN path (the third ANN
    # family — codes are 64x smaller than raw vectors, the true 100 TB scan)
    # and the map-only PII redaction pass (regex-heavy codegen throughput).
    "sim_pq_ann",
    "text_pii_scrub",
    # round-3 session-5 addition: the SemDeDup path (cluster-then-prune
    # semantic dedup — the embedding-space answer to MinHash; pair work is
    # confined to k-means cells so the hot loop is cell-local)
    "dedup_semantic",
    # round-4 additions: the 3D struct-fold family (single-shuffle assembly +
    # sequential decimal fold over the assembled array) and the CRS kernel
    # (Arrow-batched pandas_udf throughput — the pyproj-shaped slot)
    "traj_stbox_z_path",
    "traj_transform_utm",
    # round-5 addition: the conic CRS closed form (second projection family
    # through the same Arrow-batched kernel slot)
    "traj_transform_lcc",
    # round-7 addition: the multimodal family's heaviest stage (baseline
    # JPEG encode→decode per document through mapInPandas) — the first
    # codec-bound entry in the bench set, measuring Arrow batch + Python
    # kernel throughput end-to-end
    "mm_jpeg_features",
]


def sweep(spark, registry, sf_dir) -> dict:
    """Time every BENCH_QUERIES entry min-of-3 from a reset session."""
    from tools.probekit import cpu_ticks, reset_confs, steal_pct, timed_count

    sc = spark.sparkContext
    ticks_start = cpu_ticks()
    timings: dict[str, float] = {}
    for name in BENCH_QUERIES:
        fn = registry[name].fn
        reset_confs(spark)  # canonical session per query, by construction
        sc.setJobDescription(name)  # the query's jobs carry its name
        try:
            timings[name], n, runs = timed_count(lambda: fn(spark, sf_dir).count())
        finally:
            sc.setJobDescription(None)
        print(f"# {name}: {timings[name]}s ({n} rows; runs={runs})", flush=True)
    return {
        "total": round(sum(timings.values()), 3),
        "timings": timings,
        "steal_pct": steal_pct(ticks_start, cpu_ticks()),
    }


def render_final_line(result, sf_val) -> str:
    """The ONE driver-parsed JSON line. The driver keeps only the last 2000
    chars of stdout, so run lists stay on the preceding '#' lines;
    tests/test_probekit.py pins this line's worst-case length < 1900."""
    return json.dumps(
        {
            "metric": "headline_queries_wall_clock",
            "value": result["total"],
            "unit": "sec",
            "queries": result["timings"],
            "sf": sf_val,
            "noise": {"steal_pct": result["steal_pct"]},
        }
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from meos_rs_spark.registry import load_registry
    from tools.probekit import WARM_DIR, bench_session, warm_up

    spark = bench_session("meos-rs-spark-bench")
    registry = load_registry()

    if os.path.isdir(WARM_DIR):
        warm_up(registry, BENCH_QUERIES, spark)
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    result = sweep(spark, registry, sf_dir)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    print(render_final_line(result, sf_val), flush=True)


if __name__ == "__main__":
    main()
