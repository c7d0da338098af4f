"""Round-8 skew probe (r7 VERDICT item 3): measure the engine under a
genuinely HOT key, not just more keys.

``gen_scale --skew`` concentrates ~22.5% of each fact table on one
customer / supplier / vessel and plants ~900 identical copies of one doc
template (see ``tools/gen_scale.py``); this runner then measures, in one
sitting on the same session (min-of-3 since r9 — bench.py's
honest-timing protocol):

1. the skew-affected bench queries on the skewed ×10 fixture vs the
   uniform ×10 fixture (same row counts, so the ratio isolates the skew;
   min-of-3 since r9 — timed_count's default);
2. the LSH bucket census: how many (band, key) buckets exceed
   ``dedup.MAX_BUCKET`` and how many doc slots the cap drops — the cap
   must be observed BINDING on the skewed corpus and idle on the uniform
   one;
3. the salted-join contest: ``rel_salted_join`` vs its unsalted twin
   (same merge-hint SMJ shape, no salt) on the skewed fixture, with AQE
   skew-join disabled (the bucketed-layout case the salt defends) and
   re-enabled (AQE as the first-line defense on plain shuffles).

``python -m tools.probe_skew [skew_dir] [uniform_dir]`` prints a markdown
fragment for SCALE_r08.md.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from tools.probekit import timed_count  # noqa: E402

#: bench queries whose input tables carry the planted hot keys (events /
#: lineitem / orders / documents); the embeddings-only ANN family and the
#: map-only text/codec passes see identical per-row work either way.
AFFECTED = [
    "flagship_trip_pipeline",
    "rel_pricing_summary",
    "rel_join_multiway",
    "win_running_total",
    "traj_assembly",
    "traj_resample_linear",
    "traj_stbox_z_path",
    "traj_transform_utm",
    "dedup_minhash_lsh",
]


def lsh_bucket_census(spark, sf_dir: str) -> dict:
    """(band, key) bucket-size census over the SAME banding the query runs —
    buckets above MAX_BUCKET are the ones ``dedup_minhash_lsh`` drops whole."""
    from meos_rs_spark.queries.dedup import (
        MAX_BUCKET,
        N_BANDS,
        ROWS_PER_BAND,
        _staged_sig,
    )

    sig = _staged_sig(spark, sf_dir)
    band_cols = [
        F.md5(
            F.concat_ws("|", *[f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)])
        ).alias(f"band{b}")
        for b in range(N_BANDS)
    ]
    buckets = (
        sig.select("doc_id", *band_cols)
        .select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("key"))
                        for b in range(N_BANDS)
                    ]
                )
            ).alias("bk"),
        )
        .groupBy("bk.band_id", "bk.key")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    row = buckets.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("sz").alias("max_bucket"),
        F.sum(F.when(F.col("sz") > MAX_BUCKET, 1).otherwise(0)).alias("n_over_cap"),
        F.sum(F.when(F.col("sz") > MAX_BUCKET, F.col("sz")).otherwise(0)).alias(
            "doc_slots_dropped"
        ),
    ).collect()[0]
    return {**row.asDict(), "cap": MAX_BUCKET}


#: r9 (r8 VERDICT item 5): the r8 structural rewrites were contested only on
#: uniform/degenerate shapes — the skew probe ran BEFORE they landed. Each
#: is re-contested here on the hot-vessel fixtures (22.5% and 47.9% of all
#: events on one vessel): the chunk-salted grid join (hot vessel's domain-
#: spanning box lands in EVERY cell), the rank-space interval tree (one
#: vessel's sessions dominate the tree), the sorted-merge as-of (one user
#: dominates the merged stream), and the new banded variant. Per leg the
#: shuffle max-task share is recorded (probekit.shuffle_delta) — the salt
#: is observed binding when the share stays ~1/partitions under skew.
R8_REWRITES = [
    "box_stbox_overlap_join",
    "box_stbox_overlap_banded",
    "traj_tmax_sweep",
    "rel_join_asof",
    "rel_join_asof_nearest",
]

#: single runs for the output-quadratic pair joins (~50-110 s/leg); min-of-N
#: adds little when the signal sought is a multi-× superlinear blowup.
_REWRITE_RUNS = {"box_stbox_overlap_join": 1, "box_stbox_overlap_banded": 1}

#: the pair joins' qualifying-pair mass is quadratic on replicated fixtures
#: (×4 output at ×20 vs ×10) — contest them on the ×10 uniform/skew pair
#: only; the cheap rewrites run all four legs including the 47.9% fixture.
_X10_ONLY = {"box_stbox_overlap_join", "box_stbox_overlap_banded"}


def rewrite_skew_contest(spark, legs: list[tuple[str, str]]) -> None:
    """Time each r8-rewrite query per fixture leg, with shuffle max-task share."""
    from meos_rs_spark.registry import load_registry
    from tools.probekit import (
        reset_confs,
        shuffle_delta,
        shuffle_stage_keys,
        task_share,
        timed_count,
    )

    registry = load_registry()
    print("| query | fixture | sec | rows | shuffle MB | max-task share |")
    print("|---|---|---|---|---|---|")
    for name in R8_REWRITES:
        fn = registry[name].fn
        for label, d in legs:
            if name in _X10_ONLY and "×20" in label:
                continue
            reset_confs(spark)
            runs = _REWRITE_RUNS.get(name, 2)
            before = shuffle_stage_keys(spark)
            t, n, _ = timed_count(lambda: fn(spark, d).count(), runs=runs)
            s = shuffle_delta(spark, before)
            # the delta spans all N identical runs: per-run bytes = total/N
            per_run = s["shuffle_read"] / runs if s else 0
            mb = f"{per_run / 1048576:.1f}" if s else "?"
            share = f"{task_share(s, runs):.3f}" if per_run > 0 else "?"
            print(f"| {name} | {label} | {t} | {n} | {mb} | {share} |", flush=True)


def _agg(joined):
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )


def salt_contest(spark, sf_dir: str) -> list[tuple[str, str, float, bool]]:
    """rel_salted_join's mechanism vs its unsalted twin, scan-isolated.

    End-to-end timings at toy scale are scan-dominated (the whole events
    table is a few tens of MB), which buries the join-stage delta the salt
    targets — at 100 TB the scan is distributed and the skewed shuffle
    join IS the bottleneck. So the fact projection is persisted first and
    only the join+agg is timed. AQE's skew-join thresholds are likewise
    lowered to scale-equivalent values (default 256 MB assumes cluster
    partitions; the hot partition here is ~15 MB) for the AQE leg — at
    real scale the default thresholds bind by themselves.

    AQE partition COALESCING is disabled for every leg (same
    scale-equivalence argument, opposite direction): at toy scale the
    whole salted shuffle is a few tens of MB, so stock 64 MB advisory
    coalescing merges ALL its partitions — hot key, salt spread and all —
    into one task, and the contest would measure that artifact instead of
    the hot-key serialization the salt targets; at 100 TB every post-
    shuffle partition exceeds the advisory size and no such merge exists.
    (The r8 review caught the previous version of this function leaking
    the AQE leg's lowered advisory size into the salted leg — the
    salted-vs-unsalted ratio it reported measured config drift.)

    Returns (plan, aqe, seconds, plan_shows_skew_split) rows.
    """
    from meos_rs_spark.queries.relational import _JSALT
    from meos_rs_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 25).cast("int").alias("__nkey"),
        F.pmod(F.hash("event_id"), F.lit(_JSALT)).alias("__salt"),
        "value",
    )
    ev = ev.persist()
    ev.count()
    nation = load_table(spark, sf_dir, "nation")
    dim_plain = nation.select("n_nationkey", "n_name").hint("merge")
    dim_salted = nation.select(
        "n_nationkey",
        "n_name",
        F.explode(F.sequence(F.lit(0), F.lit(_JSALT - 1))).alias("__salt"),
    ).hint("merge")

    # builders, not DataFrames: a fresh frame per timed run forces a fresh
    # QueryExecution — re-collecting ONE adaptive frame would reuse its
    # already-materialized shuffle stages and time only the final stage
    def unsalted():
        return _agg(ev.join(dim_plain, ev.__nkey == dim_plain.n_nationkey))

    def salted():
        return _agg(
            ev.join(
                dim_salted,
                (ev.__nkey == dim_salted.n_nationkey)
                & (ev.__salt == dim_salted.__salt),
            )
        )

    from tools.probekit import CONTEST_CONFS, reset_confs

    rows = []
    skew_confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2m",
        # the join output feeds the groupBy's exchange; without force, the
        # no-extra-shuffle rule vetoes the split even when the partition
        # qualifies
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    # every conf a leg touches must be in the shared reset list, or the
    # per-leg reset silently stops covering it (the r8 drift class)
    assert set(skew_confs) <= set(CONTEST_CONFS)
    # try/finally: an exception in any leg must not leak the disabled
    # coalescing / per-leg skew confs (or the persisted fact) into the
    # shared session — later probe sections would time under drifted confs,
    # the exact failure class the per-leg reset exists for (r8 ADVICE 2)
    try:
        for plan, build, aqe in (
            ("unsalted SMJ", unsalted, "off"),
            ("unsalted SMJ", unsalted, "on (scale-equiv thresholds)"),
            ("salted (key, salt) SMJ", salted, "off"),
        ):
            # every leg starts from the CANONICAL confs (probekit.
            # reset_confs — shared with bench.py): the "on" leg's lowered
            # advisoryPartitionSizeInBytes changes AQE coalescing for every
            # shuffle, so leaving it set would time the salted "off" leg
            # under a different partition layout than the unsalted "off"
            # leg it is contrasted with (r8 review find — the salted-vs-
            # unsalted ratio would measure config drift, not the salt)
            reset_confs(spark)
            spark.conf.set(
                "spark.sql.adaptive.coalescePartitions.enabled", "false"
            )
            if aqe == "off":
                spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
            else:
                for k, v in skew_confs.items():
                    spark.conf.set(k, v)
            last = None

            def run():
                nonlocal last
                last = build()
                # collect(), not count(): count() builds and runs a SEPARATE
                # QueryExecution, so the frame's own executedPlan would stay
                # isFinalPlan=false and the skew-split check would read a
                # never-executed plan
                return len(last.collect())

            t, _, _ = timed_count(run, runs=3)
            final = last._jdf.queryExecution().executedPlan().toString()
            rows.append(
                (plan, aqe, t, "isSkewJoin=true" in final or "skew=true" in final)
            )
    finally:
        # restore the canonical session so later sections time clean
        reset_confs(spark)
        ev.unpersist()
    return rows


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    skew_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(repo, ".scale", "sf1_x10skew")
    unif_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(repo, ".scale", "sf1_x10")

    from meos_rs_spark.registry import load_registry
    from tools.probekit import bench_session, warm_up

    registry = load_registry()
    spark = bench_session("meos-rs-spark-skew-probe")
    if os.path.isdir("/root/testdata/sf0.001"):  # same guard as bench.py
        warm_up(registry, AFFECTED, spark)

    print("## Affected bench queries: uniform ×10 vs skewed ×10 (min-of-3 sec)\n")
    print("| query | uniform ×10 | skewed ×10 | skew/uniform |")
    print("|---|---|---|---|")
    for name in AFFECTED:
        fn = registry[name].fn
        tu, _, _ = timed_count(lambda: fn(spark, unif_dir).count())
        ts, _, _ = timed_count(lambda: fn(spark, skew_dir).count())
        print(f"| {name} | {tu} | {ts} | {ts / tu:.2f} |", flush=True)

    print("\n## LSH bucket-cap census (dedup.MAX_BUCKET binding?)\n")
    print("| fixture | buckets | max size | over cap | doc slots dropped |")
    print("|---|---|---|---|---|")
    for label, d in (("uniform ×10", unif_dir), ("skewed ×10", skew_dir)):
        c = lsh_bucket_census(spark, d)
        print(
            f"| {label} | {c['n_buckets']} | {c['max_bucket']} | "
            f"{c['n_over_cap']} | {c['doc_slots_dropped']} |",
            flush=True,
        )

    print("\n## r8 rewrites under hot-vessel skew (r8 VERDICT item 5)\n")
    rewrite_legs = [("uniform ×10", unif_dir), ("skewed ×10 (22.5% hot)", skew_dir)]
    unif20 = os.path.join(repo, ".scale", "sf1_x20")
    heavy20 = os.path.join(repo, ".scale", "sf1_x20skew2")
    if os.path.isdir(unif20):
        rewrite_legs.append(("uniform ×20", unif20))
    if os.path.isdir(heavy20):
        rewrite_legs.append(("skewed ×20 (47.9% hot)", heavy20))
    rewrite_skew_contest(spark, rewrite_legs)

    print(
        "\n## Salted vs unsalted join, scan-isolated join+agg stage "
        "(min-of-3 sec)\n"
    )
    contest_dirs = [(os.path.basename(skew_dir), skew_dir)]
    heavy = os.path.join(repo, ".scale", "sf1_x20skew2")
    if os.path.isdir(heavy):
        contest_dirs.append((os.path.basename(heavy) + " (47.9% hot)", heavy))
    print("| fixture | plan | AQE skew-join | time | skew split in plan |")
    print("|---|---|---|---|---|")
    for label, d in contest_dirs:
        for plan, aqe, t, split in salt_contest(spark, d):
            print(f"| {label} | {plan} | {aqe} | {t} | {split} |", flush=True)


if __name__ == "__main__":
    main()
