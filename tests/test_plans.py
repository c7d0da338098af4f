"""Physical-plan audits — the 100 TB discipline checks (SURVEY.md §4).

These assert the *shape* of the plan, not the result: filters reach the
parquet scan, dimension joins broadcast, global top-k avoids a full sort
shuffle, LSH candidate generation never degenerates into a cartesian
product, and scans prune columns.
"""

from __future__ import annotations

import re

import pytest

from meos_rs_spark.registry import load_registry
from tests.conftest import SF_SMOKE


def _plan(spark, name: str) -> str:
    df = load_registry()[name].fn(spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "rel_projection_rename")
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_column_pruning(spark):
    plan = _plan(spark, "rel_topk_orders")
    read = plan.split("ReadSchema")[1][:250]
    assert "o_orderdate" not in read  # unused column pruned from the scan


def test_dimension_join_broadcasts(spark):
    plan = _plan(spark, "rel_join_inner_broadcast")
    assert "BroadcastHashJoin" in plan


def test_topk_is_take_ordered(spark):
    plan = _plan(spark, "rel_topk_orders")
    assert "TakeOrderedAndProject" in plan


def test_lsh_has_no_cartesian_product(spark):
    for name in ("dedup_minhash_lsh", "sim_ann_lsh", "box_stbox_overlap_join"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_minhash_intermediates_are_staged_not_cached(spark):
    # the shingle fact table and the bucket table materialize to parquet
    # staging tables (functions/staging.py) — every consumer is a plain scan,
    # no executor-memory pin (r3 verdict scale watch-item). The shingle
    # explode therefore runs exactly once regardless of consumer fan-out.
    plan = _plan(spark, "dedup_minhash_lsh")
    assert "InMemoryTableScan" not in plan
    assert plan.count("meos_rs_staging") >= 3  # buckets x2 sides + shingle rescans


def test_minhash_banding_path_prunes_shingle_arrays(spark):
    # the staged signature table carries the (heavy) shingle-set arrays for
    # the re-rank ONLY: the banding leg and the estimate's h-column reads
    # must prune them at the scan (ReadSchema without shs) — at corpus scale
    # the arrays dominate the table's bytes
    for name in ("dedup_minhash_lsh", "dedup_minhash_estimate"):
        plan = _plan(spark, name)
        schemas = [
            seg.split("ReadSchema")[1].splitlines()[0]
            for seg in plan.split("Scan parquet")[1:]
            if "meos_rs_staging" in seg[:400] and "ReadSchema" in seg
        ]
        assert schemas, name
        assert any("shs" not in schema for schema in schemas), (name, schemas)


def test_nearest_approach_not_point_quadratic(spark):
    # the only nested-loop join allowed is the K²-bounded distinct-id pair
    # build; the point-level joins must be equi-joins on the vessel id
    # (the r2 plan nested-looped raw point scans — quadratic in total points)
    plan = _plan(spark, "trajsim_nearest_approach")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    equi = sum(plan.count(j) for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))
    assert equi >= 2, plan[:2000]


def test_bucketed_join_is_exchange_free(spark):
    df = load_registry()["snk_bucketed_join"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    # both sides read the bucketed layout; the ONLY exchange is the final
    # groupBy — the join itself is shuffle-free
    assert plan.count("Bucketed: true") >= 2, plan[:2000]
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:2000]


def test_flagship_single_shuffle_agg(spark):
    plan = _plan(spark, "flagship_trip_pipeline")
    # one Exchange for the groupBy, then TakeOrdered — no second global sort
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "TakeOrderedAndProject" in plan


def test_ivf_candidate_search_is_one_map_pass(spark):
    # the whole candidate search is MAP-SIDE (one ArrowEvalPython kernel:
    # cell assignment + probe cell-ranking + pair cosine, evaluated
    # exactly once — r16, replacing the probe crossJoin + ranking window
    # + probe_cells broadcast + cell equi-join); the plan must carry NO
    # join and the only exchange is the final per-probe top-k window
    plan = _plan(spark, "sim_ann_ivf")
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, plan[:2000]
    assert plan.count("ivf_scores") == 1, plan[:2000]
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:2000]


def test_nearest_instant_is_bucket_equi_join(spark):
    # pair meeting happens on the hour-bucket equi key; the id_a < id_b
    # predicate is a post-join filter, not a nested-loop condition
    plan = _plan(spark, "trajsim_nearest_instant")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert any(j in plan for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))


def test_tcount_sweep_shuffles_are_bounded(spark):
    # sessionize window + span agg + delta agg; the final running sum runs
    # over the tiny change-point stream (single partition by design)
    plan = _plan(spark, "traj_tcount_sweep")
    assert "CartesianProduct" not in plan


def test_tcentroid_partial_aggregates(spark):
    # map-side partial agg (HashAggregate appears above and below the
    # exchange) so the shuffle carries one row per (bucket) per task
    plan = _plan(spark, "traj_tcentroid")
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange hashpartitioning") == 1


def test_partition_pruning_reaches_scan(spark):
    plan = _plan(spark, "src_partition_pruning")
    seg = plan.split("PartitionFilters")[1][:200] if "PartitionFilters" in plan else ""
    assert "o_orderstatus" in seg, plan[:2000]


def test_resample_single_vessel_shuffle(spark):
    # lead()-pair + map-side marker generation: ONE posit scan, ONE mmsi
    # hash exchange feeding both windows, markers exploded without any
    # union or join against the posit fact table (r5 VERDICT item 4)
    plan = _plan(spark, "traj_resample_linear")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Scan parquet") == 1, plan[:2000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "Union" not in plan


def test_decontaminate_probe_set_broadcasts(spark):
    plan = _plan(spark, "text_decontaminate")
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_pivot_explicit_values_single_shuffle(spark):
    # explicit pivot value list: no extra distinct-scan job; the canonical
    # plan is (priority, segment) pair agg -> pivotfirst agg, i.e. exactly
    # two hash exchanges, with the customer side broadcast
    plan = _plan(spark, "rel_pivot")
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:2000]


def test_shard_packing_window_is_block_partitioned(spark):
    # the corpus-wide prefix sum must NOT be one global window: the only
    # single-partition window allowed is over the tiny block-offset table,
    # and the per-doc window must be hash-partitioned by block
    plan = _plan(spark, "text_shard_packing")
    assert "Exchange hashpartitioning(block" in plan, plan[:2000]
    assert "BroadcastExchange" in plan  # block offsets rejoin via broadcast


def test_hash_split_is_scan_only(spark):
    # stateless per-row map: no exchange of any kind in the plan
    plan = _plan(spark, "text_hash_split")
    assert "Exchange" not in plan, plan[:2000]


def test_space_time_grid_partial_agg(spark):
    # one shuffle on the cell key, with a map-side partial aggregate before it
    plan = _plan(spark, "traj_space_time_grid")
    assert plan.count("Exchange hashpartitioning") <= 2  # partial c.d. expand
    assert "HashAggregate" in plan


def test_kmeans_assignment_is_map_side(spark):
    # centroid assignment must be a zero-join map pass (ArrowEvalPython
    # against the staged side-table seeds — no K-fold corpus explode, no
    # per-vec argmin window); the ONLY exchange is the (cluster, dim) agg
    plan = _plan(spark, "sim_kmeans_iter")
    assert "Join" not in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    assert plan.count("nearest_centroid") == 1, plan[:2000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_salted_join_is_smj_on_salted_key(spark):
    # the demo must actually exercise the shuffle-join path (broadcast would
    # make salting moot) and join on the composite (key, salt)
    plan = _plan(spark, "rel_salted_join")
    assert "SortMergeJoin" in plan, plan[:2000]
    assert "BroadcastHashJoin" not in plan, plan[:2000]


def test_tmax_sweep_interval_join_is_equi(spark):
    # the interval-tree stabbing-max must stay on equi-joins (rank lookups,
    # instant-span rank join) and windows, never a nested loop over ranges
    plan = _plan(spark, "traj_tmax_sweep")
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_knn_graph_join_is_bucket_equi(spark):
    # the all-corpus pair build must ride the LSH bucket equi-key
    plan = _plan(spark, "sim_knn_graph")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_pq_ann_is_one_map_pass(spark):
    # encode + ADC totalling happen in ONE map-side Arrow pass against the
    # worker-side codebook/probe LUT (r16: replaced the 4-broadcast-join
    # ADC shape); the plan must carry NO join of any kind, a single
    # kernel evaluation, and the only exchange is the final per-probe
    # top-k window
    plan = _plan(spark, "sim_pq_ann")
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, plan[:2000]
    assert plan.count("pq_adc") == 1, plan[:2000]
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:2000]


def test_xy_envelope_json_parse_is_single_eval(spark):
    """r12 VERDICT item 1: the XY envelope must not let Catalyst
    alias-substitute its lat-validity predicate through the posit
    projection — that shape evaluated get_json_object at Filter AND
    Project (+ scan DataFilters), a ~1.6x constant factor on every
    coordinate-consuming twin. The filter barrier in posits_xy pins the
    parse to exactly ONE site in the executed plan, while the cheap
    value-IS-NOT-NULL conjunct still reaches the parquet scan."""
    from meos_rs_spark.functions.trajectory import posits_xy

    df = posits_xy(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("get_json_object") == 1, plan[:3000]
    assert "IsNotNull(value)" in plan.split("PushedFilters")[1][:200], plan[:3000]
    # and through representative consumers' full plans — including the
    # flagship (the driver's entry smoke), enveloped in r14 tranche 2a
    for name in ("traj_stbox_z_path", "flagship_trip_pipeline"):
        full = _plan(spark, name)
        assert full.count("get_json_object") == 1, (name, full[:3000])


def test_stbox_z_path_single_shuffle(spark):
    # assembly is ONE groupBy(mmsi) exchange; extent + 3D length both read
    # the assembled array column, so no second aggregation pass or join
    plan = _plan(spark, "traj_stbox_z_path")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "Join" not in plan, plan[:2000]


def test_utm_transform_is_arrow_batched_map(spark):
    # the CRS kernel must be an Arrow-batched pandas_udf (ArrowEvalPython),
    # never row-at-a-time (BatchEvalPython); one window shuffle for the
    # per-vessel head bound, nothing else
    plan = _plan(spark, "traj_transform_utm")
    assert "ArrowEvalPython" in plan, plan[:2000]
    assert "BatchEvalPython" not in plan, plan[:2000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_lcc_transform_is_arrow_batched_map(spark):
    # the conic kernel rides the same contract as the UTM one: Arrow-batched
    # pandas_udf, one window shuffle for the per-vessel head bound
    plan = _plan(spark, "traj_transform_lcc")
    assert "ArrowEvalPython" in plan, plan[:2000]
    assert "BatchEvalPython" not in plan, plan[:2000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_turning_points_single_exchange(spark):
    # two stacked windows + final agg all share one (mmsi) partitioning:
    # exactly one shuffle of the posit fact
    plan = _plan(spark, "traj_turning_points")
    n_exch = plan.count("Exchange hashpartitioning") + plan.count("Exchange rangepartitioning")
    assert n_exch == 1, plan[:3000]


def test_pagerank_no_cartesian(spark):
    # iterative fan-out must stay equi-join shaped; the 1-row count joins
    # broadcast (BNLJ on a single-row side is fine, cartesian blowup is not)
    plan = _plan(spark, "sim_pagerank")
    assert "CartesianProduct" not in plan


def test_funnel_fold_is_two_exchanges(spark):
    # state-machine fold: one user-key shuffle + the global one-row agg —
    # the funnel must NOT plan per-step joins back to the fact
    plan = _plan(spark, "rel_funnel_steps")
    n_exch = plan.count("Exchange hashpartitioning") + plan.count("Exchange SinglePartition")
    assert n_exch <= 2, plan[:3000]
    assert "Join" not in plan, plan[:3000]


def test_cohort_sizes_broadcast(spark):
    plan = _plan(spark, "rel_cohort_retention")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_semdedup_pair_join_is_equi(spark):
    # cell assignment is ONE map-side ArrowEvalPython pass feeding ONE
    # cluster_id exchange that both pair-join sides and the members census
    # reuse (r16: the staged narrow-cells + embedding re-attach joins were
    # replaced by the carried-along shape — four corpus exchanges → one);
    # the within-cluster pair generation must equi-join on cluster_id
    plan = _plan(spark, "dedup_semantic")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    equi = sum(plan.count(j) for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))
    assert equi >= 1, plan[:2000]
    # the static plan carries one assignment-kernel site per consumer
    # reference (a, b, members — AQE stage reuse collapses them to one
    # executed map stage); the nondeterministic pin keeps Catalyst from
    # cloning the kernel into join-key null filters, which would double
    # the count per site
    assert plan.count("nearest_centroid") == 3, plan[:2000]


def test_od_matrix_is_two_stage_agg(spark):
    # endpoint argmin/argmax via struct min/max: no window, no join, exactly
    # the mmsi aggregation + the tiny grid-cell rollup
    plan = _plan(spark, "traj_od_matrix")
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:2000]


def test_mixture_weights_broadcasts_totals(spark):
    # the 1-row totals frame joins back as a broadcast; nothing quadratic
    plan = _plan(spark, "text_mixture_weights")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan[:2000]


def test_bloom_join_prunes_before_exact_semi(spark):
    # build side folds to one tiny bitmap row (broadcast); the fact-side
    # probe is pure Column space (no join for the bit tests beyond the 1-row
    # broadcast), and the exact semi-join broadcasts the dim — no shuffle of
    # the fact table anywhere
    plan = _plan(spark, "rel_bloom_join")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:2000]  # exact semi-join
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # the 1-row bitmap attach


def test_tfloat_sync_single_pair_shuffle(spark):
    # merge agg + both ignore-nulls windows share the pair_id partitioning:
    # the synchronization never joins per instant and never goes global
    plan = _plan(spark, "ttype_tfloat_sync_arith")
    assert "Join" not in plan, plan[:2000]
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:3000]


@pytest.mark.parametrize("name", ["box_stbox_overlap_join", "box_stbox_overlap_banded"])
def test_banded_overlap_join_shape(spark, name):
    """Both J5 grid joins' 100 TB shape (r9): an equi-join on the cell +
    chunk keys (never cartesian/BNLJ), and the serialization guard —
    explicit-count (AQE-coalesce-exempt) exchanges feeding the join on both
    sides plus the pre-explode vbox exchange, visible as user-specified
    repartitions in the plan. Without them the few-MB cell exchanges
    coalesce to ~1 task and the candidate refinement runs serially
    (measured 40s at sf0.1 — SCALE_r09.md §1).

    Built at the driver's default 200 shuffle partitions, on a new session
    so the shared one's conf is never touched: at the suite's 8, equal to
    its parallelism, Spark drops the pre-explode repartition(8, key) as
    redundant over the box aggregate's own hashpartitioning(key, 8)."""
    driver_like = spark.newSession()
    driver_like.conf.set("spark.sql.shuffle.partitions", "200")
    plan = _plan(driver_like, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # an equi join (AQE may pick BHJ at toy scale; SMJ/SHJ at real scale)
    assert "Join" in plan and ("HashJoin" in plan or "SortMergeJoin" in plan)
    # the user-specified (AQE-exempt) exchanges: vbox pre-explode + both
    # join sides — REPARTITION_BY_NUM is the plan marker for an
    # explicit-count repartition
    assert plan.count("REPARTITION_BY_NUM") >= 3
    repartitions = [line for line in plan.splitlines() if "REPARTITION_BY_NUM" in line]
    assert any("hashpartitioning(mmsi#" in line for line in repartitions), name
    # one distinct keyed exchange per join side (the banded plan repeats
    # them under its two union legs)
    join_sides = {
        re.sub(r"#\d+L?", "", line.split("hashpartitioning(")[1].split(")")[0])
        for line in repartitions
        if ", ca#" in line and ", cb#" in line
    }
    assert len(join_sides) == 2, (name, join_sides)


def test_value_envelope_is_scan_pushed_and_parse_free(spark):
    """r14 tranche 2b: the VALUE envelope (posits_v) is `value IS NOT NULL`
    only — the predicate must push into the parquet scan, and a consumer
    that never touches lat must not pay any get_json_object at all (the
    lat projection prunes away; no filter barrier is needed because no
    expensive expression sits under the envelope predicate)."""
    from pyspark.sql import functions as F

    from meos_rs_spark.functions.trajectory import posits_v

    df = posits_v(spark, SF_SMOKE).select("mmsi", "ts", "lon", "event_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "IsNotNull(value)" in plan.split("PushedFilters")[1][:200], plan[:3000]
    assert "get_json_object" not in plan, plan[:3000]
    # negative space: a downstream lat PREDICATE over posits_v hits the
    # Catalyst alias-substitution hazard (parse duplicated at Filter +
    # Project + scan DataFilters) because this view carries no barrier —
    # which is exactly why every lat-predicated consumer uses posits_xy
    # (barriered) and posits_v is reserved for lat-free bodies. Pin the
    # hazard so a Spark version that changes it is noticed.
    df2 = posits_v(spark, SF_SMOKE).filter(F.col("lat") > 0)
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("get_json_object") >= 2, plan2[:3000]
    # representative full consumers: the time-only sessionizer is
    # parse-free end-to-end; the value-channel sweep parses zero times too
    for name in ("traj_sessionize", "traj_tcount_sweep", "traj_twavg"):
        full = _plan(spark, name)
        assert "get_json_object" not in full, (name, full[:3000])
        assert "IsNotNull(value)" in full.split("PushedFilters")[1][:250], (
            name, full[:3000],
        )
