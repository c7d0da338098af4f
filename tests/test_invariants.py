"""Mathematical invariants of the round-3 numeric operators, checked on the
sf0.001 fixture through the real Spark queries (complements the DuckDB
parity twins: parity proves engine agreement, these prove the semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

# envelope views matching the queries under test (r14): twavg consumes the
# VALUE envelope, resample the XY envelope — recomputing bounds from the
# same view keeps these exact on NULL-bearing data, not just the fixture
from meos_rs_spark.functions.trajectory import posits_v, posits_xy
from meos_rs_spark.registry import load_registry
from tests.conftest import SF_SMOKE


def _q(spark, name):
    return load_registry()[name].fn(spark, SF_SMOKE)


def test_twavg_bounded_by_extremes(spark):
    ext = posits_v(spark, SF_SMOKE).groupBy("mmsi").agg(
        F.min("lon").alias("lo"), F.max("lon").alias("hi")
    )
    bad = (
        _q(spark, "traj_twavg")
        .join(ext, "mmsi")
        .filter((F.col("twavg_lon") < F.col("lo") - 1e-9) | (F.col("twavg_lon") > F.col("hi") + 1e-9))
    )
    assert bad.count() == 0


def test_resample_interpolates_within_envelope(spark):
    ext = posits_xy(spark, SF_SMOKE).groupBy("mmsi").agg(
        F.min("lon").alias("lo_x"), F.max("lon").alias("hi_x"),
        F.min("lat").alias("lo_y"), F.max("lat").alias("hi_y"),
        F.min("ts").alias("t0"), F.max("ts").alias("t1"),
    )
    r = _q(spark, "traj_resample_linear").join(ext, "mmsi")
    assert r.filter(
        (F.col("lon_i") < F.col("lo_x") - 1e-9) | (F.col("lon_i") > F.col("hi_x") + 1e-9)
        | (F.col("lat_i") < F.col("lo_y") - 1e-9) | (F.col("lat_i") > F.col("hi_y") + 1e-9)
    ).count() == 0
    # every grid instant stays inside the vessel's observed span
    assert r.filter((F.col("g") < F.col("t0")) | (F.col("g") > F.col("t1"))).count() == 0


def test_tcount_sweep_conserves(spark):
    rows = _q(spark, "traj_tcount_sweep").orderBy("ts").collect()
    assert all(r.active >= 0 for r in rows)
    # every opened session closes: the sweep ends at zero active trips
    assert rows[-1].active == 0
    assert sum(r.net_delta for r in rows) == 0


def test_tdwithin_counts_consistent(spark):
    bad = _q(spark, "trajsim_tdwithin").filter(
        (F.col("n_within") > F.col("n_sync")) | (F.col("n_within") < 0)
    )
    assert bad.count() == 0


def test_stops_are_long_enough(spark):
    rows = _q(spark, "traj_stops").collect()
    assert all(r.duration_us >= 43_200_000_000 for r in rows)
    assert all(r.n_pts >= 1 for r in rows)


# --- sampling / sharding operators (round-3 session-3) ----------------------


def test_hash_split_partitions_the_corpus(spark):
    from meos_rs_spark.sources.tables import load_table

    s = _q(spark, "text_hash_split")
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert s.count() == n_docs  # every doc gets exactly one assignment
    counts = {r["split"]: r["n"] for r in s.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) <= {"train", "val", "test"}
    # ~90/5/5 split: train must dominate with a wide tolerance at tiny sf
    assert counts.get("train", 0) / n_docs > 0.75


def test_quota_sample_exact_per_group(spark):
    from meos_rs_spark.queries.sampling import _QUOTA
    from meos_rs_spark.sources.tables import load_table

    got = {
        r["lang"]: r["n"]
        for r in _q(spark, "text_quota_sample").groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    avail = {
        r["lang"]: r["n"]
        for r in load_table(spark, SF_SMOKE, "documents").groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert got == {lang: min(_QUOTA, n) for lang, n in avail.items()}


def test_shard_packing_offsets_are_a_prefix_sum(spark):
    from meos_rs_spark.queries.sampling import _SHARD_BUDGET

    rows = sorted(_q(spark, "text_shard_packing").collect(), key=lambda r: r["doc_id"])
    running = 0
    for r in rows:
        assert r["start_offset"] == running  # exclusive prefix sum, doc_id order
        assert r["shard_id"] == running // _SHARD_BUDGET
        running += r["n_tokens"]
    # shard ids are contiguous from 0
    shard_ids = sorted({r["shard_id"] for r in rows})
    assert shard_ids == list(range(len(shard_ids)))


def test_space_time_grid_conserves_posits(spark):
    g = _q(spark, "traj_space_time_grid")
    total = g.agg(F.sum("n_posits")).collect()[0][0]
    assert total == posits_xy(spark, SF_SMOKE).count()
    # a cell never counts more vessels than posits
    assert g.filter(F.col("n_vessels") > F.col("n_posits")).count() == 0


def test_kmeans_iter_conserves_membership(spark):
    from meos_rs_spark.sources.tables import load_table

    km = _q(spark, "sim_kmeans_iter")
    n_vecs = load_table(spark, SF_SMOKE, "embeddings").count()
    dims = km.groupBy("cluster_id").agg(
        F.count("*").alias("n_dims"), F.min("n_members").alias("lo"), F.max("n_members").alias("hi")
    ).collect()
    assert all(r["n_dims"] == 64 and r["lo"] == r["hi"] for r in dims)  # consistent across dims
    assert sum(r["lo"] for r in dims) == n_vecs  # every vector in exactly one cluster


def test_at_value_time_bounded_by_total(spark):
    r = _q(spark, "traj_at_value")
    assert r.filter((F.col("in_range_us") < 0) | (F.col("in_range_us") > F.col("total_us"))).count() == 0
    assert r.filter(F.col("n_partial") > F.col("n_segments")).count() == 0


def test_chunking_covers_every_token(spark):
    from meos_rs_spark.queries.sampling import _doc_tokens
    from meos_rs_spark.queries.textanalysis import _CHUNK_SIZE, _CHUNK_STRIDE

    ch = _q(spark, "text_chunking").groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"), F.sum("chunk_tokens").alias("tok_with_overlap")
    )
    d = _doc_tokens(spark, SF_SMOKE).join(ch, "doc_id")
    # overlap means chunk-token sum >= doc tokens; chunk count is the stride formula
    assert d.filter(F.col("tok_with_overlap") < F.col("n_tokens")).count() == 0
    assert d.filter(
        F.col("n_chunks") != (F.floor((F.col("n_tokens") - 1) / _CHUNK_STRIDE) + 1)
    ).count() == 0
    assert _CHUNK_SIZE > _CHUNK_STRIDE


def test_knn_graph_shape(spark):
    g = _q(spark, "sim_knn_graph")
    assert g.filter(F.col("src") == F.col("dst")).count() == 0
    assert g.filter((F.col("nbr_rank") < 1) | (F.col("nbr_rank") > 3)).count() == 0
    # at most k neighbors per source
    assert g.groupBy("src").count().filter(F.col("count") > 3).count() == 0


def test_unigram_logprob_positive(spark):
    s = _q(spark, "text_unigram_logprob")
    assert s.filter(F.col("mean_nll") <= 0).count() == 0


def test_turning_points_bounded(spark):
    import math

    df = _q(spark, "traj_turning_points")
    bad = df.filter(
        (F.col("max_abs_turn") > math.pi + 1e-6)
        | (F.col("n_sharp") > F.col("n_turns"))
        | ((F.col("n_sharp") > 0) & F.col("first_sharp_event").isNull())
    )
    assert bad.count() == 0


def test_pagerank_mass_conserved(spark):
    # with dangling mass dropped: base mass 0.15 <= total <= 1 (+eps); pr > 0
    df = _q(spark, "sim_pagerank")
    assert df.filter(F.col("pr") <= 0).count() == 0
    total = df.agg(F.sum("pr")).first()[0]
    assert 0.15 - 1e-9 <= total <= 1.0 + 1e-9, total


def test_pq_codes_approximate_exact_topk(spark):
    # PQ is lossy, but the ADC ranking must still recover a chunk of the
    # exact cosine top-k (same probes, k=10): recall@10 >= 0.2 on the fixture
    pq = _q(spark, "sim_pq_ann").select("probe_id", "vec_id")
    exact = _q(spark, "sim_cosine_topk").select("probe_id", "vec_id")
    n_probe = exact.select("probe_id").distinct().count()
    hits = pq.intersect(exact).count()
    assert hits / (10 * n_probe) >= 0.2, hits


def test_semdedup_accounting(spark):
    rows = _q(spark, "dedup_semantic").collect()
    assert len(rows) > 0
    for r in rows:
        assert r.n_kept + r.n_removed == r.n_members
        assert 0 <= r.n_removed <= r.n_dup_pairs  # each removed doc has >=1 pair
        assert r.n_kept >= 1  # a cluster can never dedup away entirely
    # membership partitions the corpus
    emb_n = _q(spark, "dedup_semantic").agg(F.sum("n_members")).collect()[0][0]
    from meos_rs_spark.sources.tables import load_table
    assert emb_n == load_table(spark, SF_SMOKE, "embeddings").count()


def test_od_matrix_conserves_trips(spark):
    od = _q(spark, "traj_od_matrix")
    n_trips = od.agg(F.sum("n_trips")).collect()[0][0]
    n_vessels = posits_xy(spark, SF_SMOKE).select("mmsi").distinct().count()
    assert n_trips == n_vessels  # exactly one OD pair per vessel
    assert od.filter(F.col("avg_disp2") < 0).count() == 0


def test_mixture_weights_normalize(spark):
    rows = _q(spark, "text_mixture_weights").collect()
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-9
    # resampling at mix_weight equalizes: each domain's weighted share is 1/D
    d = len(rows)
    for r in rows:
        assert abs(r.mix_weight * r.token_share - 1.0 / d) < 1e-9


def test_gopher_verdict_is_conjunction(spark):
    g = _q(spark, "text_gopher_rules")
    bad = g.filter(
        F.col("passes_gopher")
        != (F.col("g_len") * F.col("g_mwl") * F.col("g_stop") * F.col("g_dup"))
    )
    assert bad.count() == 0
    # rules actually discriminate on this fixture
    n = g.count()
    npass = g.filter(F.col("passes_gopher") == 1).count()
    assert 0 < npass < n


def test_zorder_key_locality(spark):
    z = _q(spark, "traj_zorder_key")
    assert z.filter(F.col("z_min") < 0).count() == 0
    assert z.filter(F.col("z_max") >= (1 << 32)).count() == 0  # 2x16-bit lanes
    assert z.filter(F.col("n_cells") > F.col("n_points")).count() == 0
    # morton preserves the quantized point: interleave is a bijection
    from meos_rs_spark.queries.trajectory import _morton_spark
    pts = posits_xy(spark, SF_SMOKE).limit(200).select(
        F.round(F.col("lon") * 100, 0).cast("bigint").alias("qx"),
        F.round(F.col("lat") * 100, 0).cast("bigint").alias("qy"),
    )
    zz = pts.select("qx", "qy", _morton_spark(F.col("qx"), F.col("qy")).alias("z"))
    # de-interleave and compare
    back = zz.select(
        "qx", "qy",
        sum(F.shiftleft(F.shiftright(F.col("z"), 2 * i + 1).bitwiseAND(F.lit(1)), i) for i in range(16)).alias("rx"),
        sum(F.shiftleft(F.shiftright(F.col("z"), 2 * i).bitwiseAND(F.lit(1)), i) for i in range(16)).alias("ry"),
    )
    assert back.filter((F.col("rx") != F.col("qx")) | (F.col("ry") != F.col("qy"))).count() == 0


def test_scd2_intervals_partition_timeline(spark):
    v = _q(spark, "rel_scd2_intervals")
    # exactly one open (current) version per user
    cur = v.groupBy("user_id").agg(F.sum("is_current").alias("nc"))
    assert cur.filter(F.col("nc") != 1).count() == 0
    # versions chain: valid_to of version k equals valid_from of version k+1
    a = v.select("user_id", "version", "valid_to")
    b = v.select("user_id", (F.col("version") - 1).alias("version"), F.col("valid_from").alias("nxt"))
    chained = a.join(b, ["user_id", "version"])
    assert chained.filter(F.col("valid_to") != F.col("nxt")).count() == 0
    # no zero-length or inverted intervals
    assert v.filter(F.col("valid_to") <= F.col("valid_from")).count() == 0


def test_approx_percentiles_gate_and_monotone(spark):
    rows = _q(spark, "rel_approx_percentiles").collect()
    assert len(rows) > 0
    for r in rows:
        assert r.ok_p50 == 1 and r.ok_p90 == 1 and r.ok_p99 == 1
        assert r.exact_p50 <= r.exact_p90 <= r.exact_p99


def test_mmr_diversity_tradeoff(spark):
    rows = _q(spark, "sim_mmr_rerank").collect()
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r.probe_id, {})[r.sel_rank] = r
    for probe, sel in by_probe.items():
        assert set(sel) == {1, 2, 3}
        assert len({sel[k].vec_id for k in sel}) == 3  # no repeats
        # rank-1 is the pure-relevance argmax: its rel bounds the others
        assert sel[1].rel >= sel[2].rel - 1e-12
        assert sel[1].rel >= sel[3].rel - 1e-12
        # mmr score of a later pick never exceeds the earlier pick's score
        # at the same step semantics: s1.mmr = rel >= 0.5*rel >= s2.mmr bound
        assert sel[2].mmr <= sel[1].mmr + 1e-12


def test_rolling_median_within_frame_bounds(spark):
    m = _q(spark, "win_rolling_median")
    # median of a trailing frame that includes the current row can never
    # stray outside the global per-user envelope
    env = _q(spark, "win_rolling_median").groupBy("user_id").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    bad = m.join(env, "user_id").filter((F.col("med9") < F.col("lo")) | (F.col("med9") > F.col("hi")))
    assert bad.count() == 0
    assert m.filter((F.col("frame_n") < 1) | (F.col("frame_n") > 9)).count() == 0


def test_ewma_bounded_by_track_envelope(spark):
    e = _q(spark, "traj_ewma")
    ext = posits_xy(spark, SF_SMOKE).groupBy("mmsi").agg(
        F.min("lon").alias("lo"), F.max("lon").alias("hi")
    )
    bad = e.join(ext, "mmsi").filter(
        (F.col("ewma_lon") < F.col("lo") - 1e-9) | (F.col("ewma_lon") > F.col("hi") + 1e-9)
    )
    assert bad.count() == 0


def test_compaction_collapses_files(spark):
    from meos_rs_spark.functions.staging import scratch_path
    from meos_rs_spark.queries.sources_sinks import _part_files

    # run the sink, then audit the layout it left behind
    n_rows = _q(spark, "snk_compaction").count()
    assert n_rows > 0
    n_in = len(_part_files(spark, scratch_path(spark, SF_SMOKE, "events_fragmented")))
    n_out = len(_part_files(spark, scratch_path(spark, SF_SMOKE, "events_compacted")))
    assert n_in == 64
    assert 1 <= n_out < n_in


def test_cosine_division_is_total_on_zero_norm(spark):
    """The r7 review found the Column-level cosine divisions
    (seq_dot/(norm*norm)) abort under Spark 4 ANSI on a zero-norm vector,
    while the DuckDB oracle's x/0 renders NULL — one failed-encoder all-zero
    embedding must not kill a 100 TB job. try_divide gives the oracle's NULL;
    this drives the exact expression shape the queries use."""
    from meos_rs_spark.functions.embeddings import l2norm, seq_dot

    df = spark.createDataFrame(
        [(0, [0.0] * 4, [1.0, 0.0, 0.0, 0.0]), (1, [1.0, 2.0, 0.0, 0.0], [1.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>, pe array<double>",
    ).withColumn("enorm", l2norm("embedding")).withColumn("pnorm", l2norm("pe"))
    rows = (
        df.withColumn(
            "cosine",
            F.try_divide(seq_dot(F.col("pe"), F.col("embedding")), F.col("pnorm") * F.col("enorm")),
        )
        .orderBy("vec_id")
        .collect()
    )
    assert rows[0].cosine is None  # zero-norm → NULL, job survives
    assert abs(rows[1].cosine - (1.0 / (5.0**0.5))) < 1e-12


def test_funnel_average_is_total_without_purchases(spark):
    """rel_funnel_steps' avg_conv_sec divides by the purchase count; a
    purchase-free corpus must yield NULL (the oracle's NULL/0) rather than
    an ANSI DIVIDE_BY_ZERO abort (review find, r7)."""
    import datetime as dt

    from meos_rs_spark.registry import load_registry
    import json, tempfile, os

    ev = spark.createDataFrame(
        [
            (1, 1, dt.datetime(2024, 1, 1), "view", 1.0, "{}"),
            (2, 1, dt.datetime(2024, 1, 2), "click", 2.0, "{}"),
        ],
        "event_id long, user_id long, ts timestamp_ntz, event_type string, value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        row = load_registry()["rel_funnel_steps"].fn(spark, d).collect()[0]
    assert row.n_viewed == 1 and row.n_clicked == 1 and row.n_purchased == 0
    assert row.avg_conv_sec is None and row.sum_conv_us is None


def test_wkt_source_skips_unparseable_timestamps(tmp_path):
    """The wktposits reader's regex admits timestamps strptime's .%f rejects
    (no fraction / 7+ digits); those lines must skip like any malformed line
    instead of raising ValueError and killing the scan (review find, r7)."""
    from meos_rs_spark.sources.wkt_source import WktPositsReader, _FilePartition

    p = tmp_path / "posits.txt"
    p.write_text(
        "1;POINT(1.5 2.5)@2024-01-01 00:00:00.000001+00\n"  # good
        "2;POINT(1 2)@2024-01-01 00:00:00+00\n"             # no fraction → skip
        "3;POINT(1 2)@2024-01-01 00:00:00.1234567+00\n"     # 7 digits → skip
        "garbage line\n"                                     # regex-rejected
        "4;POINT(-3.25 4.75)@2024-06-01 12:30:45.500000+00\n"  # good
        "5;POINT(1 1)@2024-01-01 0:0:1.5+00\n"  # 1-digit H/M/S, short frac:
        # strptime-LEGAL (%H/%M/%S take 1-2 digits, %f takes 1-6) — the r12
        # vectorized strict-shape gate must admit it like strptime did
        "6;POINT(1 1)@2024-01-01 25:00:00.5+00\n"  # shape-legal, RANGE-bad → skip
    )
    batches = WktPositsReader({"path": str(tmp_path)}).read(_FilePartition(str(p)))
    rows = [r for b in batches for r in b.to_pylist()]  # Arrow-batched since r12
    assert [r["mmsi"] for r in rows] == [1, 4, 5]
    assert rows[1]["lon"] == -3.25 and rows[1]["lat"] == 4.75
    from datetime import datetime

    assert rows[2]["ts"] == datetime(2024, 1, 1, 0, 0, 1, 500000)


def test_wkt_source_registers_twice_and_surfaces_a_failing_register(
    spark, tmp_path, monkeypatch
):
    """Spark re-registers a Python data source without raising, so
    register_wkt_source needs no guard; a real registration failure must
    reach the caller instead of being swallowed."""
    import pytest

    from meos_rs_spark.sources.wkt_source import register_wkt_source

    (tmp_path / "posits.txt").write_text(
        "7;POINT(1.5 2.5)@2024-01-01 00:00:00.000001+00\n"
    )
    register_wkt_source(spark)
    register_wkt_source(spark)
    back = spark.read.format("wktposits").option("path", str(tmp_path)).load()
    assert [tuple(r) for r in back.select("mmsi", "lon", "lat").collect()] == [(7, 1.5, 2.5)]

    def failing_register(self, data_source):
        raise RuntimeError("registration refused")

    monkeypatch.setattr(type(spark.dataSource), "register", failing_register)
    with pytest.raises(RuntimeError, match="registration refused"):
        register_wkt_source(spark)


# --- asof_merge: adversarial contest vs a brute-force as-of ------------------


def _brute_asof(events, probes):
    """Reference: per probe, extremal event at-or-before (back) and
    at-or-after (fwd); ties on ts resolve to the extremal value of the tied
    group (max backward / min forward — asof_merge's documented rule)."""
    out = {}
    for u, pts in probes:
        back = [(ts, v) for uu, ts, v in events if uu == u and ts <= pts]
        fwd = [(ts, v) for uu, ts, v in events if uu == u and ts >= pts]
        bt, bv = max(back) if back else (None, None)
        ft, fv = min(fwd) if fwd else (None, None)
        out[(u, pts)] = (bt, bv, ft, fv)
    return out


def test_asof_merge_randomized_vs_brute(spark):
    """Seeded randomized contest including ts TIES (absent from the events
    fixture) and probes outside the event range on both sides."""
    import random

    from meos_rs_spark.queries.relational import asof_merge

    rng = random.Random(20260815)
    events = [
        (rng.randrange(1, 6), rng.randrange(0, 40), float(rng.randrange(-9, 9)))
        for _ in range(160)
    ]
    probes = sorted({(rng.randrange(1, 6), rng.randrange(-5, 46)) for _ in range(60)})
    ev = spark.createDataFrame(events, "user_id long, ts long, value double")
    pr = spark.createDataFrame(list(probes), "user_id long, pts long")
    exp = _brute_asof(events, probes)

    both = {
        (r.user_id, r.pts): (r.back_ts, r.back_value, r.fwd_ts, r.fwd_value)
        for r in asof_merge(ev, pr, "both").collect()
    }
    assert both == exp

    back = {
        (r.user_id, r.pts): (r.last_ts, r.last_value)
        for r in asof_merge(ev, pr, "backward").collect()
    }
    exp_back = {k: (bt, bv) for k, (bt, bv, _, _) in exp.items() if bt is not None}
    assert back == exp_back


def test_asof_merge_null_event_value_surfaces(spark):
    """A legitimately NULL event value at the as-of instant must surface as
    NULL (struct-extremum semantics), not be skipped for an older value."""
    from meos_rs_spark.queries.relational import asof_merge

    ev = spark.createDataFrame(
        [(1, 10, 5.0), (1, 20, None)], "user_id long, ts long, value double"
    )
    pr = spark.createDataFrame([(1, 25)], "user_id long, pts long")
    row = asof_merge(ev, pr, "backward").collect()[0]
    assert row.last_ts == 20 and row.last_value is None


def test_null_and_tied_value_twins_agree_cross_engine(spark, tmp_path):
    """r10 review sweep (second batch): the as-of oracles used DuckDB
    arg_max/arg_min — tie-resolution scan-order-dependent AND
    NULL-skipping — while asof_merge's struct extremum is deterministic
    and NULL-surfacing; win_rolling_median's oracle list() kept NULL
    frame values that Spark's collect_list drops. The fixtures carry no
    NULL values and no duplicate (user_id, ts) groups, so the driver gate
    can't catch a regression; this synthetic events table has both, plus
    the tied-ts-with-NULL corner where the engines' struct NULL-ordering
    differs (the nn shim), and the three fixed twins must agree exactly."""
    import json

    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from meos_rs_spark.registry import load_registry
    from tests.oracle import compare

    def ev(eid, uid, ts, val, et="x"):
        return (eid, pd.Timestamp(ts), uid, et, val, json.dumps({"k": 1.0}))

    rows = [
        # user 1: duplicate ts with DISTINCT values (deterministic-tie
        # corner) right at an as-of probe boundary
        ev(0, 1, "2024-01-01 06:00:00", 1.0),
        ev(1, 1, "2024-01-01 06:00:00", 2.0),
        ev(2, 1, "2024-01-01 12:00:00", 5.0),
        # user 2: NULL value at the as-of row (NULL-surfacing corner)
        ev(3, 2, "2024-01-01 06:00:00", 7.0),
        ev(4, 2, "2024-01-01 18:00:00", None),
        # user 3: tied ts where one twin is NULL (the nn-shim corner:
        # Spark sorts the NULL struct field low, DuckDB high)
        ev(5, 3, "2024-01-01 06:00:00", None),
        ev(6, 3, "2024-01-01 06:00:00", 4.0),
        # user 4: NULLs inside a rolling frame
        ev(7, 4, "2024-01-01 01:00:00", 10.0),
        ev(8, 4, "2024-01-01 02:00:00", None),
        ev(9, 4, "2024-01-01 03:00:00", 30.0),
        ev(10, 4, "2024-01-01 04:00:00", None),
        ev(11, 4, "2024-01-01 05:00:00", 20.0),
        # user 5 / event_type 'y': a group whose values are ALL NULL — the
        # rel_approx_percentiles all-NULL-group drop branch (both legs must
        # omit the group, not emit NULL quantiles or abort on element_at)
        ev(12, 5, "2024-01-01 02:00:00", None, et="y"),
        ev(13, 5, "2024-01-01 08:00:00", None, et="y"),
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path / 'events.parquet'}'"
    )
    reg = load_registry()
    for name in (
        "rel_join_asof",
        "rel_join_asof_nearest",
        "win_rolling_median",
        # the ttype family shares the NULL-extremum shim (arg_* skip
        # NULLs, Spark's min_by/max_by surface them); lon/iv here is
        # `value`, so the NULL rows exercise the shim directly, and
        # users 1-4 fall inside the tfloat pair domain (mmsi < 8)
        "ttype_tint_step",
        "ttype_ttext_ops",
        "ttype_tfloat_sync_arith",
        # r11 review: Spark ASC defaults NULLS FIRST vs DuckDB NULLS LAST —
        # live percent_rank/cume divergence until both legs pinned NULLS
        # LAST; the exact-percentile legs diverged on struct-NULL-low vs
        # NULLS-LAST ranking AND on percentile_approx ignoring NULLs the
        # rank arithmetic counted — both legs now rank non-null values only
        "win_percent_rank_cume",
        "rel_approx_percentiles",
        # DESC twin: NULLS LAST is the engine DEFAULT on both sides (unlike
        # ASC) — exercised here so a default change in either engine
        # surfaces as a harness red, not a fixture-regeneration surprise
        "win_rank_dense",
        # the rest of the events-only window battery: every NULL-sensitive
        # aggregate (SUM/AVG skip, count(*) vs count(value), distinct sets,
        # lead/lag over non-null keys) verified agreeing on this fixture —
        # kept in the loop so the whole battery stays NULL-robust
        "win_range_interval",
        "win_running_distinct",
        "win_lead_gap",
        "win_event_transitions",
        "win_ntile_first_last",
        "win_running_total",
        "win_rolling_frame",
        # r11 batch 2: the at-value clip used to ABORT on a NULL-endpoint
        # segment (ANSI x/0 where the oracle's DuckDB division yields NULL
        # — try_divide aligns); the JSON-number twins diverged on the
        # engines' integer-cast grammars for the decimal-rendered k this
        # fixture's props carry ('1.0')
        "traj_at_value",
        "scalar_try_arith",
        "scalar_json",
        # r11 batch 3: this fixture's EXACT-gap pairs (06:00→12:00 and
        # 02:00→08:00 at the 6h session gap) are unreachable on the
        # continuous-timestamp fixtures and are precisely where the old
        # >= oracle split sessions Spark's session_window merges
        "stream_session_windows",
        # the WKT-source twins with the NULL-position envelope explicit in
        # both legs (partial-NULL users keep only their parseable posits)
        "src_python_datasource",
    ):
        sdf = reg[name].fn(spark, str(tmp_path))
        ddf = con.sql(reg[name].oracle).df()
        issues = compare(sdf, ddf, name)
        assert not issues, issues
    # the semantics themselves, not just parity:
    back = {
        r.user_id: r
        for r in reg["rel_join_asof"].fn(spark, str(tmp_path)).collect()
    }
    assert back[1].last_value == 5.0  # probe day+1 sees the later event
    assert back[2].last_value is None  # NULL at the as-of row SURFACES
    assert back[3].last_value == 4.0  # tied ts: non-NULL wins the backward max


def test_wkt_source_line_regex_admits_signed_mmsi():
    """r10 review find: int64 keys are signed and the writer renders a
    negative id faithfully, but an unsigned ^(\\d+) pattern silently
    dropped the vessel via the malformed-line path while the oracle kept
    it. The reader grammar must accept exactly what the writer emits."""
    from meos_rs_spark.sources.wkt_source import _LINE_RE

    good = "-5;POINT(1.5 -2.25)@2024-01-01 00:00:11.172425+00"
    m = _LINE_RE.match(good)
    assert m and m.group(1) == "-5"
    assert _LINE_RE.match(good.replace("-5;", "5;"))
    # malformed lines still skip
    assert not _LINE_RE.match("x5;POINT(1 2)@2024-01-01 00:00:00+00")
    assert not _LINE_RE.match("5;POINT(1 2)@not-a-time+00")
