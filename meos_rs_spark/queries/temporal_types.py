"""Temporal base types beyond tgeompoint/tfloat/tbool: ``tint`` and
``ttext`` (SURVEY.md §1.1 L2 — the reference's temporal algebra spans
tbool/tint/tfloat/ttext, meos/src/lib.rs:29-34; sequences built by
tsequence_make, tseq.rs:50-64).

A temporal int here is the step-interpolated integer value a vessel carries
between observations (floor(lon) as the magnitude stand-in); a temporal text
is the event_type a user emits over time. Both queries stay pure
DataFrame/SQL: value-at-timestamp is an ordered-aggregate (max_by/arg_max
under a time filter), per-value duration is a lead() window over the step
sequence — no Python anywhere.

floor() (not int casts) keeps the double→int mapping engine-identical:
Spark's CAST truncates while DuckDB's rounds, but floor agrees everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from meos_rs_spark.functions.trajectory import DEDUP_QUALIFY, POSITS_V_CTE, POSITS_XY_CTE, dedup_monotonic, posits_v, posits_xy
from meos_rs_spark.registry import register

# fixed mid-fixture probe instant for value-at-timestamp
_PROBE_TS = "2024-01-15 00:00:00"


# --- tint: step-interpolated temporal integer -------------------------------


@register(
    "ttype_tint_step",
    oracle=f"""
WITH {POSITS_V_CTE},
dedup AS (
  SELECT * FROM posits
  {DEDUP_QUALIFY}
),
tint AS (
  SELECT mmsi, ts, CAST(floor(lon) AS BIGINT) AS iv,
         lead(ts) OVER (PARTITION BY mmsi ORDER BY ts) AS next_ts,
         lag(CAST(floor(lon) AS BIGINT)) OVER (PARTITION BY mmsi ORDER BY ts) AS prev_iv
  FROM dedup
),
vmax AS (SELECT mmsi, max(iv) AS max_iv FROM tint GROUP BY mmsi)
SELECT t.mmsi,
       -- struct extrema, not arg_max/arg_min: DuckDB's arg_* SKIP NULL
       -- values where Spark's max_by/min_by surface them; the nn field
       -- mirrors Spark's NULL-sorts-low struct order (the rel_join_asof
       -- shim, r10 review). Ties are impossible post-dedup.
       (max(struct_pack(ts := t.ts, nn := t.iv IS NOT NULL, v := t.iv))
          FILTER (WHERE t.ts <= TIMESTAMP '{_PROBE_TS}')).v AS value_at_probe,
       min(t.iv) AS min_value,
       max(t.iv) AS max_value,
       (min(struct_pack(ts := t.ts, nn := t.iv IS NOT NULL, v := t.iv))).v AS start_value,
       (max(struct_pack(ts := t.ts, nn := t.iv IS NOT NULL, v := t.iv))).v AS end_value,
       count(*) FILTER (WHERE t.prev_iv IS NOT NULL AND t.iv != t.prev_iv) AS n_changes,
       CAST(COALESCE(sum(epoch_us(t.next_ts) - epoch_us(t.ts))
                     FILTER (WHERE t.iv = v.max_iv AND t.next_ts IS NOT NULL), 0)
            AS BIGINT) AS us_at_max
-- IS NOT DISTINCT FROM: the max-per-group join must keep the NULL-mmsi
-- group like the Spark leg's window partition (and like every GROUP BY
-- in this family) — a bare equi-join silently drops it (r12 sweep)
FROM tint t JOIN vmax v ON v.mmsi IS NOT DISTINCT FROM t.mmsi
GROUP BY t.mmsi
""",
    tags=("L2", "tint"),
    doc="temporal int (step interp): value-at-timestamp via time-filtered arg_max, "
    "start/end/min/max values, change count, and step-duration spent at the max "
    "value (lead() gap sum) — tint algebra per SURVEY §1.1 / tseq.rs:50-64",
)
def ttype_tint_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = dedup_monotonic(posits_v(spark, sf_dir))
    w = Window.partitionBy("mmsi").orderBy("ts")
    tint = pts.select(
        "mmsi",
        "ts",
        F.floor("lon").cast("bigint").alias("iv"),
    ).withColumn("next_ts", F.lead("ts").over(w)).withColumn("prev_iv", F.lag("iv").over(w))
    wmax = Window.partitionBy("mmsi")
    tint = tint.withColumn("max_iv", F.max("iv").over(wmax))
    gap_us = F.expr("unix_micros(CAST(next_ts AS TIMESTAMP)) - unix_micros(CAST(ts AS TIMESTAMP))")
    return tint.groupBy("mmsi").agg(
        F.expr(f"max_by(iv, ts) FILTER (WHERE ts <= TIMESTAMP_NTZ'{_PROBE_TS}')").alias("value_at_probe"),
        F.min("iv").alias("min_value"),
        F.max("iv").alias("max_value"),
        F.expr("min_by(iv, ts)").alias("start_value"),
        F.expr("max_by(iv, ts)").alias("end_value"),
        F.count_if(F.col("prev_iv").isNotNull() & (F.col("iv") != F.col("prev_iv"))).alias("n_changes"),
        F.coalesce(
            F.sum(F.when((F.col("iv") == F.col("max_iv")) & F.col("next_ts").isNotNull(), gap_us)),
            F.lit(0),
        ).alias("us_at_max"),
    )


# --- ttext: temporal text ---------------------------------------------------


@register(
    "ttype_ttext_ops",
    oracle="""
WITH dedup AS (
  SELECT user_id, ts, event_type FROM events
  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) = 1
),
tt AS (
  SELECT user_id, ts, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev_v
  FROM dedup
)
SELECT user_id,
       -- struct extrema (the rel_join_asof NULL shim): arg_* skip NULLs,
       -- Spark's min_by/max_by surface them
       (min(struct_pack(ts := ts, nn := event_type IS NOT NULL, v := event_type))).v AS start_value,
       (max(struct_pack(ts := ts, nn := event_type IS NOT NULL, v := event_type))).v AS end_value,
       min(event_type) AS min_value,
       max(event_type) AS max_value,
       upper((max(struct_pack(ts := ts, nn := event_type IS NOT NULL, v := event_type))).v) AS end_value_upper,
       CAST(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS INT) AS ever_click,
       count(DISTINCT event_type) AS n_values,
       count(*) FILTER (WHERE prev_v IS NOT NULL AND event_type != prev_v) AS n_changes
FROM tt GROUP BY user_id
""",
    tags=("L2", "ttext"),
    doc="temporal text: per-user event_type sequence — start/end/min/max text "
    "values, lifted upper() (a ttext→ttext map), ever-equals predicate, distinct "
    "values and change count (ttext algebra per SURVEY §1.1; ASCII-only domain so "
    "min/max collation is engine-identical)",
)
def ttype_ttext_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type", "event_id")
    dd = dedup_monotonic(ev, key="user_id", ts="ts", tiebreak="event_id")
    w = Window.partitionBy("user_id").orderBy("ts")
    tt = dd.withColumn("prev_v", F.lag("event_type").over(w))
    return tt.groupBy("user_id").agg(
        F.expr("min_by(event_type, ts)").alias("start_value"),
        F.expr("max_by(event_type, ts)").alias("end_value"),
        F.min("event_type").alias("min_value"),
        F.max("event_type").alias("max_value"),
        F.upper(F.expr("max_by(event_type, ts)")).alias("end_value_upper"),
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).cast("int").alias("ever_click"),
        F.countDistinct("event_type").alias("n_values"),
        F.count_if(F.col("prev_v").isNotNull() & (F.col("event_type") != F.col("prev_v"))).alias("n_changes"),
    )


# --- L2f: temporal-boolean algebra (tbool AND/OR/NOT durations) --------------


@register(
    "ttype_tbool_algebra",
    oracle=f"""
WITH {POSITS_XY_CTE},
stepped AS (
  SELECT mmsi,
         lon > 100 AS a,
         lat > 50 AS b,
         epoch_us(lead(ts) OVER w) - epoch_us(ts) AS dt_us
  FROM posits WINDOW w AS (PARTITION BY mmsi ORDER BY ts, event_id)
)
SELECT mmsi,
       CAST(COALESCE(SUM(dt_us) FILTER (WHERE a AND b), 0) AS BIGINT) AS and_us,
       CAST(COALESCE(SUM(dt_us) FILTER (WHERE a OR b), 0) AS BIGINT) AS or_us,
       CAST(COALESCE(SUM(dt_us) FILTER (WHERE NOT a), 0) AS BIGINT) AS not_a_us,
       CAST(COALESCE(SUM(dt_us) FILTER (WHERE a != b), 0) AS BIGINT) AS xor_us
FROM stepped GROUP BY mmsi
""",
    tags=("L2f",),
    doc="temporal-boolean ALGEBRA (L2 tand/tor/tnot over tbool): two step-"
    "interpolated temporal booleans per vessel (lon>100, lat>50) combined "
    "pointwise over the shared timeline, reporting the duration each compound "
    "holds — the lifted-operator semantics MEOS applies between temporal "
    "values, realized as one window pass plus per-vessel filtered sums "
    "(integer micros, associative). Complements traj_tbool_duration (single "
    "tbool) and ttype_tint_step/ttype_ttext_ops (other base types)",
)
def ttype_tbool_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the ONE window drives the lead (the old code built an identical
    # Window object and never used it, so an editor "fixing" its ordering
    # would see no effect — the real window lived in an expr string;
    # r10 review find)
    w = Window.partitionBy("mmsi").orderBy("ts", "event_id")
    dt = F.unix_micros(F.lead("ts").over(w).cast("timestamp")) - F.unix_micros(
        F.col("ts").cast("timestamp")
    )
    p = (
        posits_xy(spark, sf_dir)
        .withColumn("a", F.col("lon") > 100)
        .withColumn("b", F.col("lat") > 50)
        .withColumn("dt_us", dt)
    )

    def dur(cond):
        return F.coalesce(F.sum(F.when(cond, F.col("dt_us"))), F.lit(0)).cast("bigint")

    return p.groupBy("mmsi").agg(
        dur(F.col("a") & F.col("b")).alias("and_us"),
        dur(F.col("a") | F.col("b")).alias("or_us"),
        dur(~F.col("a")).alias("not_a_us"),
        dur(F.col("a") != F.col("b")).alias("xor_us"),
    )


# --- L2f: synchronized arithmetic between two tfloats ------------------------

# vessels 0..7 paired (0,1),(2,3),(4,5),(6,7): each pair is two tfloats with
# DIFFERENT timestamp sets that must be synchronized before arithmetic
_K_SYNC_VESSELS = 8


@register(
    "ttype_tfloat_sync_arith",
    oracle=f"""
WITH {POSITS_V_CTE},
merged AS (
  -- arg_min(..., event_id) per side IS the monotonic dedup (first posit at a
  -- duplicated timestamp wins, 04_to_file.rs:92-96) fused into the merge agg
  SELECT CAST(mmsi // 2 AS BIGINT) AS pair_id, ts,
         -- struct extrema (the rel_join_asof NULL shim): a NULL lon at
         -- the first event_id must surface, as Spark's min_by does
         (min(struct_pack(e := event_id, nn := lon IS NOT NULL, v := lon))
            FILTER (WHERE mmsi % 2 = 0)).v AS va,
         (min(struct_pack(e := event_id, nn := lon IS NOT NULL, v := lon))
            FILTER (WHERE mmsi % 2 = 1)).v AS vb
  FROM posits WHERE mmsi < {_K_SYNC_VESSELS} GROUP BY 1, 2
),
synced AS (
  SELECT pair_id, ts,
         last_value(va IGNORE NULLS) OVER wp AS p_va,
         last_value(CASE WHEN va IS NOT NULL THEN ts END IGNORE NULLS) OVER wp AS p_ta,
         first_value(va IGNORE NULLS) OVER wf AS n_va,
         first_value(CASE WHEN va IS NOT NULL THEN ts END IGNORE NULLS) OVER wf AS n_ta,
         last_value(vb IGNORE NULLS) OVER wp AS p_vb,
         last_value(CASE WHEN vb IS NOT NULL THEN ts END IGNORE NULLS) OVER wp AS p_tb,
         first_value(vb IGNORE NULLS) OVER wf AS n_vb,
         first_value(CASE WHEN vb IS NOT NULL THEN ts END IGNORE NULLS) OVER wf AS n_tb
  FROM merged
  WINDOW wp AS (PARTITION BY pair_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY pair_id ORDER BY ts
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
),
interp AS (
  SELECT pair_id, ts,
         CASE WHEN epoch_us(n_ta) = epoch_us(p_ta) THEN p_va
              ELSE p_va + (n_va - p_va)
                   * (CAST(epoch_us(ts) - epoch_us(p_ta) AS DOUBLE)
                      / CAST(epoch_us(n_ta) - epoch_us(p_ta) AS DOUBLE)) END AS a_i,
         CASE WHEN epoch_us(n_tb) = epoch_us(p_tb) THEN p_vb
              ELSE p_vb + (n_vb - p_vb)
                   * (CAST(epoch_us(ts) - epoch_us(p_tb) AS DOUBLE)
                      / CAST(epoch_us(n_tb) - epoch_us(p_tb) AS DOUBLE)) END AS b_i
  FROM synced
  WHERE p_ta IS NOT NULL AND n_ta IS NOT NULL
    AND p_tb IS NOT NULL AND n_tb IS NOT NULL
)
SELECT pair_id, ts, a_i, b_i,
       a_i + b_i AS t_add, a_i - b_i AS t_sub, a_i * b_i AS t_mul
FROM interp
""",
    tags=("L2f", "tfloat"),
    doc="synchronized tfloat arithmetic (L2 add/sub/mult_tfloat_tfloat, the "
    "temporal-algebra core: MEOS synchronizes both operands over the UNION of "
    "their timestamps with linear interpolation before combining — "
    "meos/src/lib.rs:29-34 algebra over tseq.rs:50-64 sequences): each vessel "
    "pair's lon series are merged per instant, surrounding observations found "
    "by ignore-nulls running windows (one pair-key shuffle, never a per-instant "
    "join), each side lerped in exact epoch micros, then combined pointwise "
    "over the overlap span. The union+window shape is the same one "
    "traj_resample_linear proves out — it scales to arbitrarily long "
    "sequences because synchronization never leaves the pair's partition",
)
def ttype_tfloat_sync_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = posits_v(spark, sf_dir).filter(F.col("mmsi") < _K_SYNC_VESSELS)
    # min_by(lon, event_id) per side fuses the monotonic dedup (first posit at
    # a duplicated timestamp wins) into the merge agg — no separate per-vessel
    # window pass, so the whole sync is two exchanges: (pair, ts) agg + pair
    # window
    merged = (
        pts.select(
            (F.col("mmsi") / 2).cast("bigint").alias("pair_id"),
            "ts",
            "lon",
            "event_id",
            (F.col("mmsi") % 2).alias("side"),
        )
        .groupBy("pair_id", "ts")
        .agg(
            F.expr("min_by(lon, event_id) FILTER (WHERE side = 0)").alias("va"),
            F.expr("min_by(lon, event_id) FILTER (WHERE side = 1)").alias("vb"),
        )
    )
    wp = Window.partitionBy("pair_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    wf = Window.partitionBy("pair_id").orderBy("ts").rowsBetween(0, Window.unboundedFollowing)
    ts_of = lambda v: F.when(F.col(v).isNotNull(), F.col("ts"))  # noqa: E731
    synced = merged.select(
        "pair_id",
        "ts",
        F.last("va", ignorenulls=True).over(wp).alias("p_va"),
        F.last(ts_of("va"), ignorenulls=True).over(wp).alias("p_ta"),
        F.first("va", ignorenulls=True).over(wf).alias("n_va"),
        F.first(ts_of("va"), ignorenulls=True).over(wf).alias("n_ta"),
        F.last("vb", ignorenulls=True).over(wp).alias("p_vb"),
        F.last(ts_of("vb"), ignorenulls=True).over(wp).alias("p_tb"),
        F.first("vb", ignorenulls=True).over(wf).alias("n_vb"),
        F.first(ts_of("vb"), ignorenulls=True).over(wf).alias("n_tb"),
    )
    us = "unix_micros(CAST({c} AS TIMESTAMP))"
    g_us = F.expr(us.format(c="ts"))

    def lerp(pv: str, nv: str, pt: str, nt: str):
        p_us, n_us = F.expr(us.format(c=pt)), F.expr(us.format(c=nt))
        frac = (g_us - p_us).cast("double") / (n_us - p_us).cast("double")
        return F.when(n_us == p_us, F.col(pv)).otherwise(
            F.col(pv) + (F.col(nv) - F.col(pv)) * frac
        )

    return (
        synced.filter(
            F.col("p_ta").isNotNull()
            & F.col("n_ta").isNotNull()
            & F.col("p_tb").isNotNull()
            & F.col("n_tb").isNotNull()
        )
        .select(
            "pair_id",
            "ts",
            lerp("p_va", "n_va", "p_ta", "n_ta").alias("a_i"),
            lerp("p_vb", "n_vb", "p_tb", "n_tb").alias("b_i"),
        )
        .select(
            "pair_id",
            "ts",
            "a_i",
            "b_i",
            (F.col("a_i") + F.col("b_i")).alias("t_add"),
            (F.col("a_i") - F.col("b_i")).alias("t_sub"),
            (F.col("a_i") * F.col("b_i")).alias("t_mul"),
        )
    )
