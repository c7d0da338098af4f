"""Trajectory queries (SURVEY.md §2: A5 assembly, A6 merge, A7 extent,
L2a accessors, L2b restriction, L2c transforms, L2d spatial, TSet
sessionization) over the events-as-AIS fixture.

Reference semantics: ``tsequence_make`` (meos/src/tseq.rs:50-64), monotonic
dedup (04_to_file.rs:92-96), min/max trip size (04_to_file.rs:111,
ais_to_db.rs:191-193), temporal merge (ais_to_db.rs:156-161), boxes
(tbox.rs:87-98).

Every query is one groupBy shuffle over the vessel key (the points of a
sequence must colocate regardless of engine); rendering follows the
determinism conventions so the DuckDB twin hashes identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from meos_rs_spark.functions.trajectory import (
    DEDUP_XY_CTE,
    POSITS_V_CTE,
    POSITS_XY_CTE,
    assemble,
    dedup_monotonic,
    end_ts,
    merge_trajs,
    num_instants,
    path_length,
    point_wkt,
    point_wkt_duck,
    posits_v,
    posits_xy,
    start_ts,
    subtype,
)
from meos_rs_spark.golden import GOLDEN
from meos_rs_spark.registry import register

MIN_TRIP, MAX_TRIP = 5, 80

#: traj_resample_linear's grid step (6 h) and max interpolatable segment
#: span (366 days ⇒ ≤ 1464 markers per segment): the time-axis validity
#: gate that bounds grid amplification — see the query's doc.
RESAMPLE_STEP_US = 21_600_000_000
RESAMPLE_MAX_SEGMENT_US = 366 * 86_400_000_000

#: DEDUP_XY_CTE truncated to each vessel's first MAX_TRIP posits.
_ASSEMBLED_XY_CTE = f"""
{DEDUP_XY_CTE},
trunc AS (
  SELECT * FROM dedup
  QUALIFY row_number() OVER (PARTITION BY mmsi ORDER BY ts, event_id) <= {MAX_TRIP}
)
"""


# --- A5: trajectory assembly (flagship UDAF as pure Column ops) ------------


@register(
    "traj_assembly",
    oracle=f"""
WITH {_ASSEMBLED_XY_CTE}
SELECT mmsi,
       count(*) AS n_instants,
       '[' || string_agg({point_wkt_duck('lon', 'lat', 'ts')}, ', ' ORDER BY ts) || ']' AS seq_wkt
FROM trunc
GROUP BY mmsi
HAVING count(*) >= {MIN_TRIP}
""",
    tags=("A5", "P4", "P5", "F2"),
    doc="tsequence_make: dedup → truncate → sorted assembly → linear-seq WKT ([...] form, 01_hello_world.rs:23)",
)
def traj_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = dedup_monotonic(posits_xy(spark, sf_dir))
    w = Window.partitionBy("mmsi").orderBy("ts", "event_id")
    pts = pts.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= MAX_TRIP)
    return (
        pts.select("mmsi", "ts", point_wkt("lon", "lat", "ts").alias("pw"))
        .groupBy("mmsi")
        .agg(
            F.count(F.lit(1)).alias("n_instants"),
            F.concat(
                F.lit("["),
                F.array_join(
                    F.transform(F.array_sort(F.collect_list(F.struct("ts", "pw"))), lambda s: s["pw"]),
                    ", ",
                ),
                F.lit("]"),
            ).alias("seq_wkt"),
        )
        .filter(F.col("n_instants") >= MIN_TRIP)
    )


# --- A7: bounding-box extent aggregate (STBox analog) ----------------------


@register(
    "traj_extent",
    oracle=f"""
WITH {POSITS_XY_CTE}
SELECT mmsi,
       min(lon) AS xmin, max(lon) AS xmax,
       min(lat) AS ymin, max(lat) AS ymax,
       min(ts) AS tmin, max(ts) AS tmax
FROM posits GROUP BY mmsi
""",
    tags=("A7", "F10"),
    doc="STBox extent as plain min/max aggregates (stbox.rs:16-94; SQL-expressible by design, SURVEY §4)",
)
def traj_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        posits_xy(spark, sf_dir)
        .groupBy("mmsi")
        .agg(
            F.min("lon").alias("xmin"),
            F.max("lon").alias("xmax"),
            F.min("lat").alias("ymin"),
            F.max("lat").alias("ymax"),
            F.min("ts").alias("tmin"),
            F.max("ts").alias("tmax"),
        )
    )


# --- Z dimension: 3D point struct, STBox Z extent, 3D length ----------------
#
# The reference's STBox carries an optional Z extent with dedicated 3D WKT
# forms (``STBOX Z((1,2,3),(4,5,6))`` — meos/src/stbox.rs:16-94, 3D WKT
# tests :113-124), and tgeompoint generalizes to 3D instants. The events
# fixture has no altitude channel, so z derives deterministically from
# event_id (documented synthetic: z = (event_id % 500) / 10 meters-like);
# the POINT STRUCT itself is extended to (ts, event_id, lon, lat, z) and
# every output below is computed FROM the assembled struct column — proving
# the 3D data-model path (assembly → accessors), not just 3D arithmetic.

_Z_EXPR = "CAST(event_id % 500 AS DOUBLE) / 10.0"

_Z_SEG = (
    "sqrt( (pts[i].lon - pts[i-1].lon) * (pts[i].lon - pts[i-1].lon)"
    "    + (pts[i].lat - pts[i-1].lat) * (pts[i].lat - pts[i-1].lat)"
    "    + (pts[i].z   - pts[i-1].z)   * (pts[i].z   - pts[i-1].z) )"
)
# guard the single-instant group: sequence(1, 0) DESCENDS in Spark (ANSI),
# so an unguarded fold would index pts[1] out of bounds for a 1-point vessel
# — latent with the current fixtures (>=45 posits/vessel), fatal on any regen
# with a singleton (regression-tested in tests/test_trajectory.py)
Z_LENGTH3D_EXPR = (
    "CASE WHEN size(pts) < 2 THEN CAST(0.0 AS DOUBLE) ELSE "
    "CAST(aggregate(sequence(1, size(pts) - 1), CAST(0 AS DECIMAL(38,6)), "
    f"(acc, i) -> acc + CAST(ROUND({_Z_SEG}, 6) AS DECIMAL(28,6)), "
    "acc -> acc) AS DOUBLE) END"
)


@register(
    "traj_stbox_z_path",
    # XY envelope (r12): the 3D path derives from the coordinates — a
    # NULL-coordinate posit has no point to contribute; both legs drop it
    oracle=f"""
WITH {POSITS_XY_CTE},
p3 AS (
  SELECT mmsi, ts, event_id, lon, lat, {_Z_EXPR} AS z FROM posits
),
segs AS (
  SELECT mmsi,
         sqrt( (lon - lag(lon) OVER w) * (lon - lag(lon) OVER w)
             + (lat - lag(lat) OVER w) * (lat - lag(lat) OVER w)
             + (z   - lag(z)   OVER w) * (z   - lag(z)   OVER w) ) AS seg
  FROM p3 WINDOW w AS (PARTITION BY mmsi ORDER BY ts, event_id)
)
SELECT e.mmsi, e.n_instants,
       e.xmin, e.xmax, e.ymin, e.ymax, e.zmin, e.zmax, e.tmin_us, e.tmax_us,
       l.length3d
FROM (
  SELECT mmsi, count(*) AS n_instants,
         min(lon) AS xmin, max(lon) AS xmax,
         min(lat) AS ymin, max(lat) AS ymax,
         min(z) AS zmin, max(z) AS zmax,
         epoch_us(min(ts)) AS tmin_us, epoch_us(max(ts)) AS tmax_us
  FROM p3 GROUP BY mmsi
) e
JOIN (
  SELECT mmsi,
         CAST(COALESCE(SUM(CAST(ROUND(seg, 6) AS DECIMAL(28,6))), 0) AS DOUBLE) AS length3d
  FROM segs GROUP BY mmsi
) l
-- IS NOT DISTINCT FROM: keep the NULL-mmsi group like both legs' GROUP BY
-- does — a bare equi-join silently drops it (r12 adversarial sweep)
ON l.mmsi IS NOT DISTINCT FROM e.mmsi
""",
    tags=("A5", "A7", "L2d", "Z"),
    doc="3D trajectory path (STBox Z semantics, stbox.rs:16-94, 3D WKT tests "
    ":113-124): points assembled as sorted ARRAY<STRUCT<ts,event_id,lon,lat,z>>, "
    "then Z-aware extent box and 3D euclidean length computed from the struct "
    "column via a sequential array fold (per-segment 6-digit round before the "
    "decimal accumulation — shuffle-order independent, engine-identical)",
)
def traj_stbox_z_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    p3 = posits_xy(spark, sf_dir).withColumn("z", F.expr(_Z_EXPR))
    t = p3.groupBy("mmsi").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "lon", "lat", "z"))
        ).alias("pts")
    )
    length3d = F.expr(Z_LENGTH3D_EXPR)
    return t.select(
        "mmsi",
        F.size("pts").cast("long").alias("n_instants"),
        F.expr("array_min(transform(pts, p -> p.lon))").alias("xmin"),
        F.expr("array_max(transform(pts, p -> p.lon))").alias("xmax"),
        F.expr("array_min(transform(pts, p -> p.lat))").alias("ymin"),
        F.expr("array_max(transform(pts, p -> p.lat))").alias("ymax"),
        F.expr("array_min(transform(pts, p -> p.z))").alias("zmin"),
        F.expr("array_max(transform(pts, p -> p.z))").alias("zmax"),
        F.expr("unix_micros(CAST(pts[0].ts AS TIMESTAMP))").alias("tmin_us"),
        F.expr("unix_micros(CAST(pts[size(pts)-1].ts AS TIMESTAMP))").alias("tmax_us"),
        length3d.alias("length3d"),
    )


# --- A6: temporal merge of partial trajectories ----------------------------


@register(
    "traj_merge",
    oracle=f"""
WITH {POSITS_XY_CTE},
both_halves AS (
  SELECT * FROM posits  -- merge(evens, odds) == dedup-by-ts over the union
),
merged AS (
  -- stored-side-wins, exactly merge_trajs' semantics: the kept point on a
  -- ts collision is the stored (even) half's, lowest event_id within it —
  -- NOT the lexicographically-smallest position the pre-r7 sort kept
  -- coalesce(event_id, 0): a NULL split key must land in exactly one half
  -- (the stored one), not vanish from both — same class as the streaming
  -- restart split (r12 ADVICE/sweep)
  SELECT * FROM both_halves
  QUALIFY row_number() OVER (PARTITION BY mmsi, ts
                             ORDER BY coalesce(event_id, 0) % 2, event_id) = 1
)
SELECT mmsi, count(*) AS n_points, min(ts) AS t_start, max(ts) AS t_end
FROM merged GROUP BY mmsi
""",
    tags=("A6",),
    doc="public.update(old, new, true) analog: assemble even/odd event halves separately, merge structs "
    "(concat→sort→dedup-by-ts, STORED side winning a timestamp collision), verify against whole-set assembly",
)
def traj_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = posits_xy(spark, sf_dir)
    # coalesce parity (see oracle): a NULL event_id row lands in the stored
    # half instead of vanishing from both
    # renamed keys (m0/m1): the halves share one lineage, so column-object
    # references stay ambiguous in a self-join — rename, then eqNullSafe
    # full join (a USING join never matches NULL keys, so the NULL-mmsi
    # vessel would split into two half-rows while the oracle's PARTITION
    # BY/GROUP BY keeps it one group; r12 adversarial sweep)
    halves = [
        assemble(
            pts.filter(F.coalesce(F.col("event_id"), F.lit(0)) % 2 == i), min_size=1
        ).select(F.col("mmsi").alias(f"m{i}"), F.col("traj").alias(f"traj_{i}"))
        for i in (0, 1)
    ]
    j = halves[0].join(
        halves[1], F.col("m0").eqNullSafe(F.col("m1")), "full"
    ).select(F.coalesce("m0", "m1").alias("mmsi"), "traj_0", "traj_1")
    # a vessel may appear in only one half: coalesce with an empty sequence
    empty = F.struct(
        F.lit("Linear").alias("interp"),
        F.lit(True).alias("lower_inc"),
        F.lit(True).alias("upper_inc"),
        F.expr("CAST(array() AS ARRAY<STRUCT<ts: TIMESTAMP_NTZ, lon: DOUBLE, lat: DOUBLE>>)").alias("points"),
    )
    merged = merge_trajs(F.coalesce(F.col("traj_0"), empty), F.coalesce(F.col("traj_1"), empty))
    return j.select(
        "mmsi",
        num_instants(merged).alias("n_points"),
        start_ts(merged).alias("t_start"),
        end_ts(merged).alias("t_end"),
    )


# --- F7/P6: temporal equality ----------------------------------------------


@register(
    "traj_equality",
    oracle=f"""
WITH {POSITS_XY_CTE}
SELECT mmsi, 1 AS halves_eq_whole FROM posits GROUP BY mmsi
""",
    tags=("F7", "P6"),
    doc="temporal_eq (tinst.rs:53-68, tseq.rs:83-98): merge of even/odd-half assemblies "
    "must equal whole-set assembly — deep struct equality incl. nested point arrays; "
    "the oracle states the invariant (1 per vessel), the Spark side proves it",
)
def traj_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dedup ONCE before splitting: a duplicate (mmsi, ts) pair straddling
    # the parity halves would make merge_trajs keep the stored side while
    # whole-set assembly keeps the min-event_id row — breaking the pinned
    # invariant on exactly the duplicate data dedup exists for (review
    # find, r7; latent while the fixture has no duplicate groups). With
    # each timestamp appearing once globally, the invariant holds for ANY
    # input; assemble's internal dedup is idempotent over this.
    pts = dedup_monotonic(posits_xy(spark, sf_dir))
    whole = assemble(pts, min_size=1).select("mmsi", F.col("traj").alias("tw"))
    # coalesce parity + eqNullSafe joins, as in traj_merge (r12 sweep): the
    # NULL-event_id and NULL-mmsi corners must not break the invariant
    halves = [
        assemble(
            pts.filter(F.coalesce(F.col("event_id"), F.lit(0)) % 2 == i), min_size=1
        ).select(F.col("mmsi").alias(f"m{i}"), F.col("traj").alias(f"t{i}"))
        for i in (0, 1)
    ]
    empty = F.struct(
        F.lit("Linear").alias("interp"),
        F.lit(True).alias("lower_inc"),
        F.lit(True).alias("upper_inc"),
        F.expr("CAST(array() AS ARRAY<STRUCT<ts: TIMESTAMP_NTZ, lon: DOUBLE, lat: DOUBLE>>)").alias("points"),
    )
    j = (
        whole.join(halves[0], F.col("mmsi").eqNullSafe(F.col("m0")), "left")
        .join(halves[1], F.col("mmsi").eqNullSafe(F.col("m1")), "left")
        .drop("m0", "m1")
    )
    merged = merge_trajs(F.coalesce(F.col("t0"), empty), F.coalesce(F.col("t1"), empty))
    return j.select(
        "mmsi",
        (merged["points"] == F.col("tw")["points"]).cast("int").alias("halves_eq_whole"),
    )


# --- F5/F6/L2a: accessors --------------------------------------------------


@register(
    "traj_accessors",
    # FROM dedup, not posits: the Spark leg assembles (dedup_monotonic), so
    # n_instants/subtype must count deduped instants (r10 review find)
    oracle=f"""
WITH {DEDUP_XY_CTE}
SELECT mmsi,
       min(ts) AS start_ts,
       max(ts) AS end_ts,
       count(*) AS n_instants,
       epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
       CASE WHEN count(*) = 1 THEN 'Instant' ELSE 'Sequence' END AS subtype
FROM dedup GROUP BY mmsi
""",
    tags=("F5", "F6", "L2a"),
    doc="start/end timestamp, num_instants, duration, subtype (temp.rs:50-52, lib.rs:29-34)",
)
def traj_accessors(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = assemble(posits_xy(spark, sf_dir), min_size=1)
    traj = F.col("traj")
    return t.select(
        "mmsi",
        start_ts(traj).alias("start_ts"),
        end_ts(traj).alias("end_ts"),
        num_instants(traj).alias("n_instants"),
        (
            F.expr("unix_micros(CAST(traj.points[size(traj.points)-1].ts AS TIMESTAMP))")
            - F.expr("unix_micros(CAST(traj.points[0].ts AS TIMESTAMP))")
        ).alias("duration_us"),
        subtype(traj).alias("subtype"),
    )


# --- L2d: length / speed ---------------------------------------------------


@register(
    "traj_length_speed",
    # segments over dedup, not posits: the Spark leg assembles, so a
    # duplicate-ts posit pair must not contribute a zero-duration segment.
    # XY envelope (r12): a NULL-coordinate posit has no segment geometry.
    oracle=f"""
WITH {DEDUP_XY_CTE},
segs AS (
  SELECT mmsi, ts,
         sqrt( (lon - lag(lon) OVER w) * (lon - lag(lon) OVER w)
             + (lat - lag(lat) OVER w) * (lat - lag(lat) OVER w) ) AS seg
  FROM dedup
  WINDOW w AS (PARTITION BY mmsi ORDER BY ts, event_id)
)
SELECT mmsi,
       CAST(SUM(CAST(ROUND(seg, 6) AS DECIMAL(28,6))) AS DOUBLE) AS length,
       count(seg) AS n_segments
FROM segs GROUP BY mmsi HAVING count(seg) > 0
""",
    tags=("L2d",),
    doc="tpoint_length: planar segment sum; per-segment sqrt is IEEE-exact, rounded before the "
    "decimal fold so the aggregate is shuffle-order independent",
)
def traj_length_speed(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = assemble(posits_xy(spark, sf_dir), min_size=2)
    traj = F.col("traj")
    return t.select(
        "mmsi",
        path_length(traj).alias("length"),
        (num_instants(traj) - 1).cast("long").alias("n_segments"),
    )


# --- L2b: restriction (at-time value with linear interpolation) ------------


@register(
    "traj_value_at_time",
    # bracketing over dedup: arg_max/max_by on a duplicate-ts pair is an
    # engine-arbitrary tie — dedup makes the bracketing instant unique in
    # BOTH legs (r10 review find; traj_resample_linear already did this)
    oracle=f"""
WITH {DEDUP_XY_CTE},
probe AS (
  -- midpoint via integer micros: engines disagree on interval/2 semantics
  SELECT mmsi,
         min(ts) + to_microseconds((epoch_us(max(ts)) - epoch_us(min(ts))) // 2) AS pt
  FROM dedup GROUP BY mmsi
),
below AS (
  SELECT p.mmsi, p.pt, arg_max(e.lon, e.ts) AS lon0, arg_max(e.lat, e.ts) AS lat0, max(e.ts) AS t0
  FROM probe p JOIN dedup e ON e.mmsi = p.mmsi AND e.ts <= p.pt GROUP BY p.mmsi, p.pt
),
above AS (
  SELECT p.mmsi, arg_min(e.lon, e.ts) AS lon1, arg_min(e.lat, e.ts) AS lat1, min(e.ts) AS t1
  FROM probe p JOIN dedup e ON e.mmsi = p.mmsi AND e.ts > p.pt GROUP BY p.mmsi
)
SELECT b.mmsi, b.pt,
       CASE WHEN a.t1 IS NULL THEN b.lon0
            ELSE b.lon0 + (a.lon1 - b.lon0) * (CAST(epoch_us(b.pt) - epoch_us(b.t0) AS DOUBLE)
                                               / CAST(epoch_us(a.t1) - epoch_us(b.t0) AS DOUBLE)) END AS lon_at,
       CASE WHEN a.t1 IS NULL THEN b.lat0
            ELSE b.lat0 + (a.lat1 - b.lat0) * (CAST(epoch_us(b.pt) - epoch_us(b.t0) AS DOUBLE)
                                               / CAST(epoch_us(a.t1) - epoch_us(b.t0) AS DOUBLE)) END AS lat_at
FROM below b LEFT JOIN above a ON a.mmsi = b.mmsi
""",
    tags=("L2b", "J6"),
    doc="value_at_timestamp with LINEAR interpolation (tseq.rs:59 interp mode) at each vessel's midpoint",
)
def traj_value_at_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    # XY envelope (r12): interpolation needs both bracketing coordinates
    pts = dedup_monotonic(posits_xy(spark, sf_dir))
    probe = pts.groupBy("mmsi").agg(
        F.expr(
            "timestampadd(MICROSECOND, (unix_micros(CAST(max(ts) AS TIMESTAMP)) "
            "- unix_micros(CAST(min(ts) AS TIMESTAMP))) div 2, min(ts))"
        ).alias("pt")
    )
    e = pts.select(F.col("mmsi").alias("e_mmsi"), "ts", "lon", "lat")
    below = (
        probe.join(e, (e.e_mmsi == probe.mmsi) & (e.ts <= probe.pt))
        .groupBy("mmsi", "pt")
        .agg(
            F.max_by("lon", "ts").alias("lon0"),
            F.max_by("lat", "ts").alias("lat0"),
            F.max("ts").alias("t0"),
        )
    )
    above = (
        probe.join(e, (e.e_mmsi == probe.mmsi) & (e.ts > probe.pt))
        .groupBy("mmsi")
        .agg(
            F.min_by("lon", "ts").alias("lon1"),
            F.min_by("lat", "ts").alias("lat1"),
            F.min("ts").alias("t1"),
        )
    )
    j = below.join(above, "mmsi", "left")
    frac = (
        F.expr("CAST(unix_micros(CAST(pt AS TIMESTAMP)) - unix_micros(CAST(t0 AS TIMESTAMP)) AS DOUBLE)")
        / F.expr("CAST(unix_micros(CAST(t1 AS TIMESTAMP)) - unix_micros(CAST(t0 AS TIMESTAMP)) AS DOUBLE)")
    )
    return j.select(
        "mmsi",
        "pt",
        F.when(F.col("t1").isNull(), F.col("lon0"))
        .otherwise(F.col("lon0") + (F.col("lon1") - F.col("lon0")) * frac)
        .alias("lon_at"),
        F.when(F.col("t1").isNull(), F.col("lat0"))
        .otherwise(F.col("lat0") + (F.col("lat1") - F.col("lat0")) * frac)
        .alias("lat_at"),
    )


# --- L2c: transforms (shift / scale / temporal sample) ---------------------


@register(
    "traj_shift_scale",
    oracle=f"""
WITH {POSITS_XY_CTE}
SELECT mmsi, event_id,
       ts + INTERVAL 1 HOUR AS ts_shifted,
       epoch_us(ts + INTERVAL 1 HOUR) AS ts_shifted_us,
       lon * 2.0 AS lon_scaled,
       lat + 10.0 AS lat_shifted
FROM posits
""",
    tags=("L2c",),
    doc="shift/scale transforms (L2 temporal_shift_time / value scaling)",
)
def traj_shift_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    return posits_xy(spark, sf_dir).select(
        "mmsi",
        "event_id",
        F.expr("ts + INTERVAL 1 HOUR").alias("ts_shifted"),
        F.expr("unix_micros(CAST(ts + INTERVAL 1 HOUR AS TIMESTAMP))").alias("ts_shifted_us"),
        (F.col("lon") * 2.0).alias("lon_scaled"),
        (F.col("lat") + 10.0).alias("lat_shifted"),
    )


@register(
    "traj_sample",
    oracle=f"""
WITH {POSITS_V_CTE},
numbered AS (
  SELECT mmsi, ts, event_id, row_number() OVER (PARTITION BY mmsi ORDER BY ts, event_id) AS rn
  FROM posits
)
SELECT mmsi, ts, event_id FROM numbered WHERE (rn - 1) % 4 = 0
""",
    tags=("L2c",),
    doc="temporal downsampling: every 4th instant (L2 temporal_tsample analog)",
)
def traj_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("mmsi").orderBy("ts", "event_id")
    return (
        posits_v(spark, sf_dir)
        .withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") - 1) % 4 == 0)
        .select("mmsi", "ts", "event_id")
    )


# --- L2e: ever/always comparisons ------------------------------------------


@register(
    "traj_ever_always",
    oracle=f"""
WITH {POSITS_XY_CTE}
SELECT mmsi,
       CAST(bool_or(lon > 150) AS INT) AS ever_gt150,
       CAST(bool_and(lon > 1) AS INT) AS always_gt1,
       CAST(bool_or(lat = 50) AS INT) AS ever_eq50
FROM posits GROUP BY mmsi
""",
    tags=("L2e",),
    doc="ever/always value comparisons (L2 ever_gt/always_gt family) as bool aggregates",
)
def traj_ever_always(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        posits_xy(spark, sf_dir)
        .groupBy("mmsi")
        .agg(
            F.max((F.col("lon") > 150).cast("int")).alias("ever_gt150"),
            F.min((F.col("lon") > 1).cast("int")).alias("always_gt1"),
            F.max((F.col("lat") == 50).cast("int")).alias("ever_eq50"),
        )
    )


# --- L2f: temporal arithmetic ----------------------------------------------


@register(
    "traj_arith",
    oracle=f"""
WITH {POSITS_XY_CTE}
SELECT mmsi, event_id,
       lon + lat AS t_add,
       lon * 0.5 AS t_scale,
       CAST(lon > lat AS INT) AS t_gt
FROM posits
""",
    tags=("L2f", "P6"),
    doc="temporal float arithmetic + comparison (L2 add_tfloat_float family): per-instant ops",
)
def traj_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    return posits_xy(spark, sf_dir).select(
        "mmsi",
        "event_id",
        (F.col("lon") + F.col("lat")).alias("t_add"),
        (F.col("lon") * 0.5).alias("t_scale"),
        (F.col("lon") > F.col("lat")).cast("int").alias("t_gt"),
    )


# --- L2h: time bucketing / tiling ------------------------------------------


@register(
    "traj_time_buckets",
    oracle=f"""
WITH {POSITS_XY_CTE}
SELECT mmsi, date_trunc('hour', ts) AS bucket, count(*) AS n,
       CAST(SUM(CAST(lon AS DECIMAL(18,2))) AS DOUBLE) AS sum_lon
FROM posits GROUP BY mmsi, date_trunc('hour', ts)
""",
    tags=("L2h",),
    doc="time tiling (L2 tbucket): hourly grid per vessel",
)
def traj_time_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.determinism import money_sum

    return (
        posits_xy(spark, sf_dir)
        .groupBy("mmsi", F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"), money_sum("lon").alias("sum_lon"))
    )


# --- TSet analog: gap-based sessionization ---------------------------------


@register(
    "traj_sessionize",
    oracle=f"""
WITH {POSITS_V_CTE},
flagged AS (
  SELECT mmsi, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000 THEN 1 ELSE 0 END AS new_session
  FROM posits WINDOW w AS (PARTITION BY mmsi ORDER BY ts, event_id)
),
sessions AS (
  SELECT mmsi, ts,
         CAST(SUM(new_session) OVER (PARTITION BY mmsi ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT mmsi, session_id, count(*) AS n_pts, min(ts) AS t_start, max(ts) AS t_end
FROM sessions GROUP BY mmsi, session_id
""",
    tags=("TSet", "ST"),
    doc="sequence-set construction: split trajectory on >6h gaps (TSet gaps, tset.rs:10-49; "
    "batch twin of session_window in §2.9)",
)
def traj_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("mmsi").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    gap_us = F.expr("unix_micros(CAST(ts AS TIMESTAMP))") - F.expr(
        "unix_micros(CAST(lag(ts) OVER (PARTITION BY mmsi ORDER BY ts, event_id) AS TIMESTAMP))"
    )
    return (
        posits_v(spark, sf_dir)
        .withColumn("new_session", F.when(gap_us.isNull() | (gap_us > 21_600_000_000), 1).otherwise(0))
        .withColumn("session_id", F.sum("new_session").over(wrun))
        .groupBy("mmsi", "session_id")
        .agg(F.count(F.lit(1)).alias("n_pts"), F.min("ts").alias("t_start"), F.max("ts").alias("t_end"))
    )


# --- L2d: azimuth / heading -------------------------------------------------


@register(
    "traj_azimuth",
    oracle=f"""
WITH {POSITS_XY_CTE},
segs AS (
  SELECT mmsi, event_id,
         lead(lon) OVER w - lon AS dx,
         lead(lat) OVER w - lat AS dy
  FROM posits WINDOW w AS (PARTITION BY mmsi ORDER BY ts, event_id)
)
SELECT mmsi, event_id, round(atan2(dy, dx), 6) AS azimuth_rad
FROM segs WHERE dx IS NOT NULL
""",
    tags=("L2d",),
    doc="per-segment heading (L2 tpoint_azimuth family); atan2 rounded to 6 digits "
    "(engines may differ in the last ulp of transcendental functions)",
)
def traj_azimuth(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("mmsi").orderBy("ts", "event_id")
    dx = F.lead("lon").over(w) - F.col("lon")
    dy = F.lead("lat").over(w) - F.col("lat")
    return (
        posits_xy(spark, sf_dir)
        .withColumn("dx", dx)
        .withColumn("dy", dy)
        .filter(F.col("dx").isNotNull())
        .select("mmsi", "event_id", F.round(F.atan2("dy", "dx"), 6).alias("azimuth_rad"))
    )


# --- L2d: per-instant speed (temporal speed) --------------------------------


@register(
    "traj_speed_segments",
    oracle=f"""
WITH {POSITS_XY_CTE},
segs AS (
  SELECT mmsi, event_id,
         sqrt( (lead(lon) OVER w - lon) * (lead(lon) OVER w - lon)
             + (lead(lat) OVER w - lat) * (lead(lat) OVER w - lat) ) AS dist,
         CAST(epoch_us(lead(ts) OVER w) - epoch_us(ts) AS DOUBLE) / 1000000.0 AS dt_s
  FROM posits WINDOW w AS (PARTITION BY mmsi ORDER BY ts, event_id)
)
SELECT mmsi, event_id, dist / dt_s AS speed
FROM segs WHERE dist IS NOT NULL AND dt_s > 0
""",
    tags=("L2d",),
    doc="tpoint_speed as a temporal (per-segment) value: IEEE-exact sqrt and division, "
    "no aggregation — deterministic without rounding",
)
def traj_speed_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("mmsi").orderBy("ts", "event_id")
    dist = F.sqrt(
        (F.lead("lon").over(w) - F.col("lon")) * (F.lead("lon").over(w) - F.col("lon"))
        + (F.lead("lat").over(w) - F.col("lat")) * (F.lead("lat").over(w) - F.col("lat"))
    )
    dt = (
        F.expr("CAST(unix_micros(CAST(lead(ts) OVER (PARTITION BY mmsi ORDER BY ts, event_id) AS TIMESTAMP)) "
               "- unix_micros(CAST(ts AS TIMESTAMP)) AS DOUBLE)") / 1_000_000.0
    )
    return (
        posits_xy(spark, sf_dir)
        .withColumn("dist", dist)
        .withColumn("dt_s", dt)
        .filter(F.col("dist").isNotNull() & (F.col("dt_s") > 0))
        .select("mmsi", "event_id", (F.col("dist") / F.col("dt_s")).alias("speed"))
    )


# --- L2b: at-box restriction ------------------------------------------------


@register(
    "traj_at_box",
    oracle=f"""
WITH {POSITS_XY_CTE}
SELECT mmsi,
       count(*) FILTER (WHERE lon BETWEEN 20 AND 120 AND lat BETWEEN 10 AND 80
                          AND ts BETWEEN TIMESTAMP '2024-01-05' AND TIMESTAMP '2024-01-25') AS n_inside,
       count(*) AS n_total
FROM posits GROUP BY mmsi
""",
    tags=("L2b", "F8"),
    doc="at-STBox restriction (L2 tpoint_at_stbox): points inside a space-time box "
    "(contains_stbox_tpoint semantics, stbox.rs:83-85) counted per vessel",
)
def traj_at_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    inside = (
        F.col("lon").between(20, 120)
        & F.col("lat").between(10, 80)
        & F.col("ts").between(
            F.lit("2024-01-05").cast("timestamp_ntz"), F.lit("2024-01-25").cast("timestamp_ntz")
        )
    )
    return (
        posits_xy(spark, sf_dir)
        .groupBy("mmsi")
        .agg(
            F.count(F.when(inside, 1)).alias("n_inside"),
            F.count(F.lit(1)).alias("n_total"),
        )
    )


# --- L2d: Douglas-Peucker simplification ------------------------------------

_DP_EPSILON = 5.0


def _simplify_group(key, pdf):
    import pandas as pd

    from meos_rs_spark.functions.simplify import douglas_peucker_mask, kept_ids_string

    pdf = pdf.sort_values(["ts", "event_id"])
    pts = pdf[["lon", "lat"]].to_numpy(dtype=float)
    keep = douglas_peucker_mask(pts, _DP_EPSILON)
    # comma-joined string, not array<long>: the driver's canonicalizer
    # cannot sort/hash array cells (r3 ERR: "unhashable type: numpy.ndarray");
    # kept_ids_string is total on NULL event_ids (r14 adversarial find)
    kept = kept_ids_string(pdf["event_id"].to_numpy()[keep])
    return pd.DataFrame(
        {
            "mmsi": [key[0]],
            "n_original": [len(pdf)],
            "n_simplified": [int(keep.sum())],
            "kept_event_ids": [kept],
        }
    )


@register(
    "traj_simplify_dp",
    # recursive geometry — not SQL-expressible; the oracle is a VALUES-literal
    # golden computed Spark-free at sf0.01 (tools/gen_golden.py)
    oracle=GOLDEN.get("traj_simplify_dp"),
    tags=("L2d", "golden"),
    doc=f"Douglas-Peucker simplification (L2 temporal_simplify_dp), epsilon={_DP_EPSILON}, "
    "via applyInPandas per vessel (numpy stack implementation, Arrow batches)",
)
def traj_simplify_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.staging import fan_out

    # forced fan_out before the groupBy: the posits projection is a few MB
    # even at ×10, so AQE coalesces the group exchange toward one partition
    # and the per-group Python work (pandas build + sort + DP per vessel)
    # runs serially — the r8 sweep measured 72s at ×10 for a ~3s kernel.
    # The keyed user repartition is AQE-coalesce-exempt and satisfies the
    # groupBy's ClusteredDistribution, so no second exchange appears;
    # force=True because the hazard is the GROUP exchange's size, not the
    # scan's split count that the unforced guard tests.
    return (
        fan_out(posits_xy(spark, sf_dir), "mmsi", force=True)
        .groupBy("mmsi")
        .applyInPandas(
            _simplify_group,
            schema="mmsi long, n_original long, n_simplified long, kept_event_ids string",
        )
    )


# --- SET/span-set algebra: session-span coverage ----------------------------


@register(
    "traj_spanset_coverage",
    oracle=f"""
WITH {POSITS_V_CTE},
flagged AS (
  SELECT mmsi, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000 THEN 1 ELSE 0 END AS new_s
  FROM posits WINDOW w AS (PARTITION BY mmsi ORDER BY ts, event_id)
),
sessions AS (
  -- (ts, event_id), matching the Spark leg and every sibling session CTE:
  -- ts alone leaves the ROWS frame order among equal-ts peers unspecified
  SELECT mmsi, ts,
         SUM(new_s) OVER (PARTITION BY mmsi ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
),
spans AS (
  SELECT mmsi, sid, epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi
  FROM sessions GROUP BY mmsi, sid
)
SELECT mmsi,
       count(*) AS n_spans,
       CAST(SUM(hi - lo) AS BIGINT) AS covered_us,
       max(hi) - min(lo) AS extent_us,
       max(hi) - min(lo) - CAST(SUM(hi - lo) AS BIGINT) AS gaps_us
FROM spans GROUP BY mmsi
""",
    tags=("SET", "TSet"),
    doc="span-set algebra over the vessel's session spans (L2 spanset union/difference): "
    "covered duration = union of disjoint session spans, gaps = extent minus union — "
    "the timestamp-span analog of §2.7's set operations",
)
def traj_spanset_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("mmsi").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    gap_us = F.expr("unix_micros(CAST(ts AS TIMESTAMP))") - F.expr(
        "unix_micros(CAST(lag(ts) OVER (PARTITION BY mmsi ORDER BY ts, event_id) AS TIMESTAMP))"
    )
    spans = (
        posits_v(spark, sf_dir)
        .withColumn("new_s", F.when(gap_us.isNull() | (gap_us > 21_600_000_000), 1).otherwise(0))
        .withColumn("sid", F.sum("new_s").over(wrun))
        .groupBy("mmsi", "sid")
        .agg(
            F.expr("unix_micros(CAST(min(ts) AS TIMESTAMP))").alias("lo"),
            F.expr("unix_micros(CAST(max(ts) AS TIMESTAMP))").alias("hi"),
        )
    )
    return spans.groupBy("mmsi").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("hi") - F.col("lo")).alias("covered_us"),
        (F.max("hi") - F.min("lo")).alias("extent_us"),
        (F.max("hi") - F.min("lo") - F.sum(F.col("hi") - F.col("lo"))).alias("gaps_us"),
    )


# --- L2d: SRID transform (lon/lat → web-mercator) ---------------------------

_R = 6378137.0


# radians as ONE explicit multiply: Spark's radians() is x/180*pi while
# DuckDB's is x*(pi/180) — different association, different last ulp, and at
# x_merc magnitude ~1.7e7 an ulp (≈4e-9) sits close to a 6-decimal grain, so
# the two engines rounded a boundary-straddling value apart at sf0.1. With a
# shared constant both engines fold identical doubles; rounding at 2 decimals
# (cm) keeps the grain 6 orders above the ulp; `+ 0.0` normalizes the -0.0
# DuckDB otherwise emits at lat=0 (ln(tan(pi/4)) = -1e-16 → round → -0.0).
_DEG2RAD = 0.017453292519943295


@register(
    "traj_project_mercator",
    oracle=f"""
WITH {POSITS_XY_CTE}
SELECT mmsi, event_id,
       round(lon * {_DEG2RAD!r} * {_R}, 2) + 0.0 AS x_merc,
       round(ln(tan(pi() / 4 + least(lat, 85.0) * {_DEG2RAD!r} / 2)) * {_R}, 2) + 0.0 AS y_merc
FROM posits
""",
    tags=("L2d",),
    doc="CRS transform (L2 tpoint_transform via PROJ): EPSG:4326 → EPSG:3857 web-mercator, "
    "closed-form; cm-rounded with a shared deg→rad constant (see _DEG2RAD note)",
)
def traj_project_mercator(spark: SparkSession, sf_dir: str) -> DataFrame:
    lat_c = F.least(F.col("lat"), F.lit(85.0))
    return posits_xy(spark, sf_dir).select(
        "mmsi",
        "event_id",
        (F.round(F.col("lon") * _DEG2RAD * _R, 2) + 0.0).alias("x_merc"),
        (
            F.round(
                F.log(F.tan(F.lit(3.141592653589793) / 4 + lat_c * _DEG2RAD / 2)) * _R, 2
            )
            + 0.0
        ).alias("y_merc"),
    )


# --- L2d: general CRS transform (UTM via transverse-mercator series) --------

_UTM_PTS = 4  # posits per vessel (bounded -> VALUES-literal golden stays small)


@register(
    "traj_transform_utm",
    # transcendental series: last-ulp engine divergence makes a computed SQL
    # twin unsound; the oracle is a VALUES-literal golden computed Spark-free
    # by the same public Snyder/Krüger kernel (tools/gen_golden.py), whose
    # exactness invariants are pinned in tests/test_crs.py
    oracle=GOLDEN.get("traj_transform_utm"),
    tags=("L2d", "golden"),
    doc="general CRS transform (L2 tpoint_transform via PROJ, "
    "meos-sys/build.rs:6-14): WGS84 lon/lat → UTM zone/easting/northing via "
    "the Snyder transverse-mercator series in a vectorized pandas_udf — the "
    f"pyproj-shaped slot, self-contained; first {_UTM_PTS} posits per vessel",
)
def traj_transform_utm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.crs import utm_udf

    w = Window.partitionBy("mmsi").orderBy("ts", "event_id")
    pts = posits_xy(spark, sf_dir).withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= _UTM_PTS
    )
    # one struct-returning kernel call per point (the three per-component
    # UDFs each re-ran the full Snyder series and discarded the rest)
    u = utm_udf(F.col("lon"), F.col("lat"))
    return pts.select("mmsi", "event_id", u.alias("__u")).select(
        "mmsi",
        "event_id",
        F.col("__u.zone").alias("zone"),
        F.col("__u.easting").alias("easting"),
        F.col("__u.northing").alias("northing"),
    )


@register(
    "traj_transform_lcc",
    # closed-form but transcendental (t^n, log/pow): same last-ulp engine
    # divergence as UTM, so the oracle is a VALUES-literal golden computed
    # Spark-free by the same kernel (tools/gen_golden.py); the kernel itself
    # is pinned by origin-exactness invariants, the Snyder PP1395 §15 book
    # example, and an independent isometric-latitude formulation in
    # tests/test_crs.py
    oracle=GOLDEN.get("traj_transform_lcc"),
    tags=("L2d", "golden"),
    doc="second CRS family (L2 tpoint_transform via PROJ, "
    "meos-sys/build.rs:6-14): WGS84 lon/lat → Lambert-93 (EPSG:2154, conic) "
    "x/y via the closed-form LCC-2SP kernel in a vectorized pandas_udf — "
    "proves the CRS slot generalizes beyond cylindrical projections; first "
    f"{_UTM_PTS} posits per vessel, same selection as traj_transform_utm",
)
def traj_transform_lcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.crs import lcc93_udf

    w = Window.partitionBy("mmsi").orderBy("ts", "event_id")
    pts = posits_xy(spark, sf_dir).withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= _UTM_PTS
    )
    u = lcc93_udf(F.col("lon"), F.col("lat"))
    return pts.select("mmsi", "event_id", u.alias("__u")).select(
        "mmsi",
        "event_id",
        F.col("__u.x").alias("x_lcc"),
        F.col("__u.y").alias("y_lcc"),
    )


@register(
    "traj_transform_utm_roundtrip",
    # Honest NON-golden oracle for the CRS family: DuckDB can't run the
    # kernel, but it CAN verify the invariant the kernel must satisfy —
    # forward∘inverse == identity on every posit. The Spark leg counts
    # posits whose roundtrip error exceeds 1e-6° (~0.1 m; the measured
    # series error is ~1e-8°, a 100× margin); the oracle asserts that
    # count is ZERO per vessel with the matching row census. A kernel
    # regression in EITHER direction makes n_bad > 0 and the driver row
    # red — unlike the VALUES-golden twins, this one re-derives nothing
    # from the kernel under test.
    oracle="""
SELECT user_id AS mmsi, count(*) AS n_posits, CAST(0 AS BIGINT) AS n_bad
FROM events
WHERE value IS NOT NULL
  AND abs(TRY_CAST(json_extract_string(TRY_CAST(props AS JSON), '$.k') AS DOUBLE)) <= 84.0
GROUP BY user_id
""",
    tags=("L2d",),
    doc="CRS transform ROUNDTRIP (the inverse direction of the PROJ slot, "
    "meos-sys/build.rs:6-14): every posit through the full Snyder forward "
    "+ inverse series in one vectorized pandas_udf; per-vessel census of "
    "posits whose roundtrip error exceeds 1e-6 deg — must be zero, and the "
    "oracle independently asserts exactly that",
)
def traj_transform_utm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.crs import utm_roundtrip_err_udf

    # |lat| <= 84: the forward clamp is lossy beyond the UTM domain in BOTH
    # hemispheres (r10 ADVICE: a lat < -84 fixture would make the one-sided
    # filter a false-red — forward clamps, roundtrip error explodes, n_bad>0
    # while the oracle pins 0). Fixture 'lat' is json props.$.k in [0, 99];
    # abs() mirrored in the oracle's json_extract predicate.
    p = posits_xy(spark, sf_dir).filter(F.abs(F.col("lat")) <= 84.0)
    return (
        p.withColumn("__err", utm_roundtrip_err_udf(F.col("lon"), F.col("lat")))
        .groupBy("mmsi")
        .agg(
            F.count(F.lit(1)).alias("n_posits"),
            F.sum(F.when(F.col("__err") > 1e-6, 1).otherwise(0))
            .cast("bigint")
            .alias("n_bad"),
        )
    )


# --- L2f: temporal boolean + duration-where-true ----------------------------


@register(
    "traj_tbool_duration",
    oracle=f"""
WITH {POSITS_V_CTE},
stepped AS (
  SELECT mmsi, ts, lon > 100 AS cond,
         epoch_us(lead(ts) OVER (PARTITION BY mmsi ORDER BY ts, event_id)) - epoch_us(ts) AS dt_us
  FROM posits
)
SELECT mmsi,
       CAST(COALESCE(SUM(dt_us) FILTER (WHERE cond), 0) AS BIGINT) AS true_us,
       CAST(COALESCE(SUM(dt_us) FILTER (WHERE NOT cond), 0) AS BIGINT) AS false_us,
       count(*) AS n_instants
FROM stepped GROUP BY mmsi
""",
    tags=("L2f", "L2e"),
    doc="temporal boolean (tbool) with step semantics: lon>100 evaluated per instant, "
    "held until the next instant; duration-where-true per vessel (L2 tbool_when/duration)",
)
def traj_tbool_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("mmsi").orderBy("ts", "event_id")
    dt = F.expr(
        "unix_micros(CAST(lead(ts) OVER (PARTITION BY mmsi ORDER BY ts, event_id) AS TIMESTAMP))"
    ) - F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    cond = F.col("lon") > 100
    return (
        posits_v(spark, sf_dir)
        .withColumn("dt_us", dt)
        .withColumn("cond", cond)
        .groupBy("mmsi")
        .agg(
            F.coalesce(F.sum(F.when(F.col("cond"), F.col("dt_us"))), F.lit(0)).alias("true_us"),
            F.coalesce(F.sum(F.when(~F.col("cond"), F.col("dt_us"))), F.lit(0)).alias("false_us"),
            F.count(F.lit(1)).alias("n_instants"),
        )
    )


# --- L2d: geodesic (haversine) length ---------------------------------------

_EARTH_R = 6371000.0


@register(
    "traj_length_haversine",
    oracle=f"""
WITH {POSITS_XY_CTE},
segs AS (
  SELECT mmsi,
         2 * {_EARTH_R} * asin(sqrt(
             pow(sin(radians(lat - lag(lat) OVER w) / 2), 2)
           + cos(radians(lag(lat) OVER w)) * cos(radians(lat))
             * pow(sin(radians(lon - lag(lon) OVER w) / 2), 2)
         )) AS seg_m
  FROM posits WINDOW w AS (PARTITION BY mmsi ORDER BY ts, event_id)
)
SELECT mmsi,
       CAST(SUM(CAST(ROUND(seg_m, 3) AS DECIMAL(28,3))) AS DOUBLE) AS length_m,
       count(seg_m) AS n_segments
FROM segs GROUP BY mmsi HAVING count(seg_m) > 0
""",
    tags=("L2d",),
    doc="geodesic trajectory length via haversine on WGS84 (the true tpoint_length "
    "semantic for geography points, SRID=4326 per 04_to_file.rs:147); per-segment "
    "round-to-mm before the exact-decimal fold (sin/cos/asin engine ulp tolerance)",
)
def traj_length_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("mmsi").orderBy("ts", "event_id")
    lat0, lon0 = F.lag("lat").over(w), F.lag("lon").over(w)
    seg = (
        2
        * _EARTH_R
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("lat") - lat0) / 2), 2)
                + F.cos(F.radians(lat0))
                * F.cos(F.radians("lat"))
                * F.pow(F.sin(F.radians(F.col("lon") - lon0) / 2), 2)
            )
        )
    )
    return (
        posits_xy(spark, sf_dir)
        .withColumn("seg_m", seg)
        .filter(F.col("seg_m").isNotNull())
        .groupBy("mmsi")
        .agg(
            F.sum(F.round("seg_m", 3).cast("decimal(28,3)")).cast("double").alias("length_m"),
            F.count("seg_m").alias("n_segments"),
        )
    )


# --- L2b: minus-box restriction (complement of at-box) ----------------------

_BOX_PRED_DUCK = (
    "lon BETWEEN 20 AND 120 AND lat BETWEEN 10 AND 80 "
    "AND ts BETWEEN TIMESTAMP '2024-01-05' AND TIMESTAMP '2024-01-25'"
)


@register(
    "traj_minus_box",
    oracle=f"""
WITH {POSITS_XY_CTE},
flagged AS (
  SELECT mmsi, ts, event_id,
         CASE WHEN NOT ({_BOX_PRED_DUCK}) THEN 1 ELSE 0 END AS outside
  FROM posits
),
runs AS (
  SELECT mmsi, ts, outside,
         CASE WHEN outside = 1 AND coalesce(lag(outside) OVER w, 0) = 0
              THEN 1 ELSE 0 END AS new_run
  FROM flagged WINDOW w AS (PARTITION BY mmsi ORDER BY ts, event_id)
)
SELECT mmsi,
       CAST(SUM(outside) AS BIGINT) AS n_outside,
       CAST(SUM(new_run) AS BIGINT) AS n_seqs,
       min(ts) FILTER (WHERE outside = 1) AS t_start,
       max(ts) FILTER (WHERE outside = 1) AS t_end
FROM runs GROUP BY mmsi
""",
    tags=("L2b", "F8"),
    doc="minus-STBox restriction (L2 tpoint_minus_stbox, the complement of "
    "traj_at_box): the result of `minus` is a sequence SET, so alongside the "
    "outside-point count we count its maximal contiguous runs (n_seqs) via a "
    "lag-transition window — one shuffle on the vessel key",
)
def traj_minus_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    inside = (
        F.col("lon").between(20, 120)
        & F.col("lat").between(10, 80)
        & F.col("ts").between(
            F.lit("2024-01-05").cast("timestamp_ntz"), F.lit("2024-01-25").cast("timestamp_ntz")
        )
    )
    w = Window.partitionBy("mmsi").orderBy("ts", "event_id")
    df = (
        posits_xy(spark, sf_dir)
        .withColumn("outside", F.when(~inside, 1).otherwise(0))
        .withColumn(
            "new_run",
            F.when(
                (F.col("outside") == 1) & (F.coalesce(F.lag("outside").over(w), F.lit(0)) == 0), 1
            ).otherwise(0),
        )
    )
    return df.groupBy("mmsi").agg(
        F.sum("outside").alias("n_outside"),
        F.sum("new_run").alias("n_seqs"),
        F.min(F.when(F.col("outside") == 1, F.col("ts"))).alias("t_start"),
        F.max(F.when(F.col("outside") == 1, F.col("ts"))).alias("t_end"),
    )


# --- L2d: stop detection ----------------------------------------------------

V_STOP = 0.002  # units/s — ~median segment speed in the fixture
MIN_STOP_US = 43_200_000_000  # 12 h


@register(
    "traj_stops",
    oracle=f"""
WITH {POSITS_XY_CTE},
segs AS (
  SELECT mmsi, ts, event_id,
         sqrt( (lon - lag(lon) OVER w) * (lon - lag(lon) OVER w)
             + (lat - lag(lat) OVER w) * (lat - lag(lat) OVER w) ) AS dist,
         CAST(epoch_us(ts) - epoch_us(lag(ts) OVER w) AS DOUBLE) / 1000000.0 AS dt_s
  FROM posits WINDOW w AS (PARTITION BY mmsi ORDER BY ts, event_id)
),
flagged AS (
  SELECT mmsi, ts, event_id,
         CASE WHEN dt_s > 0 AND dist / dt_s < {V_STOP} THEN 1 ELSE 0 END AS slow
  FROM segs
),
runs AS (
  SELECT mmsi, ts, event_id, slow,
         CASE WHEN slow = 1 AND coalesce(lag(slow) OVER w2, 0) = 0
              THEN 1 ELSE 0 END AS new_run
  FROM flagged WINDOW w2 AS (PARTITION BY mmsi ORDER BY ts, event_id)
),
numbered AS (
  SELECT mmsi, ts, slow,
         CAST(SUM(new_run) OVER (PARTITION BY mmsi ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS stop_id
  FROM runs
)
SELECT mmsi, stop_id, count(*) AS n_pts, min(ts) AS t_start, max(ts) AS t_end,
       CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS duration_us
FROM numbered WHERE slow = 1
GROUP BY mmsi, stop_id
HAVING epoch_us(max(ts)) - epoch_us(min(ts)) >= {MIN_STOP_US}
""",
    tags=("L2d", "TSet"),
    doc=f"stop detection (L2 tpoint_stops shape): maximal runs of consecutive "
    f"segments slower than {V_STOP} units/s lasting >= 12h (speed-threshold "
    "variant of the reference's maxdist+minduration contract); lag-speed -> "
    "run sessionization -> duration filter, all in one vessel-key shuffle",
)
def traj_stops(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("mmsi").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    dist = F.sqrt(
        (F.col("lon") - F.lag("lon").over(w)) * (F.col("lon") - F.lag("lon").over(w))
        + (F.col("lat") - F.lag("lat").over(w)) * (F.col("lat") - F.lag("lat").over(w))
    )
    dt = (
        F.expr("CAST(unix_micros(CAST(ts AS TIMESTAMP)) "
               "- unix_micros(CAST(lag(ts) OVER (PARTITION BY mmsi ORDER BY ts, event_id) AS TIMESTAMP)) AS DOUBLE)")
        / 1_000_000.0
    )
    df = (
        posits_xy(spark, sf_dir)
        .withColumn("dist", dist)
        .withColumn("dt_s", dt)
        .withColumn(
            "slow",
            F.when((F.col("dt_s") > 0) & (F.col("dist") / F.col("dt_s") < V_STOP), 1).otherwise(0),
        )
        .withColumn(
            "new_run",
            F.when(
                (F.col("slow") == 1) & (F.coalesce(F.lag("slow").over(w), F.lit(0)) == 0), 1
            ).otherwise(0),
        )
        .withColumn("stop_id", F.sum("new_run").over(wrun))
        .filter(F.col("slow") == 1)
    )
    us = "unix_micros(CAST({c} AS TIMESTAMP))"
    return (
        df.groupBy("mmsi", "stop_id")
        .agg(
            F.count(F.lit(1)).alias("n_pts"),
            F.min("ts").alias("t_start"),
            F.max("ts").alias("t_end"),
        )
        .withColumn(
            "duration_us",
            F.expr(us.format(c="t_end")) - F.expr(us.format(c="t_start")),
        )
        .filter(F.col("duration_us") >= MIN_STOP_US)
    )


# --- temporal COUNT aggregate (sweep-line over session intervals) -----------

_SESSIONS_CTE = f"""
flagged AS (
  SELECT mmsi, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000 THEN 1 ELSE 0 END AS new_session
  FROM posits WINDOW w AS (PARTITION BY mmsi ORDER BY ts, event_id)
),
sessions AS (
  SELECT mmsi, ts,
         CAST(SUM(new_session) OVER (PARTITION BY mmsi ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
),
spans AS (
  SELECT mmsi, session_id, min(ts) AS t_start, max(ts) AS t_end
  FROM sessions GROUP BY mmsi, session_id
)
"""


@register(
    "traj_tcount_sweep",
    oracle=f"""
WITH {POSITS_V_CTE},
{_SESSIONS_CTE},
deltas AS (
  SELECT t_start AS ts, 1 AS delta FROM spans
  UNION ALL
  SELECT t_end AS ts, -1 AS delta FROM spans
),
net AS (
  SELECT ts, CAST(SUM(delta) AS BIGINT) AS net_delta FROM deltas GROUP BY ts
)
SELECT ts, net_delta,
       CAST(SUM(net_delta) OVER (ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS active
FROM net
""",
    tags=("TSet", "A7"),
    doc="temporal COUNT aggregate (MEOS tcount over sequence sets): sweep-line "
    "over 6h-gap session intervals — +1/-1 boundary events, grouped per distinct "
    "instant (order-free), then one running sum over the change-point stream; the "
    "final global window runs over ~2 rows per session (tiny), so the single "
    "ordered partition is not a scale hazard (convention: a session is active "
    "through its end instant; the -1 nets at exactly t_end)",
)
def traj_tcount_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("mmsi").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    gap_us = F.expr("unix_micros(CAST(ts AS TIMESTAMP))") - F.expr(
        "unix_micros(CAST(lag(ts) OVER (PARTITION BY mmsi ORDER BY ts, event_id) AS TIMESTAMP))"
    )
    spans = (
        posits_v(spark, sf_dir)
        .withColumn("new_session", F.when(gap_us.isNull() | (gap_us > 21_600_000_000), 1).otherwise(0))
        .withColumn("session_id", F.sum("new_session").over(wrun))
        .groupBy("mmsi", "session_id")
        .agg(F.min("ts").alias("t_start"), F.max("ts").alias("t_end"))
    )
    deltas = spans.select(F.col("t_start").alias("ts"), F.lit(1).alias("delta")).unionByName(
        spans.select(F.col("t_end").alias("ts"), F.lit(-1).alias("delta"))
    )
    net = deltas.groupBy("ts").agg(F.sum("delta").alias("net_delta"))
    wsweep = Window.orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    return net.withColumn("active", F.sum("net_delta").over(wsweep))


# --- temporal CENTROID aggregate (hour-granular tcentroid) ------------------


@register(
    "traj_tcentroid",
    oracle=f"""
WITH {POSITS_XY_CTE}
SELECT date_trunc('hour', ts) AS bucket,
       count(*) AS n_pts,
       CAST(SUM(CAST(lon AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS cx,
       CAST(SUM(CAST(lat AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS cy
FROM posits GROUP BY date_trunc('hour', ts)
""",
    tags=("A7", "L2h"),
    doc="temporal CENTROID aggregate (MEOS tcentroid shape) at hour granularity: "
    "mean fleet position per time bucket; lon/lat are exact 2-decimal fixture "
    "values so the DECIMAL(18,2) sum is lossless and shuffle-order-free, with one "
    "double division at the end — map-side partial aggregation does the heavy "
    "lifting at scale",
)
def traj_tcentroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.determinism import money_sum

    n = F.count(F.lit(1))
    return (
        posits_xy(spark, sf_dir)
        .groupBy(F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("bucket"))
        .agg(
            n.alias("n_pts"),
            (money_sum("lon") / n).alias("cx"),
            (money_sum("lat") / n).alias("cy"),
        )
    )


# --- time-weighted average (MEOS twavg) -------------------------------------


@register(
    "traj_twavg",
    oracle=f"""
WITH {POSITS_V_CTE},
segs AS (
  SELECT mmsi,
         CAST(ROUND(lon * 100) AS BIGINT)
           + CAST(ROUND(lag(lon) OVER w * 100) AS BIGINT) AS ab,
         epoch_us(ts) - epoch_us(lag(ts) OVER w) AS dt_us
  FROM posits WINDOW w AS (PARTITION BY mmsi ORDER BY ts, event_id)
)
SELECT mmsi,
       CAST(SUM(ab * dt_us) AS DOUBLE)
         / (200.0 * CAST(CAST(SUM(dt_us) AS BIGINT) AS DOUBLE)) AS twavg_lon,
       CAST(SUM(dt_us) AS BIGINT) AS total_us
FROM segs WHERE dt_us IS NOT NULL AND dt_us > 0
GROUP BY mmsi
""",
    tags=("L2a", "A7"),
    doc="time-weighted average (MEOS twavg_tfloat): trapezoidal integral of the "
    "linearly-interpolated value over time / total duration. Fixture lon is an "
    "exact 2-decimal, so the whole integral is computed in INTEGER centi-lon x "
    "microseconds (exact, associative — shuffle-order-free without any decimal "
    "rounding) and the single double division happens at the very end; one "
    "vessel-key shuffle",
)
def traj_twavg(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("mmsi").orderBy("ts", "event_id")
    us = "unix_micros(CAST({c} AS TIMESTAMP))"
    dt_us = F.expr(us.format(c="ts")) - F.expr(
        us.format(c="lag(ts) OVER (PARTITION BY mmsi ORDER BY ts, event_id)")
    )
    ab = F.round(F.col("lon") * 100).cast("bigint") + F.round(
        F.lag("lon").over(w) * 100
    ).cast("bigint")
    segs = (
        posits_v(spark, sf_dir)
        .withColumn("ab", ab)
        .withColumn("dt_us", dt_us)
        .filter(F.col("dt_us").isNotNull() & (F.col("dt_us") > 0))
    )
    total_us = F.sum("dt_us").cast("bigint")
    # per-segment products stay under 2^63; the SUM is kept exact through
    # DECIMAL(38,0) (Spark BIGINT sum would overflow at corpus scale) and
    # matches DuckDB's HUGEINT sum bit-for-bit after the double cast
    num = F.sum((F.col("ab") * F.col("dt_us")).cast("decimal(38,0)")).cast("double")
    return segs.groupBy("mmsi").agg(
        (num / (F.lit(200.0) * total_us.cast("double"))).alias("twavg_lon"),
        total_us.alias("total_us"),
    )


# --- L2c: grid resample with linear interpolation (tsample, linear) ---------


@register(
    "traj_resample_linear",
    oracle=f"""
WITH {DEDUP_XY_CTE},
segs AS (
  SELECT mmsi, lon, lat,
         epoch_us(ts) AS p_us,
         lead(lon) OVER w AS n_lon,
         lead(lat) OVER w AS n_lat,
         epoch_us(lead(ts) OVER w) AS n_us
  FROM dedup
  WINDOW w AS (PARTITION BY mmsi ORDER BY ts)
),
valid AS (
  SELECT * FROM segs
  WHERE n_us IS NOT NULL AND n_us - p_us <= {RESAMPLE_MAX_SEGMENT_US}
),
marks AS (
  SELECT mmsi, lon, lat, n_lon, n_lat, p_us, n_us, u.g_us
  FROM valid, unnest(generate_series(
         p_us + ((-p_us % {RESAMPLE_STEP_US}) + {RESAMPLE_STEP_US}) % {RESAMPLE_STEP_US},
         n_us - 1, {RESAMPLE_STEP_US})) AS u(g_us)
)
SELECT mmsi, make_timestamp(g_us) AS g,
       lon + (n_lon - lon) * (CAST(g_us - p_us AS DOUBLE)
                              / CAST(n_us - p_us AS DOUBLE)) AS lon_i,
       lat + (n_lat - lat) * (CAST(g_us - p_us AS DOUBLE)
                              / CAST(n_us - p_us AS DOUBLE)) AS lat_i
FROM marks
""",
    tags=("L2c", "L2b"),
    doc="grid resampling with linear interpolation (L2 temporal_tsample, LINEAR "
    "interp — the general form of traj_value_at_time): one lead() pass pairs "
    "each posit with its successor, then the 6h grid markers inside each "
    "segment are generated map-side (sequence+explode) and lerped in epoch "
    "micros — ONE scan, ONE vessel-key shuffle, no union, no per-marker join "
    "(r5 VERDICT item 4 replaced the union+ignore-nulls-window shape, whose "
    "two legs each rescanned and reshuffled the posits). Segments longer "
    "than 366 days are NOT interpolated (r14 VERDICT item 4, extremes "
    "contract #4): one corrupt 1901→9999 posit pair used to expand to an "
    "~11.8M-element marker array and OOM-wedge the executor — one bad row "
    "killing the job at scale. Interpolating across a year-plus silence gap "
    "is meaningless (the reference builds sequences from observed instants "
    "only, tseq.rs:50-64); the gate is the time-axis sibling of the XY "
    "envelope, applied identically in both legs and output-neutral on every "
    "driver fixture (max real gap ≈ 6 days at sf0.1). The oracle mirrors "
    "the segment shape exactly — its previous vessel-span day-anchored grid "
    "amplified the same way",
)
def traj_resample_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = dedup_monotonic(posits_xy(spark, sf_dir))
    w = Window.partitionBy("mmsi").orderBy("ts")
    # each kept marker g has a posit at-or-before (p) and strictly-after (n);
    # segments [ts_i, ts_{i+1}) therefore partition the marker domain — the
    # oracle drops markers at exactly t1 (no following posit), as does the
    # missing lead() here
    segs = (
        p.select(
            "mmsi",
            "lon",
            "lat",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("p_us"),
            F.lead("lon").over(w).alias("n_lon"),
            F.lead("lat").over(w).alias("n_lat"),
            F.unix_micros(F.lead("ts").over(w).cast("timestamp")).alias("n_us"),
        )
        .filter(
            F.col("n_us").isNotNull()
            # max-span validity gate (see the doc above): bounds the marker
            # array at 1464 elements per segment, killing the grid-
            # amplification OOM class map-side, before any explode
            & ((F.col("n_us") - F.col("p_us")) <= RESAMPLE_MAX_SEGMENT_US)
        )
    )
    # first grid-aligned instant >= segment start, in integer micros (double
    # division + ceil could misround exactly-aligned stamps). pmod, not
    # DIV-based ceil: both engines' integer division truncates toward zero,
    # which for PRE-EPOCH (negative-micros) segment starts skips the true
    # first grid instant — the positive-mod form is exact ceiling on the
    # whole timeline and identical to the oracle's ((-p % s) + s) % s.
    g0 = F.expr(f"p_us + pmod(-p_us, {RESAMPLE_STEP_US})")
    gs = F.when(
        g0 < F.col("n_us"),
        F.sequence(g0, F.col("n_us") - 1, F.lit(RESAMPLE_STEP_US)),
    ).otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
    marks = segs.select(
        "mmsi", "lon", "lat", "n_lon", "n_lat", "p_us", "n_us",
        F.explode(gs).alias("g_us"),
    )
    frac = (F.col("g_us") - F.col("p_us")).cast("double") / (
        F.col("n_us") - F.col("p_us")
    ).cast("double")

    def lerp(pv: str, nv: str):
        return F.col(pv) + (F.col(nv) - F.col(pv)) * frac

    return marks.select(
        "mmsi",
        F.expr("CAST(timestamp_micros(g_us) AS TIMESTAMP_NTZ)").alias("g"),
        lerp("lon", "n_lon").alias("lon_i"),
        lerp("lat", "n_lat").alias("lat_i"),
    )


# --- UDTF surface: sequence -> instants explode -----------------------------


@register(
    "traj_unnest_instants",
    oracle=f"""
WITH {_ASSEMBLED_XY_CTE}
SELECT mmsi,
       CAST(row_number() OVER (PARTITION BY mmsi ORDER BY ts, event_id) - 1 AS BIGINT) AS idx,
       {point_wkt_duck('lon', 'lat', 'ts')} AS instant_wkt
FROM trunc
QUALIFY count(*) OVER (PARTITION BY mmsi) >= {MIN_TRIP}
""",
    tags=("F2", "A5"),
    doc="the UDTF direction of the flagship UDAF (SURVEY §2.10): assembled "
    "sequences exploded back to one row per instant with its 0-based position "
    "and the reference's instant WKT 'POINT(x y)@ts+00' (tinst out form, "
    "01_hello_world.rs:8); posexplode keeps the array order so no re-sort",
)
def traj_unnest_instants(spark: SparkSession, sf_dir: str) -> DataFrame:
    seqs = assemble(posits_xy(spark, sf_dir), min_size=MIN_TRIP, max_size=MAX_TRIP)
    inst = seqs.select(
        "mmsi", F.posexplode("traj.points").alias("idx", "pt")
    ).select(
        "mmsi",
        F.col("idx").cast("bigint").alias("idx"),
        F.col("pt.lon").alias("lon"),
        F.col("pt.lat").alias("lat"),
        F.col("pt.ts").alias("ts"),
    )
    return inst.select("mmsi", "idx", point_wkt("lon", "lat", "ts").alias("instant_wkt"))


# --- L2h: space-time grid tiling -------------------------------------------

_CELL_DEG = 5.0  # degrees per spatial cell
_TILE_HOURS = 6  # hours per temporal slice


@register(
    "traj_space_time_grid",
    oracle=f"""
WITH {POSITS_XY_CTE}
SELECT CAST(FLOOR(lon / {_CELL_DEG}) AS BIGINT) AS cell_x,
       CAST(FLOOR(lat / {_CELL_DEG}) AS BIGINT) AS cell_y,
       CAST(FLOOR(epoch_us(ts) / ({_TILE_HOURS} * 3600000000)) AS BIGINT) AS tile_t,
       count(*) AS n_posits,
       count(DISTINCT mmsi) AS n_vessels
FROM posits
GROUP BY 1, 2, 3
""",
    tags=("L2h", "J5"),
    doc="space-time tiling (L2 stbox_tile_list family; the 3-D grid behind the "
    f"J5 box-join bucketing): posits binned into {_CELL_DEG}°×{_CELL_DEG}°×"
    f"{_TILE_HOURS}h cells with posit + distinct-vessel counts per cell — one "
    "partial-aggregated shuffle on the cell key; output cardinality is the "
    "occupied-cell count, independent of posit volume, so the occupancy "
    "summary of a 100 TB AIS feed still fits in memory",
)
def traj_space_time_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = posits_xy(spark, sf_dir)
    tile_us = _TILE_HOURS * 3600 * 1_000_000
    return (
        p.groupBy(
            F.floor(F.col("lon") / _CELL_DEG).cast("bigint").alias("cell_x"),
            F.floor(F.col("lat") / _CELL_DEG).cast("bigint").alias("cell_y"),
            F.floor(F.expr("unix_micros(CAST(ts AS TIMESTAMP))") / tile_us).cast("bigint").alias("tile_t"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_posits"),
            F.countDistinct("mmsi").alias("n_vessels"),
        )
    )


# --- L2b: at-value restriction (linear interpolation) ------------------------

_AV_LO, _AV_HI = 25.0, 75.0


@register(
    "traj_at_value",
    oracle=f"""
WITH {POSITS_V_CTE},
segs AS (
  SELECT mmsi, lon AS v0,
         lead(lon) OVER w AS v1,
         epoch_us(lead(ts) OVER w) - epoch_us(ts) AS dur_us
  FROM posits WINDOW w AS (PARTITION BY mmsi ORDER BY ts, event_id)
),
clipped AS (
  SELECT mmsi, dur_us,
    CASE
      WHEN v1 IS NULL THEN NULL
      WHEN v0 = v1 THEN CASE WHEN v0 BETWEEN {_AV_LO} AND {_AV_HI} THEN dur_us ELSE 0 END
      ELSE CAST(FLOOR(
             GREATEST(LEAST(GREATEST(v0, v1), {_AV_HI}) - GREATEST(LEAST(v0, v1), {_AV_LO}), 0)
             / (GREATEST(v0, v1) - LEAST(v0, v1)) * dur_us) AS BIGINT)
    END AS in_us
  FROM segs
)
SELECT mmsi,
       CAST(COALESCE(SUM(in_us), 0) AS BIGINT) AS in_range_us,
       CAST(COALESCE(SUM(dur_us), 0) AS BIGINT) AS total_us,
       count(in_us) AS n_segments,
       CAST(COALESCE(SUM(CASE WHEN in_us > 0 AND in_us < dur_us THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_partial
FROM clipped GROUP BY mmsi
""",
    tags=("L2b",),
    doc=f"at-value restriction under LINEAR interpolation (L2 temporal_at_value "
    f"family; completes at-time/at-box/minus-box): time each vessel's lon "
    f"spends inside [{_AV_LO}, {_AV_HI}], clipping each segment by the exact "
    "value-overlap fraction (crossings interpolated, not snapped to instants "
    "— the step-semantics twin is traj_tbool_duration). Determinism: the "
    "fraction is scalar per segment (identical IEEE ops both engines), "
    "FLOOR-ed to integer micros so the per-vessel fold is an associative "
    "BIGINT sum",
)
def traj_at_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("mmsi").orderBy("ts", "event_id")
    p = (
        posits_v(spark, sf_dir)
        .withColumn("v1", F.lead("lon").over(w))
        .withColumn(
            "dur_us",
            F.expr("unix_micros(CAST(lead(ts) OVER (PARTITION BY mmsi ORDER BY ts, event_id) AS TIMESTAMP))")
            - F.expr("unix_micros(CAST(ts AS TIMESTAMP))"),
        )
        .withColumnRenamed("lon", "v0")
    )
    vmax, vmin = F.greatest("v0", "v1"), F.least("v0", "v1")
    clip = F.greatest(
        F.least(vmax, F.lit(_AV_HI)) - F.greatest(vmin, F.lit(_AV_LO)), F.lit(0.0)
    )
    in_us = (
        F.when(F.col("v1").isNull(), F.lit(None).cast("bigint"))
        .when(
            F.col("v0") == F.col("v1"),
            F.when(F.col("v0").between(_AV_LO, _AV_HI), F.col("dur_us")).otherwise(F.lit(0)),
        )
        # try_divide, not `/`: a NULL endpoint makes greatest/least skip the
        # NULL so vmax == vmin and ANSI `/` ABORTS THE JOB on one bad row
        # (r11 review, probed on a NULL-position fixture); the oracle's
        # DuckDB x/0 is NULL, and try_divide aligns exactly — the segment
        # contributes NULL (excluded from sums and n_segments) instead of
        # killing a 100 TB pass. The v0 == v1 stationary case never reaches
        # this branch, so real zero-length value spans are unaffected.
        .otherwise(
            F.floor(F.try_divide(clip, vmax - vmin) * F.col("dur_us")).cast("bigint")
        )
    )
    c = p.withColumn("in_us", in_us)
    return c.groupBy("mmsi").agg(
        F.coalesce(F.sum("in_us"), F.lit(0)).cast("bigint").alias("in_range_us"),
        F.coalesce(F.sum("dur_us"), F.lit(0)).cast("bigint").alias("total_us"),
        F.count("in_us").alias("n_segments"),
        F.coalesce(
            F.sum(F.when((F.col("in_us") > 0) & (F.col("in_us") < F.col("dur_us")), 1).otherwise(0)),
            F.lit(0),
        ).cast("bigint").alias("n_partial"),
    )


# --- temporal MAX aggregate (sweep over active sessions) --------------------

def interval_stab_max(spans: DataFrame) -> DataFrame:
    """Distributed interval-stabbing aggregate: for every distinct interval
    endpoint, how many of the (t_start, t_end, v) intervals cover it and the
    max of their values — (ts, n_active, max_lon), inclusive on both ends.

    Never materializes an endpoint×interval pair (the candidate count of any
    tile-bucketed stabbing join is Σ n_active — density-quadratic at any
    tile width). Instead: rank space over the distinct endpoints; n_active
    via the +1/-1 change-point sweep; max via an interval tree — each
    spanning interval sits at the unique node where its rank interval
    splits (level = bitlen(ra XOR rb), node = ra >> level), so it crosses
    that node's midpoint and coverage of a left-half endpoint reduces to
    ra <= r (prefix running max) and of a right-half endpoint to rb >= r
    (suffix running max). Instant intervals (ra == rb) contribute by rank
    equi-join. Every intermediate is O(N + B·log B) rows; the only global
    window orders the B distinct endpoints (the traj_tcount_sweep
    convention).
    """
    bnd = (
        spans.select(F.col("t_start").alias("ts"))
        .unionByName(spans.select(F.col("t_end").alias("ts")))
        .distinct()
        .withColumn("rank", F.row_number().over(Window.orderBy("ts")) - 1)
    )
    # n_active(r) = #(ra <= r) - #(rb < r): per-instant start/end counts,
    # then one running sum over the change-point stream (ends at r itself
    # still count as active — BETWEEN is inclusive on both sides).
    s_cnt = spans.groupBy(F.col("t_start").alias("ts")).agg(F.count(F.lit(1)).alias("n_s"))
    e_cnt = spans.groupBy(F.col("t_end").alias("ts")).agg(F.count(F.lit(1)).alias("n_e"))
    wsweep = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    active = (
        bnd.join(s_cnt, "ts", "left")
        .join(e_cnt, "ts", "left")
        .select(
            "ts",
            "rank",
            F.coalesce("n_s", F.lit(0)).alias("n_s"),
            F.coalesce("n_e", F.lit(0)).alias("n_e"),
        )
        .withColumn(
            "n_active",
            F.sum("n_s").over(wsweep) - (F.sum("n_e").over(wsweep) - F.col("n_e")),
        )
        .select("ts", "rank", "n_active")
    )
    # Intervals in rank coordinates: ra/rb are exact (every endpoint IS a
    # boundary instant, so both lookups hit).
    ra = bnd.select(F.col("ts").alias("t_start"), F.col("rank").alias("ra"))
    rb = bnd.select(F.col("ts").alias("t_end"), F.col("rank").alias("rb"))
    sp = spans.join(ra, "t_start").join(rb, "t_end").select("ra", "rb", "v")
    inst = (
        sp.filter(F.col("ra") == F.col("rb"))
        .groupBy(F.col("ra").alias("rank"))
        .agg(F.max("v").alias("m"))
        .select("rank", "m")
    )
    # bin() gives the exact bit length — no float log.
    seg = (
        sp.filter(F.col("ra") != F.col("rb"))
        .withColumn("lvl", F.length(F.bin(F.expr("ra ^ rb"))).cast("int"))
        .withColumn("node", F.expr("shiftright(ra, lvl)"))
    )
    span_left = seg.select(
        "lvl", "node", F.col("ra").alias("ord"), F.lit(0).alias("kind"), "v",
        F.lit(None).cast("int").alias("rank"),
    )
    span_right = seg.select(
        "lvl", "node", F.col("rb").alias("ord"), F.lit(0).alias("kind"), "v",
        F.lit(None).cast("int").alias("rank"),
    )
    # Endpoint probes: one row per (endpoint, ancestor level), generated
    # directly up to the levels the corpus can populate — bitlen of the max
    # rank, a scalar subquery usable as a sequence() bound (it's not inside
    # a lambda), so the explode emits exactly log2(B) rows per endpoint
    # instead of a fixed over-count filtered afterwards.
    max_lvl = F.length(
        F.bin(bnd.agg(F.greatest(F.max("rank"), F.lit(1)).alias("x")).scalar())
    ).cast("int")
    probes = (
        bnd.select("rank", F.explode(F.sequence(F.lit(1), max_lvl)).alias("lvl"))
        .select(
            "lvl",
            F.expr("shiftright(rank, lvl)").alias("node"),
            F.col("rank").alias("ord"),
            F.lit(1).alias("kind"),
            F.lit(None).cast("double").alias("v"),
            "rank",
            (F.expr("(rank >> (lvl - 1)) & 1") == 0).alias("is_left"),
        )
    )
    wl = Window.partitionBy("lvl", "node").orderBy("ord", "kind").rowsBetween(
        Window.unboundedPreceding, 0
    )
    left_res = (
        span_left.unionByName(probes.filter("is_left").drop("is_left"))
        .withColumn("m", F.max(F.when(F.col("kind") == 0, F.col("v"))).over(wl))
        .filter(F.col("kind") == 1)
        .select("rank", "m")
    )
    wr = Window.partitionBy("lvl", "node").orderBy(F.desc("ord"), F.asc("kind")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    right_res = (
        span_right.unionByName(probes.filter(~F.col("is_left")).drop("is_left"))
        .withColumn("m", F.max(F.when(F.col("kind") == 0, F.col("v"))).over(wr))
        .filter(F.col("kind") == 1)
        .select("rank", "m")
    )
    maxes = (
        inst.unionByName(left_res)
        .unionByName(right_res)
        .groupBy("rank")
        .agg(F.max("m").alias("max_lon"))
    )
    return active.join(maxes, "rank").select("ts", "n_active", "max_lon")


@register(
    "traj_tmax_sweep",
    oracle=f"""
WITH {POSITS_V_CTE},
flagged AS (
  SELECT mmsi, ts, lon, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000 THEN 1 ELSE 0 END AS new_session
  FROM posits WINDOW w AS (PARTITION BY mmsi ORDER BY ts, event_id)
),
sessions AS (
  SELECT mmsi, ts, lon,
         SUM(new_session) OVER (PARTITION BY mmsi ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
),
spans AS (
  SELECT mmsi, session_id, min(ts) AS t_start, max(ts) AS t_end, max(lon) AS v
  FROM sessions GROUP BY mmsi, session_id
),
bounds AS (
  SELECT DISTINCT ts FROM (
    SELECT t_start AS ts FROM spans UNION ALL SELECT t_end FROM spans
  )
)
SELECT b.ts, count(*) AS n_active, max(s.v) AS max_lon
FROM bounds b JOIN spans s ON b.ts BETWEEN s.t_start AND s.t_end
GROUP BY b.ts
""",
    tags=("TSet", "A7"),
    doc="temporal MAX aggregate (MEOS tmax over a step-interpolated sequence "
    "set): each 6h-gap session carries its max lon as a constant value; at "
    "every session boundary the sweep reports how many sessions are active "
    "and the max of their values. The oracle states it as an interval join; "
    "the Spark side runs an INTERVAL-TREE stabbing-max in rank space — "
    "n_active by the same +1/-1 change-point sweep traj_tcount_sweep uses, "
    "max by assigning each session to the unique tree node where its rank "
    "interval splits and resolving per-node prefix/suffix running maxima "
    "with window functions. No boundary×session pair is ever materialized "
    "(the r8 ×10 sweep measured the old tile join 15.6× for 10× data: its "
    "candidate row count is Σ n_active — density-quadratic at any tile "
    "width); every intermediate here is O(N + B·log B) rows. Algorithm in "
    "interval_stab_max (adversarially tested against a brute-force stab in "
    "tests/test_trajectory.py)",
)
def traj_tmax_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("mmsi").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    gap_us = F.expr("unix_micros(CAST(ts AS TIMESTAMP))") - F.expr(
        "unix_micros(CAST(lag(ts) OVER (PARTITION BY mmsi ORDER BY ts, event_id) AS TIMESTAMP))"
    )
    spans = (
        posits_v(spark, sf_dir)
        .withColumn("new_session", F.when(gap_us.isNull() | (gap_us > 21_600_000_000), 1).otherwise(0))
        .withColumn("session_id", F.sum("new_session").over(wrun))
        .groupBy("mmsi", "session_id")
        .agg(F.min("ts").alias("t_start"), F.max("ts").alias("t_end"), F.max("lon").alias("v"))
    )
    return interval_stab_max(spans)


# --- AIS cleaning: implied-speed outlier filter ------------------------------

_MAX_SPEED_DEG_H = 2.0  # max plausible travel rate, degrees/hour


@register(
    "traj_speed_filter",
    oracle=f"""
WITH {POSITS_XY_CTE},
stepped AS (
  SELECT mmsi, ts, event_id,
         sqrt( (lon - lag(lon) OVER w) * (lon - lag(lon) OVER w)
             + (lat - lag(lat) OVER w) * (lat - lag(lat) OVER w) ) AS d_deg,
         (epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 3600000000.0 AS dt_h
  FROM posits WINDOW w AS (PARTITION BY mmsi ORDER BY ts, event_id)
),
flagged AS (
  SELECT mmsi, ts, event_id,
         CASE WHEN d_deg IS NULL THEN 0
              WHEN dt_h <= 0 THEN 1
              WHEN d_deg / dt_h > {_MAX_SPEED_DEG_H} THEN 1 ELSE 0 END AS is_outlier
  FROM stepped
)
SELECT mmsi,
       count(*) AS n_posits,
       CAST(SUM(is_outlier) AS BIGINT) AS n_dropped,
       CAST(count(*) - SUM(is_outlier) AS BIGINT) AS n_kept
FROM flagged GROUP BY mmsi
""",
    tags=("P4", "L2d"),
    doc=f"AIS cleaning, the physics twin of monotonic dedup (04_to_file.rs:92-96): "
    f"a posit whose implied travel rate from its predecessor exceeds "
    f"{_MAX_SPEED_DEG_H} deg/h (or whose clock did not advance) is flagged as a "
    "teleport/spoof outlier; per-vessel kept/dropped counts. The speed ratio is "
    "scalar per row (identical IEEE ops both engines) and only integer flags "
    "are summed, so the fold is associative",
)
def traj_speed_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("mmsi").orderBy("ts", "event_id")
    dlon = F.col("lon") - F.lag("lon").over(w)
    dlat = F.col("lat") - F.lag("lat").over(w)
    d_deg = F.sqrt(dlon * dlon + dlat * dlat)
    dt_h = (
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
        - F.expr("unix_micros(CAST(lag(ts) OVER (PARTITION BY mmsi ORDER BY ts, event_id) AS TIMESTAMP))")
    ) / 3_600_000_000.0
    is_outlier = (
        F.when(d_deg.isNull(), 0)
        .when(dt_h <= 0, 1)
        .when(d_deg / dt_h > _MAX_SPEED_DEG_H, 1)
        .otherwise(0)
    )
    return (
        posits_xy(spark, sf_dir)
        .withColumn("is_outlier", is_outlier)
        .groupBy("mmsi")
        .agg(
            F.count(F.lit(1)).alias("n_posits"),
            F.sum("is_outlier").cast("bigint").alias("n_dropped"),
            (F.count(F.lit(1)) - F.sum("is_outlier")).cast("bigint").alias("n_kept"),
        )
    )


# --- L2a accessor: cumulative length along the trajectory --------------------


@register(
    "traj_cumulative_length",
    oracle=f"""
WITH {POSITS_XY_CTE},
segs AS (
  SELECT mmsi, ts, event_id,
         ROUND(sqrt( (lon - lag(lon) OVER w) * (lon - lag(lon) OVER w)
                   + (lat - lag(lat) OVER w) * (lat - lag(lat) OVER w) ), 6) AS seg_len
  FROM posits WINDOW w AS (PARTITION BY mmsi ORDER BY ts, event_id)
)
SELECT mmsi, event_id,
       CAST(COALESCE(SUM(CAST(seg_len AS DECIMAL(28,6)))
            OVER (PARTITION BY mmsi ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS DOUBLE) AS cum_len
FROM segs
""",
    tags=("L2a", "L2d"),
    doc="cumulative length accessor (MEOS tpoint cumulative_length): running "
    "planar distance travelled at every instant — per-segment lengths rounded "
    "to 6 decimals then folded in exact DECIMAL so the running sum is "
    "prefix-order-only (window partitions by vessel; no global state)",
)
def traj_cumulative_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("mmsi").orderBy("ts", "event_id")
    dlon = F.col("lon") - F.lag("lon").over(w)
    dlat = F.col("lat") - F.lag("lat").over(w)
    seg = F.round(F.sqrt(dlon * dlon + dlat * dlat), 6).cast("decimal(28,6)")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    return (
        posits_xy(spark, sf_dir)
        .withColumn("__seg", seg)
        .select(
            "mmsi",
            "event_id",
            F.coalesce(F.sum("__seg").over(wrun), F.lit(0)).cast("double").alias("cum_len"),
        )
    )


# --- geofencing: box entry/exit event detection ------------------------------

_GF_XMIN, _GF_XMAX, _GF_YMIN, _GF_YMAX = 40.0, 120.0, 20.0, 80.0


@register(
    "traj_geofence_events",
    oracle=f"""
WITH {POSITS_XY_CTE},
flagged AS (
  SELECT mmsi, ts, event_id,
         CASE WHEN lon >= {_GF_XMIN} AND lon <= {_GF_XMAX}
               AND lat >= {_GF_YMIN} AND lat <= {_GF_YMAX} THEN 1 ELSE 0 END AS inside,
         lag(CASE WHEN lon >= {_GF_XMIN} AND lon <= {_GF_XMAX}
                   AND lat >= {_GF_YMIN} AND lat <= {_GF_YMAX} THEN 1 ELSE 0 END)
             OVER (PARTITION BY mmsi ORDER BY ts, event_id) AS prev_inside
  FROM posits
)
SELECT mmsi, ts, event_id,
       CASE WHEN inside = 1 THEN 'enter' ELSE 'exit' END AS event
FROM flagged
WHERE prev_inside IS NOT NULL AND inside != prev_inside
""",
    tags=("L2b", "F8", "ST"),
    doc="geofencing (the event-detection face of the F8 box predicates): emit "
    "an enter/exit event whenever a vessel's inside-the-STBox flag flips "
    "between consecutive posits — one lag window per vessel, output "
    "cardinality is the transition count, not the posit count; the batch twin "
    "of a streaming alert pipeline (the stream version is the same expression "
    "under applyInPandasWithState)",
)
def traj_geofence_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("mmsi").orderBy("ts", "event_id")
    inside = (
        (F.col("lon") >= _GF_XMIN) & (F.col("lon") <= _GF_XMAX)
        & (F.col("lat") >= _GF_YMIN) & (F.col("lat") <= _GF_YMAX)
    ).cast("int")
    p = (
        posits_xy(spark, sf_dir)
        .withColumn("inside", inside)
        .withColumn("prev_inside", F.lag("inside").over(w))
    )
    return p.filter(
        F.col("prev_inside").isNotNull() & (F.col("inside") != F.col("prev_inside"))
    ).select(
        "mmsi",
        "ts",
        "event_id",
        F.when(F.col("inside") == 1, "enter").otherwise("exit").alias("event"),
    )


# --- L2d: turning-point detection (heading-change segmentation) -------------

_TWO_PI = 6.283185307179586
_TURN_THRESH = 0.7853981633974483  # pi/4 -- strictly between 6-decimal grid points


@register(
    "traj_turning_points",
    oracle=f"""
WITH {POSITS_XY_CTE},
segs AS (
  SELECT mmsi, event_id, ts,
         lead(lon) OVER w - lon AS dx,
         lead(lat) OVER w - lat AS dy
  FROM posits WINDOW w AS (PARTITION BY mmsi ORDER BY ts, event_id)
),
az AS (
  SELECT mmsi, event_id, ts, round(atan2(dy, dx), 6) AS az
  FROM segs WHERE dx IS NOT NULL
),
turns AS (
  SELECT mmsi, event_id,
         az - lag(az) OVER (PARTITION BY mmsi ORDER BY ts, event_id) AS raw_turn
  FROM az
),
norm AS (
  SELECT mmsi, event_id,
         CASE WHEN raw_turn > {_TWO_PI} / 2 THEN raw_turn - {_TWO_PI}
              WHEN raw_turn < -{_TWO_PI} / 2 THEN raw_turn + {_TWO_PI}
              ELSE raw_turn END AS turn
  FROM turns WHERE raw_turn IS NOT NULL
)
SELECT mmsi,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(CASE WHEN abs(turn) >= {_TURN_THRESH} THEN 1 ELSE 0 END) AS BIGINT) AS n_sharp,
       max(abs(turn)) AS max_abs_turn,
       min(CASE WHEN abs(turn) >= {_TURN_THRESH} THEN event_id END) AS first_sharp_event
FROM norm GROUP BY mmsi
""",
    tags=("L2d",),
    doc="turning-point detection (heading-change segmentation, the AIS "
    "maneuver-mining op built on L2 tpoint_azimuth): per-segment heading via "
    "round(atan2,6) (the proven cross-engine form), consecutive-heading delta "
    "normalized into (-pi, pi] with identically-parsed double constants, "
    "sharp-turn threshold pi/4 (strictly between 6-decimal grid points, so no "
    "boundary straddle). Two windows over one (mmsi, ts) sort -- Catalyst "
    "plans a single sort+exchange; scales as one shuffle of the posit fact.",
)
def traj_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("mmsi").orderBy("ts", "event_id")
    segs = (
        posits_xy(spark, sf_dir)
        .withColumn("dx", F.lead("lon").over(w) - F.col("lon"))
        .withColumn("dy", F.lead("lat").over(w) - F.col("lat"))
        .filter(F.col("dx").isNotNull())
        .withColumn("az", F.round(F.atan2("dy", "dx"), 6))
    )
    raw = F.col("az") - F.lag("az").over(w)
    turn = (
        F.when(raw > _TWO_PI / 2, raw - _TWO_PI)
        .when(raw < -_TWO_PI / 2, raw + _TWO_PI)
        .otherwise(raw)
    )
    sharp = F.abs(F.col("turn")) >= _TURN_THRESH
    return (
        segs.withColumn("turn", turn)
        .filter(F.col("turn").isNotNull())
        .groupBy("mmsi")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(sharp.cast("int")).cast("bigint").alias("n_sharp"),
            F.max(F.abs(F.col("turn"))).alias("max_abs_turn"),
            F.min(F.when(sharp, F.col("event_id"))).alias("first_sharp_event"),
        )
    )


# --- L2b: value-at-time honoring the per-sequence interpolation flag --------


@register(
    "traj_interp_mixed",
    # bracketing over dedup for the same tie-uniqueness reason as
    # traj_value_at_time (r10 review find); XY envelope as there (r12)
    oracle=f"""
WITH {DEDUP_XY_CTE},
probe AS (
  SELECT mmsi,
         CASE WHEN mmsi % 2 = 0 THEN 'linear' ELSE 'step' END AS interp,
         min(ts) + to_microseconds((epoch_us(max(ts)) - epoch_us(min(ts))) // 2) AS pt
  FROM dedup GROUP BY mmsi
),
below AS (
  SELECT p.mmsi, p.interp, p.pt,
         arg_max(e.lon, e.ts) AS lon0, arg_max(e.lat, e.ts) AS lat0, max(e.ts) AS t0
  FROM probe p JOIN dedup e ON e.mmsi = p.mmsi AND e.ts <= p.pt
  GROUP BY p.mmsi, p.interp, p.pt
),
above AS (
  SELECT p.mmsi, arg_min(e.lon, e.ts) AS lon1, arg_min(e.lat, e.ts) AS lat1, min(e.ts) AS t1
  FROM probe p JOIN dedup e ON e.mmsi = p.mmsi AND e.ts > p.pt GROUP BY p.mmsi
)
SELECT b.mmsi, b.interp, b.pt,
       CASE WHEN b.interp = 'step' OR a.t1 IS NULL THEN b.lon0
            ELSE b.lon0 + (a.lon1 - b.lon0) * (CAST(epoch_us(b.pt) - epoch_us(b.t0) AS DOUBLE)
                                               / CAST(epoch_us(a.t1) - epoch_us(b.t0) AS DOUBLE)) END AS lon_at,
       CASE WHEN b.interp = 'step' OR a.t1 IS NULL THEN b.lat0
            ELSE b.lat0 + (a.lat1 - b.lat0) * (CAST(epoch_us(b.pt) - epoch_us(b.t0) AS DOUBLE)
                                               / CAST(epoch_us(a.t1) - epoch_us(b.t0) AS DOUBLE)) END AS lat_at
FROM below b LEFT JOIN above a ON a.mmsi = b.mmsi
""",
    tags=("L2b",),
    doc="value_at_timestamp honoring each sequence's interpolation flag "
    "(tseq.rs interp modes: LINEAR lerps between the bracketing instants, "
    "STEP holds the last value — assigned per vessel here to exercise both "
    "branches in one plan). Same bracketing-aggregate shape as "
    "traj_value_at_time: one probe row per vessel, two conditional "
    "arg-extreme aggregations, no per-probe sort.",
)
def traj_interp_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = dedup_monotonic(posits_xy(spark, sf_dir))
    probe = pts.groupBy("mmsi").agg(
        F.expr(
            "timestampadd(MICROSECOND, (unix_micros(CAST(max(ts) AS TIMESTAMP)) "
            "- unix_micros(CAST(min(ts) AS TIMESTAMP))) div 2, min(ts))"
        ).alias("pt"),
    ).withColumn("interp", F.when(F.col("mmsi") % 2 == 0, "linear").otherwise("step"))
    e = pts.select(F.col("mmsi").alias("e_mmsi"), "ts", "lon", "lat")
    below = (
        probe.join(e, (e.e_mmsi == probe.mmsi) & (e.ts <= probe.pt))
        .groupBy("mmsi", "interp", "pt")
        .agg(
            F.max_by("lon", "ts").alias("lon0"),
            F.max_by("lat", "ts").alias("lat0"),
            F.max("ts").alias("t0"),
        )
    )
    above = (
        probe.join(e, (e.e_mmsi == probe.mmsi) & (e.ts > probe.pt))
        .groupBy("mmsi")
        .agg(
            F.min_by("lon", "ts").alias("lon1"),
            F.min_by("lat", "ts").alias("lat1"),
            F.min("ts").alias("t1"),
        )
        .withColumnRenamed("mmsi", "a_mmsi")
    )
    us = lambda c: F.expr(f"unix_micros(CAST({c} AS TIMESTAMP))")  # noqa: E731
    frac = (us("pt") - us("t0")).cast("double") / (us("t1") - us("t0")).cast("double")

    def at(v0: str, v1: str):
        return (
            F.when((F.col("interp") == "step") | F.col("t1").isNull(), F.col(v0))
            .otherwise(F.col(v0) + (F.col(v1) - F.col(v0)) * frac)
        )

    return (
        below.join(above, F.col("a_mmsi") == F.col("mmsi"), "left")
        .select("mmsi", "interp", "pt", at("lon0", "lon1").alias("lon_at"), at("lat0", "lat1").alias("lat_at"))
    )


# --- origin-destination flow matrix ----------------------------------------

OD_CELL_DEG = 20.0  # coarse grid: fixture lon spans ~0..200, lat ~0..99


@register(
    "traj_od_matrix",
    # XY envelope (r12): OD cells derive from endpoint coordinates
    oracle=f"""
WITH {POSITS_XY_CTE},
ranked AS (
  SELECT mmsi, lon, lat,
         row_number() OVER (PARTITION BY mmsi ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY mmsi ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM posits
),
od AS (
  -- IS NOT DISTINCT FROM, not USING: the first/last self-join must keep
  -- the NULL-mmsi vessel like the Spark leg's groupBy does (r12 sweep,
  -- same class as ttype_tint_step/traj_stbox_z_path)
  SELECT f.mmsi, f.lon AS o_lon, f.lat AS o_lat, l.lon AS d_lon, l.lat AS d_lat
  FROM (SELECT * FROM ranked WHERE rn_a = 1) f
  JOIN (SELECT * FROM ranked WHERE rn_d = 1) l
    ON f.mmsi IS NOT DISTINCT FROM l.mmsi
),
cellified AS (
  SELECT CAST(floor(o_lon / {OD_CELL_DEG}) AS INT) AS o_x,
         CAST(floor(o_lat / {OD_CELL_DEG}) AS INT) AS o_y,
         CAST(floor(d_lon / {OD_CELL_DEG}) AS INT) AS d_x,
         CAST(floor(d_lat / {OD_CELL_DEG}) AS INT) AS d_y,
         CAST(ROUND((d_lon - o_lon) * (d_lon - o_lon)
                    + (d_lat - o_lat) * (d_lat - o_lat), 6) AS DECIMAL(28,6)) AS disp2
  FROM od
)
SELECT o_x, o_y, d_x, d_y,
       count(*) AS n_trips,
       CAST(CAST(SUM(disp2) AS DOUBLE) / count(*) AS DOUBLE) AS avg_disp2
FROM cellified
GROUP BY o_x, o_y, d_x, d_y
""",
    tags=("traj", "analytics", "A2"),
    doc="origin-destination flow matrix: each vessel's first and last posit "
    "(total order ts, event_id) snapped to a coarse lon/lat grid, then trip "
    "counts and mean squared displacement per OD cell pair. The endpoints "
    "come from ONE aggregation -- min/max over struct(ts, event_id, lon, lat) "
    "is the distributed argmin/argmax, no window, no second shuffle -- so at "
    "100 TB this is a single partial-aggregated pass over the posit fact "
    "plus a tiny grid-cell rollup. Displacement squares are rounded and "
    "decimal-summed per the repo's shuffle-order-independence canon.",
)
def traj_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = posits_xy(spark, sf_dir)
    od = pts.groupBy("mmsi").agg(
        F.min(F.struct("ts", "event_id", "lon", "lat")).alias("o"),
        F.max(F.struct("ts", "event_id", "lon", "lat")).alias("d"),
    )
    cell = lambda c: F.floor(c / F.lit(OD_CELL_DEG)).cast("int")  # noqa: E731
    dx = F.col("d.lon") - F.col("o.lon")
    dy = F.col("d.lat") - F.col("o.lat")
    cellified = od.select(
        cell(F.col("o.lon")).alias("o_x"),
        cell(F.col("o.lat")).alias("o_y"),
        cell(F.col("d.lon")).alias("d_x"),
        cell(F.col("d.lat")).alias("d_y"),
        F.round(dx * dx + dy * dy, 6).cast("decimal(28,6)").alias("disp2"),
    )
    return cellified.groupBy("o_x", "o_y", "d_x", "d_y").agg(
        F.count(F.lit(1)).alias("n_trips"),
        (F.sum("disp2").cast("double") / F.count(F.lit(1))).cast("double").alias("avg_disp2"),
    )


# --- Z-order (Morton) layout key -------------------------------------------

_Z_BITS = 16  # centidegree quantization: fixture lon <= ~560.21 -> qx <= 56021


def _morton_duck(qx: str, qy: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({qx} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({qy} >> {i}) & 1) << {2 * i})")
    return " | ".join(terms)


def _morton_spark(qx, qy):
    z = None
    for i in range(_Z_BITS):
        tx = F.shiftleft(F.shiftright(qx, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ty = F.shiftleft(F.shiftright(qy, i).bitwiseAND(F.lit(1)), 2 * i)
        part = tx.bitwiseOR(ty)
        z = part if z is None else z.bitwiseOR(part)
    return z


@register(
    "traj_zorder_key",
    oracle=f"""
WITH {POSITS_XY_CTE},
q AS (
  SELECT mmsi,
         CAST(ROUND(lon * 100) AS BIGINT) AS qx,
         CAST(ROUND(lat * 100) AS BIGINT) AS qy
  FROM posits
),
z AS (SELECT mmsi, {_morton_duck('qx', 'qy')} AS zkey FROM q)
SELECT mmsi,
       count(*) AS n_points,
       count(DISTINCT zkey) AS n_cells,
       min(zkey) AS z_min,
       max(zkey) AS z_max,
       CAST(count(DISTINCT zkey) AS DOUBLE) / count(*) AS cell_ratio
FROM z GROUP BY mmsi
""",
    tags=("traj", "layout"),
    doc="Z-order (Morton) layout key: centidegree-quantized lon/lat bit-"
    "interleaved into one sortable 32-bit key — the space-filling-curve "
    "clustering used to lay out spatial data so range scans touch few files "
    "(Delta/Iceberg Z-ORDER). The interleave is a pure integer bit "
    "expression (shift/and/or), identical in both engines, fused into "
    "whole-stage codegen; per-vessel cell stats are one partial-aggregated "
    "shuffle. At 100 TB you'd sortWithinPartitions(zkey) at write time so "
    "min/max file stats prune 2-D box queries; 16-bit lanes cover the "
    "fixture's centidegree domain — widen the lanes with the domain.",
)
def traj_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = posits_xy(spark, sf_dir)
    q = pts.select(
        "mmsi",
        F.round(F.col("lon") * 100, 0).cast("bigint").alias("qx"),
        F.round(F.col("lat") * 100, 0).cast("bigint").alias("qy"),
    )
    z = q.select("mmsi", _morton_spark(F.col("qx"), F.col("qy")).alias("zkey"))
    return z.groupBy("mmsi").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.countDistinct("zkey").alias("n_cells"),
        F.min("zkey").alias("z_min"),
        F.max("zkey").alias("z_max"),
        (F.countDistinct("zkey").cast("double") / F.count(F.lit(1))).alias("cell_ratio"),
    )


# --- EWMA smoothing as a sequential array fold ------------------------------


@register(
    "traj_ewma",
    oracle=f"""
WITH {POSITS_XY_CTE},
seq AS (
  SELECT mmsi,
         count(*) AS n_posits,
         list(lon ORDER BY ts, event_id) AS lons
  FROM posits GROUP BY mmsi
)
SELECT mmsi, n_posits,
       lons[1] AS first_lon,
       list_reduce(lons, (acc, x) -> 0.5 * acc + 0.5 * x) AS ewma_lon
FROM seq
""",
    tags=("traj", "L2c", "smoothing"),
    doc="exponential moving average (alpha = 1/2) of each vessel's lon "
    "track, expressed as a sequential fold over the ts-ordered value array "
    "-- the declarative form of a recursive stateful smoother no plain "
    "window function can express. alpha = 0.5 makes every step one exact "
    "halving plus one add, so Spark's aggregate() fold and DuckDB's "
    "list_reduce (both strict left folds seeded by the first element) are "
    "bit-identical with no decimal canon. Scale shape: one groupBy shuffle "
    "on the vessel key, fold runs inside the executor over the bounded "
    "per-vessel array -- the same shape as trajectory assembly.",
)
def traj_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = posits_xy(spark, sf_dir)
    seq = (
        pts.groupBy("mmsi")
        .agg(
            F.count(F.lit(1)).alias("n_posits"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "lon"))),
                lambda s: s.getField("lon"),
            ).alias("lons"),
        )
    )
    half = F.lit(0.5)
    return seq.select(
        "mmsi",
        "n_posits",
        F.element_at("lons", 1).alias("first_lon"),
        F.aggregate(
            F.slice("lons", 2, F.size("lons") - 1),
            F.element_at("lons", 1),
            lambda acc, x: half * acc + half * x,
        ).alias("ewma_lon"),
    )
