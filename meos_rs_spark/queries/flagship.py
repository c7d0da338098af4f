"""Flagship query — the reference's E3 analytics pipeline, Spark-first.

Mirrors ``meos-polars/examples/ais_to_db.rs:118-141`` 1:1 on the events
fixture: scan → project/rename (P1) → group by vessel (A1) → agg[count (A2),
sorted point collect (A3), lon-lat string concat (A4)] → HAVING len > min
(P2) → sort (O1) → limit (O3).

Scale notes: one shuffle total (the groupBy; sort+limit is
TakeOrderedAndProject, no global sort shuffle). The A3+A4 coordering pitfall
(SURVEY §7a) is avoided by collecting ONE struct(ts, pt) and sorting once —
ts is unique per vessel after P4 dedup, so the sort is total and the path
string deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meos_rs_spark.functions.determinism import fmt6_sql
from meos_rs_spark.functions.trajectory import DEDUP_XY_CTE, dedup_monotonic, posits_xy
from meos_rs_spark.registry import register

MIN_TRIP_SIZE = 10
LIMIT = 100

# XY envelope in both legs (r14 tranche 2a, completing the sweep the ten
# r12 twins started): a posit with a NULL coordinate is not a point
# (tinstant_make admits no NULL-valued instants — meos/src/tinst.rs:10-43),
# so validity gates the dedup contest and the HAVING census here exactly as
# in traj_assembly. NULL-free driver fixtures → output unchanged; the
# measured cost on assembly-shaped bodies is ~1.25x pre-shuffle eval
# (PREFLIGHT_r13 "Bench"), priced by the same semantics the oracle pays.
_ORACLE = f"""
WITH {DEDUP_XY_CTE}
SELECT mmsi,
       count(*) AS len,
       min(ts) AS t_start,
       max(ts) AS t_end,
       string_agg({fmt6_sql('lon', 'duck')} || ' ' || {fmt6_sql('lat', 'duck')}, ',' ORDER BY ts) AS path
FROM dedup
GROUP BY mmsi
HAVING count(*) > {MIN_TRIP_SIZE}
ORDER BY len DESC, mmsi
LIMIT {LIMIT}
"""


@register(
    "flagship_trip_pipeline",
    oracle=_ORACLE,
    tags=("flagship", "S2", "S3", "P1", "P2", "P4", "A1", "A2", "A3", "A4", "O1", "O3"),
    doc="E3 pipeline: scan→project→groupBy→agg(sorted collect)→having→sort→limit",
)
def flagship_trip_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = dedup_monotonic(posits_xy(spark, sf_dir))
    pt_str = F.concat(
        F.expr(fmt6_sql("lon", "spark")), F.lit(" "), F.expr(fmt6_sql("lat", "spark"))
    )
    return (
        pts.select("mmsi", "ts", pt_str.alias("pt"))
        .groupBy("mmsi")
        .agg(
            F.count(F.lit(1)).alias("len"),
            F.min("ts").alias("t_start"),
            F.max("ts").alias("t_end"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ts", "pt"))), lambda s: s["pt"]
                ),
                ",",
            ).alias("path"),
        )
        .filter(F.col("len") > MIN_TRIP_SIZE)
        .orderBy(F.col("len").desc(), "mmsi")
        .limit(LIMIT)
    )
