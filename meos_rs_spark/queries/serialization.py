"""Serialization queries (SURVEY.md §1.2, §2.8 F1-F4).

WKT render/parse round-trip and MF-JSON are oracle-checked string pipelines;
WKB/HexWKB is binary (pandas_udf) with a driver rows-only check plus exact
golden bytes in tests/test_serde.py (mirroring the reference's golden-string
test style, tbox.rs:130-151).

Input envelope (adjudicated r11, ENFORCED r12): a posit with a NULL
coordinate has no WKT/WKB/MF-JSON point representation — the reference's
libmeos would reject it at construction (tinst.rs:21-38 wraps
non-nullable doubles). Since r12 the geometry-rendering twins here
(serde_mfjson, serde_mfjson_ingest, serde_wkt_forms, serde_wkt_seqset,
serde_e2e_pipeline) make that explicit in BOTH legs via the shared XY
view (functions.trajectory.posits_xy / POSITS_XY_CTE), so NULL-coordinate
rows drop identically instead of rendering degenerate strings the
raw-data oracles count differently. The sweep completed across r13/r14:
serde_wkt_roundtrip (r13 tranche 1), serde_hexwkb (r14 tranche 2a), and
serde_wkt_malformed (r14 tranche 2b) joined — the last one's tolerated
garbage is the deterministically CORRUPTED RENDERINGS it injects
post-render, not invalid source posits, which have no rendering to
corrupt. None of these twins aborts on a bad row (the r11 hardening
turned the one crash path into NULL columns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from meos_rs_spark.functions.determinism import fmt6_sql
from meos_rs_spark.functions.serde import (
    PARSE_WKT_DUCK,
    TRAJ_WKB_HEADER_BYTES,
    TRAJ_WKB_POINT_BYTES,
    parse_point_wkt,
    point_hexwkb,
    traj_from_wkb,
    traj_wkb,
)
from meos_rs_spark.functions.trajectory import (
    DEDUP_XY_CTE,
    POSITS_XY_CTE,
    point_wkt,
    point_wkt_duck,
    posits_xy,
    truncate_group,
)
from meos_rs_spark.golden import GOLDEN
from meos_rs_spark.registry import register


# --- F1/F2: WKT render → parse round-trip ----------------------------------


@register(
    "serde_wkt_roundtrip",
    oracle=f"""
WITH {POSITS_XY_CTE},
rendered AS (
  SELECT mmsi, event_id, lon, lat, ts,
         {point_wkt_duck('lon', 'lat', 'ts')} AS wkt
  FROM posits
)
SELECT mmsi, event_id, wkt,
       {PARSE_WKT_DUCK['lon'].format(c='wkt')} AS lon_rt,
       {PARSE_WKT_DUCK['lat'].format(c='wkt')} AS lat_rt,
       epoch_us({PARSE_WKT_DUCK['ts'].format(c='wkt')}) AS ts_rt_us,
       CAST(({PARSE_WKT_DUCK['lon'].format(c='wkt')} = lon) AS INT) AS lon_exact
FROM rendered
""",
    tags=("F1", "F2"),
    doc="as_wkt → from_wkt round-trip on every posit (tinst.rs:21-38, tseq.rs:66-72); "
    "lon_exact flags lossless 6-digit round-trips (fixture doubles are 2-decimal → always 1)",
)
def serde_wkt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = posits_xy(spark, sf_dir)
    rendered = pts.select(
        "mmsi", "event_id", "lon", "lat", "ts", point_wkt("lon", "lat", "ts").alias("wkt")
    )
    parsed = parse_point_wkt(F.col("wkt"))
    return rendered.select(
        "mmsi",
        "event_id",
        "wkt",
        parsed["lon"].alias("lon_rt"),
        parsed["lat"].alias("lat_rt"),
        # the parsed struct's own ts — the old inline regexp+to_timestamp
        # was a THIRD copy of the WKT timestamp grammar that could drift
        # from serde._WKT_RE, and its plain to_timestamp aborts under ANSI
        # on a non-matching input where parse_point_wkt yields NULL
        # (r10 review find)
        F.unix_micros(parsed["ts"].cast("timestamp")).alias("ts_rt_us"),
        (parsed["lon"] == F.col("lon")).cast("int").alias("lon_exact"),
    )


# --- F3: MF-JSON -----------------------------------------------------------

_TS_ISO_SPARK = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
_TS_ISO_DUCK = "%Y-%m-%dT%H:%M:%S.%f"
_MF_LIMIT = 20  # first N instants per vessel keeps the JSON bounded


@register(
    "serde_mfjson",
    # XY envelope (r12): MF-JSON coordinates derive from lon/lat — a
    # NULL-coordinate posit has no pair to render; both legs drop it
    oracle=f"""
WITH {DEDUP_XY_CTE},
head AS (
  SELECT * FROM dedup
  QUALIFY row_number() OVER (PARTITION BY mmsi ORDER BY ts, event_id) <= {_MF_LIMIT}
)
SELECT mmsi,
  '{{"type":"MovingPoint","interpolation":"Linear","coordinates":['
  || string_agg('[' || {fmt6_sql('lon', 'duck')} || ',' || {fmt6_sql('lat', 'duck')} || ']', ',' ORDER BY ts)
  || '],"datetimes":['
  || string_agg('"' || strftime(ts, '{_TS_ISO_DUCK}') || 'Z"', ',' ORDER BY ts)
  || '],"lower_inc":true,"upper_inc":true}}' AS mfjson
FROM head GROUP BY mmsi
""",
    tags=("F3",),
    doc="temporal_as_mfjson with 6-digit precision (temp.rs:17-19,40-47); deterministic "
    "string assembly, valid JSON asserted in tests/test_serde.py",
)
def serde_mfjson(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.trajectory import dedup_monotonic

    pts = truncate_group(dedup_monotonic(posits_xy(spark, sf_dir)), _MF_LIMIT)
    agg = pts.groupBy("mmsi").agg(
        F.array_sort(F.collect_list(F.struct("ts", "lon", "lat"))).alias("points")
    )
    return agg.select("mmsi", _mfjson_sql_col().alias("mfjson"))


def _mfjson_sql_col():
    """MF-JSON via one SQL expression over the sorted points array —
    keeps the double rendering on the shared decimal-cast path."""
    f_lon = fmt6_sql("p.lon", "spark")
    f_lat = fmt6_sql("p.lat", "spark")
    return F.expr(
        "concat("
        "'{\"type\":\"MovingPoint\",\"interpolation\":\"Linear\",\"coordinates\":[',"
        f"array_join(transform(points, p -> concat('[', {f_lon}, ',', {f_lat}, ']')), ','),"
        "'],\"datetimes\":[',"
        # the pattern's 'T' literal needs doubled quotes inside the SQL string
        f"""array_join(transform(points, p -> concat('"', date_format(p.ts, '{_TS_ISO_SPARK.replace("'", "''")}'), 'Z"')), ','),"""
        "'],\"lower_inc\":true,\"upper_inc\":true}')"
    )


# --- F4: WKB / HexWKB (rows-only + golden pytest) --------------------------


_HEX_PTS = 4  # posits per vessel (bounded output -> VALUES-literal oracle stays small)


@register(
    "serde_hexwkb",
    # IEEE-754 byte packing is not SQL-expressible, but the output IS pinnable:
    # tools/gen_golden.py computes the expected hex Spark-free (DuckDB scan +
    # struct.pack) and embeds it as a VALUES-literal oracle at sf0.01.
    oracle=GOLDEN.get("serde_hexwkb"),
    tags=("F4", "golden"),
    doc="point → OGC HexWKB via Arrow-batched pandas_udf (temp.rs:30-38); "
    f"first {_HEX_PTS} posits per vessel (bounded, like serde_wkb_roundtrip); "
    "XY envelope (r14 tranche 2a — tinst.rs:10-43), matching the golden's "
    "POSITS_XY_CTE selection",
)
def serde_hexwkb(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = truncate_group(posits_xy(spark, sf_dir), _HEX_PTS)
    return pts.select(
        "mmsi", "event_id", point_hexwkb(F.col("lon"), F.col("lat")).alias("hexwkb")
    )


# --- F3 complete: MF-JSON ingest (from_mfjson) ------------------------------

_MFJSON_SCHEMA = (
    "type string, interpolation string, coordinates array<array<double>>, "
    "datetimes array<string>, lower_inc boolean, upper_inc boolean"
)


@register(
    "serde_mfjson_ingest",
    # XY envelope via the serde_mfjson render it ingests (r12)
    oracle=f"""
WITH {DEDUP_XY_CTE},
head AS (
  SELECT * FROM dedup
  QUALIFY row_number() OVER (PARTITION BY mmsi ORDER BY ts, event_id) <= {_MF_LIMIT}
)
SELECT mmsi,
       'MovingPoint' AS mf_type,
       'Linear' AS interp,
       count(*) AS n_points,
       epoch_us(min(ts)) AS t_start_us,
       epoch_us(max(ts)) AS t_end_us,
       {fmt6_sql("first(lon ORDER BY ts)", 'duck')} AS lon_first,
       {fmt6_sql("last(lat ORDER BY ts)", 'duck')} AS lat_last
FROM head GROUP BY mmsi
""",
    tags=("F3", "F1"),
    doc="MF-JSON ingest: render (serde_mfjson pipeline) → from_json parse → every "
    "output column derives from the PARSED document, so equality with the raw-data "
    "oracle proves the parse inverts the render. (Reference is out-only, "
    "temp.rs:17-19 — ingest closes the round-trip a Spark user needs.)",
)
def serde_mfjson_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    rendered = serde_mfjson(spark, sf_dir)  # (mmsi, mfjson) — the F3 out pipeline
    return mfjson_ingest_project(rendered)


def mfjson_ingest_project(rendered: DataFrame) -> DataFrame:
    """Parse an (mmsi, mfjson) frame and project the ingest columns.

    Split out of serde_mfjson_ingest so the malformed-document contract
    (bad doc → NULL columns, never a job abort) is unit-pinnable on
    crafted docs the well-formed render pipeline can't produce.
    """
    parsed = rendered.select("mmsi", F.from_json("mfjson", _MFJSON_SCHEMA).alias("j"))
    ts_parsed = F.expr(
        "transform(j.datetimes, d -> unix_micros(CAST("
        "to_timestamp(substring(d, 1, length(d) - 1), \"yyyy-MM-dd'T'HH:mm:ss.SSSSSS\") AS TIMESTAMP)))"
    )
    # try_element_at at BOTH depths, never ANSI element_at/subscript: a
    # malformed or coordinate-less document (off-envelope input — e.g.
    # NULL-position posits upstream) parses to an EMPTY array, and a
    # truncated document can parse to a SHORT (1-element) coordinate pair
    # — ANSI element_at aborts on the former and ANSI array[idx] throws
    # INVALID_ARRAY_INDEX on the latter (r11 review + r12 ADVICE, probed),
    # either killing the whole ingest on one bad doc. Nested
    # try_element_at yields NULL columns for the bad row instead;
    # identical on every well-formed document. (try_element_at is
    # 1-based: subscript [0] ≡ position 1, [1] ≡ position 2.)
    return parsed.select(
        "mmsi",
        F.col("j.type").alias("mf_type"),
        F.col("j.interpolation").alias("interp"),
        F.size("j.coordinates").alias("n_points"),
        F.try_element_at(ts_parsed, F.lit(1)).alias("t_start_us"),
        F.try_element_at(ts_parsed, F.lit(-1)).alias("t_end_us"),
        F.expr(
            fmt6_sql("try_element_at(try_element_at(j.coordinates, 1), 1)", "spark")
        ).alias("lon_first"),
        F.expr(
            fmt6_sql("try_element_at(try_element_at(j.coordinates, -1), 2)", "spark")
        ).alias("lat_last"),
    )


# --- F4 complete: trajectory-level WKB out + from_wkb ingest ----------------

_WKB_PTS = 4  # instants per sequence (bounded output, matches serde_wkt_forms)


@register(
    "serde_wkb_roundtrip",
    oracle=f"""
WITH {DEDUP_XY_CTE},
head AS (
  SELECT * FROM dedup
  QUALIFY row_number() OVER (PARTITION BY mmsi ORDER BY ts, event_id) <= {_WKB_PTS}
),
agg AS (
  SELECT mmsi, count(*) AS n_points,
         epoch_us(min(ts)) AS t_start_us,
         epoch_us(max(ts)) AS t_end_us,
         first(lon ORDER BY ts) AS lon0_raw,
         last(lat ORDER BY ts) AS lat_last_raw
  FROM head GROUP BY mmsi
)
SELECT mmsi, n_points,
       {TRAJ_WKB_HEADER_BYTES} + {TRAJ_WKB_POINT_BYTES} * n_points AS n_bytes,
       'Linear' AS interp, t_start_us, t_end_us,
       {fmt6_sql('lon0_raw', 'duck')} AS lon_first,
       {fmt6_sql('lat_last_raw', 'duck')} AS lat_last
FROM agg
""",
    tags=("F4", "F1"),
    doc="whole-sequence WKB out + from_wkb ingest round-trip (temporal_as_wkb "
    "temp.rs:21-28, tgeompointFromBinary ais_to_db.rs:160): every output column "
    "derives from the PARSED bytes; n_bytes proves the 10+24n pack size "
    "arithmetically. Exact golden bytes in tests/test_serde.py.",
)
def serde_wkb_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.trajectory import dedup_monotonic

    head = truncate_group(dedup_monotonic(posits_xy(spark, sf_dir)), _WKB_PTS)
    agg = head.groupBy("mmsi").agg(
        F.array_sort(F.collect_list(F.struct("ts", "lon", "lat"))).alias("points")
    )
    arrs = agg.select(
        "mmsi",
        F.expr("transform(points, p -> unix_micros(CAST(p.ts AS TIMESTAMP)))").alias("ts_us"),
        F.expr("transform(points, p -> p.lon)").alias("lon"),
        F.expr("transform(points, p -> p.lat)").alias("lat"),
    )
    packed = arrs.select(
        "mmsi",
        traj_wkb("ts_us", "lon", "lat", F.lit(True), F.lit(True), F.lit("Linear")).alias("wkb"),
    )
    parsed = packed.select(
        "mmsi", F.octet_length("wkb").alias("n_bytes"), traj_from_wkb(F.col("wkb")).alias("p")
    )
    return parsed.select(
        "mmsi",
        F.size("p.ts_us").alias("n_points"),
        "n_bytes",
        F.col("p.interp").alias("interp"),
        F.element_at(F.col("p.ts_us"), 1).alias("t_start_us"),
        F.element_at(F.col("p.ts_us"), -1).alias("t_end_us"),
        F.expr(fmt6_sql("element_at(p.lon, 1)", "spark")).alias("lon_first"),
        F.expr(fmt6_sql("element_at(p.lat, -1)", "spark")).alias("lat_last"),
    )


# --- F2 complete: the six WKT forms (01_hello_world.rs:7-56) ---------------

_N_PTS = 4  # points per rendered form (bounded output)


@register(
    "serde_wkt_forms",
    # XY envelope (r12): every WKT form renders the coordinates
    oracle=f"""
WITH {DEDUP_XY_CTE},
head AS (
  SELECT * FROM dedup
  QUALIFY row_number() OVER (PARTITION BY mmsi ORDER BY ts, event_id) <= {_N_PTS}
),
pts AS (
  SELECT mmsi, ts, {point_wkt_duck('lon', 'lat', 'ts')} AS pw FROM head
),
agg AS (
  SELECT mmsi, string_agg(pw, ', ' ORDER BY ts) AS body, count(*) AS n FROM pts GROUP BY mmsi
)
SELECT mmsi,
       CASE WHEN n = 1 THEN body END AS instant_wkt,
       '{{' || body || '}}' AS discrete_wkt,
       '[' || body || ']' AS linear_wkt,
       'Interp=Step;[' || body || ']' AS step_wkt
FROM agg
""",
    tags=("F2", "F6"),
    doc="instant / discrete {a,b} / linear [a,b] / step Interp=Step;[a,b] WKT forms "
    "(01_hello_world.rs:8,14,23,32); instant form only for single-point vessels",
)
def serde_wkt_forms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.trajectory import dedup_monotonic

    pts = truncate_group(dedup_monotonic(posits_xy(spark, sf_dir)), _N_PTS)
    agg = (
        pts.select("mmsi", "ts", point_wkt("lon", "lat", "ts").alias("pw"))
        .groupBy("mmsi")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(F.struct("ts", "pw"))), lambda s: s["pw"]),
                ", ",
            ).alias("body"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return agg.select(
        "mmsi",
        F.when(F.col("n") == 1, F.col("body")).alias("instant_wkt"),
        F.concat(F.lit("{"), F.col("body"), F.lit("}")).alias("discrete_wkt"),
        F.concat(F.lit("["), F.col("body"), F.lit("]")).alias("linear_wkt"),
        F.concat(F.lit("Interp=Step;["), F.col("body"), F.lit("]")).alias("step_wkt"),
    )


_GAP_US = 21_600_000_000  # 6h session gap for the sequence-set form


@register(
    "serde_wkt_seqset",
    # XY envelope (r12): session sequences render the coordinates
    oracle=f"""
WITH {DEDUP_XY_CTE},
flagged AS (
  SELECT mmsi, ts, lon, lat,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_GAP_US} THEN 1 ELSE 0 END AS new_s
  FROM dedup WINDOW w AS (PARTITION BY mmsi ORDER BY ts, event_id)
),
sessions AS (
  SELECT mmsi, ts, lon, lat,
         SUM(new_s) OVER (PARTITION BY mmsi ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
),
capped AS (
  SELECT * FROM sessions
  QUALIFY row_number() OVER (PARTITION BY mmsi, sid ORDER BY ts) <= 3
),
per_session AS (
  SELECT mmsi, sid,
         '[' || string_agg({point_wkt_duck('lon', 'lat', 'ts')}, ', ' ORDER BY ts) || ']' AS seq,
         min(ts) AS s_start
  FROM capped GROUP BY mmsi, sid HAVING count(*) > 0
)
SELECT mmsi,
       '{{' || string_agg(seq, ', ' ORDER BY s_start) || '}}' AS seqset_wkt,
       count(*) AS n_sequences
FROM per_session GROUP BY mmsi
""",
    tags=("F2", "TSet"),
    doc="sequence-set WKT {[...], [...]} from gap-split sessions (01_hello_world.rs:41; "
    "TSet = trajectory with gaps, tset.rs:10-49); 3 points per sequence for bounded output",
)
def serde_wkt_seqset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.trajectory import dedup_monotonic

    w = Window.partitionBy("mmsi").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    gap_us = F.expr("unix_micros(CAST(ts AS TIMESTAMP))") - F.expr(
        "unix_micros(CAST(lag(ts) OVER (PARTITION BY mmsi ORDER BY ts, event_id) AS TIMESTAMP))"
    )
    # dedup FIRST like the sibling WKT queries (serde_wkt_forms, serde_mfjson):
    # without it a duplicate (mmsi, ts) makes the per-session cap and the
    # string_agg ordering tie on ts with no total tiebreak — row-distribution-
    # dependent output on BOTH engines (review find, r7; latent while the
    # fixture has no duplicate groups). After dedup every ordering is total.
    sess = (
        dedup_monotonic(posits_xy(spark, sf_dir))
        .withColumn("new_s", F.when(gap_us.isNull() | (gap_us > _GAP_US), 1).otherwise(0))
        .withColumn("sid", F.sum("new_s").over(wrun))
    )
    wcap = Window.partitionBy("mmsi", "sid").orderBy("ts")
    capped = sess.withColumn("__rn", F.row_number().over(wcap)).filter(F.col("__rn") <= 3)
    per_session = (
        capped.select("mmsi", "sid", "ts", point_wkt("lon", "lat", "ts").alias("pw"))
        .groupBy("mmsi", "sid")
        .agg(
            F.concat(
                F.lit("["),
                F.array_join(
                    F.transform(F.array_sort(F.collect_list(F.struct("ts", "pw"))), lambda s: s["pw"]),
                    ", ",
                ),
                F.lit("]"),
            ).alias("seq"),
            F.min("ts").alias("s_start"),
        )
    )
    return (
        per_session.groupBy("mmsi")
        .agg(
            F.concat(
                F.lit("{"),
                F.array_join(
                    F.transform(F.array_sort(F.collect_list(F.struct("s_start", "seq"))), lambda s: s["seq"]),
                    ", ",
                ),
                F.lit("}"),
            ).alias("seqset_wkt"),
            F.count(F.lit(1)).alias("n_sequences"),
        )
    )


# --- E2 end-to-end: posit → EWKT → parse → assemble → sequence WKT ----------

from meos_rs_spark.queries.trajectory import (  # noqa: E402
    _ASSEMBLED_XY_CTE as _E2_CTE,
    MAX_TRIP as _E2_MAX,
    MIN_TRIP as _E2_MIN,
)
from meos_rs_spark.functions.trajectory import point_wkt_duck as _pw_duck  # noqa: E402


@register(
    "serde_e2e_pipeline",
    oracle=f"""
WITH {_E2_CTE}
SELECT mmsi,
       count(*) AS n_instants,
       '[' || string_agg({_pw_duck('lon', 'lat', 'ts')}, ', ' ORDER BY ts) || ']' AS seq_wkt
FROM trunc
GROUP BY mmsi
HAVING count(*) >= {_E2_MIN}
""",
    tags=("E2", "F1", "F2", "A5"),
    doc="the reference's 04_to_file.rs pipeline END-TO-END through our serde "
    "layer: each posit rendered to EWKT ('SRID=4326;POINT(lon lat)@ts+00', "
    "make_posit 04_to_file.rs:146-148), parsed BACK through the F1 regex "
    "parser (tgeompoint_in), monotonic-deduped, truncated, assembled, and "
    "re-serialized as the linear sequence WKT — identical output to "
    "traj_assembly proves parse∘render is the identity on the full corpus, "
    "not just the roundtrip fixtures; all stages are Column expressions, one "
    "shuffle at the assembly groupBy",
)
def serde_e2e_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from meos_rs_spark.functions.serde import parse_point_wkt
    from meos_rs_spark.functions.trajectory import dedup_monotonic, point_wkt

    # XY envelope (r12): the EWKT render needs both coordinates
    p = posits_xy(spark, sf_dir)
    ewkt = F.concat(F.lit("SRID=4326;"), point_wkt("lon", "lat", "ts"))
    parsed = parse_point_wkt(F.regexp_replace(ewkt, "^SRID=4326;", ""))
    p = p.select("mmsi", "event_id", parsed.alias("pt")).select(
        "mmsi", "event_id", F.col("pt.lon").alias("lon"), F.col("pt.lat").alias("lat"),
        F.col("pt.ts").alias("ts"),
    )
    pts = truncate_group(dedup_monotonic(p), _E2_MAX)
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
        .filter(F.col("n_instants") >= _E2_MIN)
    )


# --- F1 robustness: tolerant parse of malformed WKT -------------------------


@register(
    "serde_wkt_malformed",
    oracle=f"""
WITH {POSITS_XY_CTE},
rendered AS (
  SELECT mmsi, event_id, lon,
         CASE WHEN event_id % 7 = 0
              THEN replace({point_wkt_duck('lon', 'lat', 'ts')}, '@', '#')
              WHEN event_id % 11 = 0
              THEN substr({point_wkt_duck('lon', 'lat', 'ts')}, 1, 10)
              ELSE {point_wkt_duck('lon', 'lat', 'ts')} END AS wkt
  FROM posits
),
parsed AS (
  SELECT mmsi, event_id, lon, wkt,
         CASE WHEN regexp_matches(wkt, '^POINT\\(([-0-9.]+) ([-0-9.]+)\\)@[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}} [0-9:.]+\\+00$')
              THEN {PARSE_WKT_DUCK['lon'].format(c='wkt')} END AS lon_p
  FROM rendered
)
SELECT mmsi,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN lon_p IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rejected,
       CAST(SUM(CAST(lon_p AS DECIMAL(18,2))) AS DOUBLE) AS lon_checksum
FROM parsed GROUP BY mmsi
""",
    tags=("F1",),
    doc="tolerant WKT ingestion (the serde twin of src_csv_malformed): "
    "deterministically corrupt ~1 in 7 rendered instants (separator mangled) "
    "and ~1 in 11 (truncated), then try-parse — full-pattern anchor gate "
    "first, so bad rows yield NULL instead of garbage or a throw; per-vessel "
    "admitted/rejected counts plus an exact-decimal checksum of admitted "
    "lons prove the filter admits exactly the well-formed rows. Row-local "
    "regex work, codegen, one final shuffle for the per-vessel rollup.",
)
def serde_wkt_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = posits_xy(spark, sf_dir)
    wkt_ok = point_wkt("lon", "lat", "ts")
    wkt = (
        F.when(F.col("event_id") % 7 == 0, F.replace(wkt_ok, F.lit("@"), F.lit("#")))
        .when(F.col("event_id") % 11 == 0, F.substring(wkt_ok, 1, 10))
        .otherwise(wkt_ok)
    )
    rendered = pts.select("mmsi", "event_id", "lon", wkt.alias("wkt"))
    well_formed = F.col("wkt").rlike(
        r"^POINT\(([-0-9.]+) ([-0-9.]+)\)@[0-9]{4}-[0-9]{2}-[0-9]{2} [0-9:.]+\+00$"
    )
    lon_p = F.when(well_formed, parse_point_wkt(F.col("wkt"))["lon"])
    return (
        rendered.select("mmsi", lon_p.alias("lon_p"))
        .groupBy("mmsi")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("lon_p").isNull().cast("int")).cast("bigint").alias("n_rejected"),
            F.sum(F.col("lon_p").cast("decimal(18,2)")).cast("double").alias("lon_checksum"),
        )
    )
