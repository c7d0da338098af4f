"""Trajectory (temporal sequence) model + operators, Spark-first.

Reference semantics being reproduced (cited file:line at /root/reference):

* instant = (value, t) pair — ``meos/src/tinst.rs:10-43``
* sequence = ordered instants + interp + inclusive bounds, built by
  ``tsequence_make(instants, n, lower_inc=true, upper_inc=true, LINEAR,
  normalize=false)`` — ``meos/src/tseq.rs:50-64``
* monotonic dedup while grouping: a posit is kept only if strictly later
  than the previously kept one — ``meos/examples/04_to_file.rs:92-96``
* min-trip-size filter — ``04_to_file.rs:111``, ``ais_to_db.rs:138``
* max-trip-size truncation — ``ais_to_db.rs:191-193``
* temporal merge of partial trajectories (server-side
  ``public.update(old, new, true)``) — ``ais_to_db.rs:156-161``
* bounding-box extent — ``meos/src/tbox.rs:87-98``, ``stbox.rs:16-94``

Spark mapping (SURVEY.md §1.3): a trajectory is a plain struct column
``STRUCT<interp, lower_inc, upper_inc, points ARRAY<STRUCT<lon,lat,ts>>>``
— never an opaque binary — so Catalyst still prunes/pushes down on the key
and ts fields, and every accessor is a built-in Column expression (no
Python in the hot path).

The ``events`` fixture stands in for AIS posits (FIXTURES.md §1):
``user_id→mmsi``, ``ts``, ``value→lon``, ``props.$.k→lat``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from meos_rs_spark.functions.determinism import fmt6_sql
from meos_rs_spark.sources.tables import load_table

# --- posit view ------------------------------------------------------------

# DuckDB twin of posits() — keep in lockstep (tested by oracle parity).
#
# ``TRY_CAST(props AS JSON)`` (r15, staged in PREFLIGHT_r14 "Forward
# work"): DuckDB's ``json_extract_string(VARCHAR, path)`` ABORTS the whole
# query on a malformed document where Spark's ``get_json_object`` yields
# NULL — a failure-MODE divergence on out-of-grammar data (unreachable on
# the well-formed fixtures, fenced in tests/test_determinism.py). Routing
# the extraction through DuckDB's tolerant JSON cast converges the class:
# a malformed document reads as NULL lat in BOTH engines (kept by raw/v,
# dropped by xy). Output identical on every fixture; the residual
# lenient-Spark (single-quoted keys, trailing garbage) and quoted-Infinity
# value-form divergences stay fenced — see the determinism pin.
POSITS_CTE = (
    "posits AS (SELECT user_id AS mmsi, ts, value AS lon, "
    "CAST(json_extract_string(TRY_CAST(props AS JSON), '$.k') AS DOUBLE) AS lat, event_id "
    "FROM events)"
)


def posits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → AIS-like posit frame [mmsi, ts, lon, lat, event_id]."""
    return load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("mmsi"),
        "ts",
        F.col("value").alias("lon"),
        F.get_json_object("props", "$.k").cast("double").alias("lat"),
        "event_id",
    )


#: DuckDB twin of posits_xy() — keep in lockstep like POSITS_CTE above.
#: The XY envelope: a point with a NULL coordinate is not a point (r11
#: adjudication; the reference's tinstant_make has no NULL-valued instants
#: — meos/src/tinst.rs:10-43). ENFORCED in both legs of the ten
#: geometry-rendering twins in r12, extended in r13 (tranche 1 of the
#: staged sweep, r12 VERDICT item 5) to every registered query whose
#: OUTPUT derives from the coordinates — assembly/extent/accessors, box
#: aggregates and overlap joins, WKT/WKB roundtrips, lengths, speeds,
#: geofencing, tiling, similarity distances. Completed in r14 (tranche 2):
#: the golden-family twins and the flagship (2a), plus the two-channel /
#: point-struct consumers (merge/equality/ever_always/arith/tbool_algebra,
#: the upsert sinks, the malformed-WKT renderer) — synchronized
#: two-channel ops only exist on the channels' common support, exactly the
#: XY envelope. The single-value-channel and time-only families moved to
#: the VALUE envelope (``posits_v`` below). Only ``src_python_datasource``
#: keeps its own explicit non-null lon/lat/ts gate, which predates the
#: sweep and is strictly stronger.
#:
#: TRY_CAST (r13, ADVICE r12 item 1): both legs apply the same POST-cast
#: validity test, so a non-numeric '$.k' string is DROPPED by both engines
#: instead of passing the DuckDB WHERE (raw-string IS NOT NULL) and then
#: aborting in the projection's CAST while Spark's ANSI cast aborts in a
#: different spot. On the numeric-or-NULL driver fixtures TRY_CAST ≡ CAST.
#: r15 adds the inner ``TRY_CAST(props AS JSON)`` (see POSITS_CTE above):
#: a malformed DOCUMENT now also reads as NULL in both engines instead of
#: aborting the DuckDB leg.
POSITS_XY_CTE = (
    "posits AS (SELECT user_id AS mmsi, ts, value AS lon, "
    "TRY_CAST(json_extract_string(TRY_CAST(props AS JSON), '$.k') AS DOUBLE) AS lat, event_id "
    "FROM events WHERE value IS NOT NULL "
    "AND TRY_CAST(json_extract_string(TRY_CAST(props AS JSON), '$.k') AS DOUBLE) IS NOT NULL)"
)


def posits_xy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posits() restricted to the XY envelope (see POSITS_XY_CTE) — with the
    JSON parse guaranteed SINGLE-EVAL per row.

    The r12 shape (``posits().filter(lat.isNotNull())``) let Catalyst
    alias-substitute the predicate through the projection, so the physical
    plan evaluated ``get_json_object`` once in the Filter AND once in the
    Project — a constant-factor ~1.6x on the dominant per-row cost of every
    coordinate-consuming twin (r12 VERDICT, reproduced by A/B at sf0.1).

    Fix: the envelope predicate is a single conjunct that ORs in a
    reference to a non-deterministic projected column
    (``monotonically_increasing_id() < 0`` — always false, so the filter
    semantics are exactly ``lat IS NOT NULL``). Catalyst's
    ``getAliasMap``/``PushPredicateThroughNonJoin`` only substitutes
    deterministic aliases and never splits inside a disjunct, so the
    predicate stays ABOVE the projection as a bound reference and the parse
    runs once (executed-plan pin: tests/test_plan_lint.py). Same hazard and
    same pin as ``lsh_bucket.asNondeterministic()`` in
    functions/embeddings.py, expressed for a pure Column pipeline. The
    cheap ``lon IS NOT NULL`` conjunct is kept separate and DOES push all
    the way into the parquet scan (PushedFilters: IsNotNull(value)).

    ``try_cast`` mirrors the CTE's TRY_CAST (see above).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("value").isNotNull())
        .select(
            F.col("user_id").alias("mmsi"),
            "ts",
            F.col("value").alias("lon"),
            F.get_json_object("props", "$.k").try_cast("double").alias("lat"),
            "event_id",
            F.monotonically_increasing_id().alias("__barrier"),
        )
        .filter(F.col("lat").isNotNull() | (F.col("__barrier") < 0))
        .drop("__barrier")
    )


#: DuckDB twin of posits_v() — keep in lockstep like the CTEs above.
#: The VALUE envelope (r14 tranche 2b, adopted): the single-value-channel
#: families (tcount/twavg/tmax/at_value, the tint/tfloat ttype ops) and
#: the time-only sequence ops (sessionize/sample/spanset/tbool-duration)
#: build temporal instants from ``value`` alone, and
#: tinstant_make admits no NULL-valued instants (meos/src/tinst.rs:10-43)
#: — but their instants never reference the lat channel, so the XY
#: envelope would wrongly drop a valid value instant whose UNUSED lat is
#: NULL. ``value IS NOT NULL`` is the whole envelope; unlike the XY form
#: it needs no JSON parse and no single-eval barrier — the predicate
#: pushes into the parquet scan (PushedFilters: IsNotNull(value),
#: plan-pinned in tests/test_plans.py) and the lat projection prunes away
#: entirely when unused.
#:
#: Adjudicated exception for the TIME-ONLY consumers (r14 ADVICE item 3,
#: accepted as documentation): sessionize/sample/spanset/tbool-duration
#: never read ``value`` in their OUTPUT, so the tinstant_make no-NULL-value
#: rationale does not strictly force the envelope on them — the reference's
#: value-less timestamp sets (tstzset, meos/src/tset.rs:22-49) admit any
#: timestamp. They stay on posits_v DELIBERATELY: this engine's posit
#: stream models observations (a posit whose measurement channel is NULL
#: is a corrupt record, not a bare timestamp), a separate TS-only envelope
#: would add a fourth view for zero fixture-observable difference
#: (events.value is non-null at every scale), and both legs agree row-for-
#: row under the adversarial NULL-value fixture (the envelope-lattice and
#: twin-agreement pins in tests/test_posit_views.py). A user wanting
#: reference-exact tstzset semantics over records with NULL measurements
#: would register those queries over the raw view plus an explicit
#: ts-not-null gate.
POSITS_V_CTE = (
    "posits AS (SELECT user_id AS mmsi, ts, value AS lon, "
    "TRY_CAST(json_extract_string(TRY_CAST(props AS JSON), '$.k') AS DOUBLE) AS lat, event_id "
    "FROM events WHERE value IS NOT NULL)"
)


def posits_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posits() restricted to the VALUE envelope (see POSITS_V_CTE).

    ``try_cast`` on lat mirrors the CTE so the two views stay lockstep for
    any consumer that projects it; there is no lat predicate, so Catalyst
    evaluates the parse once at the projection (or prunes it) — no
    ``__barrier`` disjunct needed.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("value").isNotNull()).select(
        F.col("user_id").alias("mmsi"),
        "ts",
        F.col("value").alias("lon"),
        F.get_json_object("props", "$.k").try_cast("double").alias("lat"),
        "event_id",
    )


# --- P4: monotonic-timestamp dedup ----------------------------------------


def dedup_monotonic(df: DataFrame, key: str = "mmsi", ts: str = "ts", tiebreak: str = "event_id") -> DataFrame:
    """Drop posits that do not strictly advance the clock within a group.

    Scanning in (ts, tiebreak) order, the reference's "skip if prev >= posit"
    filter (04_to_file.rs:92-96) reduces to keeping the first posit of each
    distinct timestamp — a lag(ts) != ts filter. Partitioning the window by
    the group key ALONE (ordering by ts inside) keeps one hash partitioning
    that every downstream groupBy(key) reuses — one shuffle for the whole
    dedup→assemble pipeline instead of two. No Python.
    """
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    # null-safe: the DEDUP_QUALIFY twin's PARTITION BY mmsi, ts groups
    # NULL timestamps together and keeps exactly one, so a NULL ts must
    # compare EQUAL to a NULL predecessor (the old __prev_ts.isNull() test
    # conflated first-row with prev-is-NULL and kept every NULL-ts row —
    # review find, r7, latent while events.ts is non-null). row_number
    # identifies the true first row and shares the same window.
    return (
        df.withColumn("__prev_ts", F.lag(ts).over(w))
        .withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) | ~F.col(ts).eqNullSafe(F.col("__prev_ts")))
        .drop("__prev_ts", "__rn")
    )


DEDUP_QUALIFY = "QUALIFY row_number() OVER (PARTITION BY mmsi, ts ORDER BY event_id) = 1"

#: ``posits`` (XY envelope) plus ``dedup``: one posit per (mmsi, ts), the
#: lowest event_id — the DuckDB twin of ``dedup_monotonic``. Consumers of
#: assembled trajectories read FROM dedup, never posits: on duplicate-
#: timestamp data the raw-posits twin diverges (r10 review find). The
#: envelope applies BEFORE the dedup, so a NULL-coordinate row can never
#: win a (mmsi, ts) contest and then vanish.
DEDUP_XY_CTE = f"""{POSITS_XY_CTE},
dedup AS (
  SELECT * FROM posits
  {DEDUP_QUALIFY}
)"""


# --- P5: truncate group to max size ---------------------------------------


def truncate_group(df: DataFrame, max_size: int, key: str = "mmsi", ts: str = "ts") -> DataFrame:
    """Keep the first ``max_size`` posits per group in time order
    (ais_to_db.rs:191-193)."""
    w = Window.partitionBy(key).orderBy(ts, "event_id")
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_size)
        .drop("__rn")
    )


# --- A5: trajectory assembly ----------------------------------------------


def assemble(
    df: DataFrame,
    min_size: int = 1,
    max_size: int | None = None,
    key: str = "mmsi",
) -> DataFrame:
    """``tsequence_make`` as one aggregation: group → sorted point array →
    sequence struct with reference defaults (lower_inc/upper_inc true,
    LINEAR interp — tseq.rs:57-59).

    Single shuffle (the groupBy); the sort is per-group array_sort, not a
    global sort. Skewed vessels are handled by AQE; at 100 TB the pattern
    stays valid because each group's points must colocate anyway to form
    one sequence (same as the reference's per-MMSI HashMap, 04_to_file.rs:77).
    """
    df = dedup_monotonic(df, key=key)
    if max_size is not None:
        df = truncate_group(df, max_size, key=key)
    agg = df.groupBy(key).agg(
        F.array_sort(F.collect_list(F.struct("ts", "lon", "lat"))).alias("points"),
        F.count(F.lit(1)).alias("n_instants"),
    )
    if min_size > 1:
        agg = agg.filter(F.col("n_instants") >= min_size)
    return agg.select(
        key,
        F.struct(
            F.lit("Linear").alias("interp"),
            F.lit(True).alias("lower_inc"),
            F.lit(True).alias("upper_inc"),
            F.col("points"),
        ).alias("traj"),
        "n_instants",
    )


# --- A6: temporal merge ----------------------------------------------------


def merge_trajs(a: Column, b: Column) -> Column:
    """Merge two trajectory structs into one (ais_to_db.rs:160 semantics:
    append the new batch onto the stored sequence, dedup on ts, re-sort).

    Pure Column ops: tag each point with its side ordinal (0 = stored, 1 =
    incoming) before sorting on (ts, side), so on a timestamp collision the
    kept point is the STORED one — matching ``public.update(old, EXCLUDED.new,
    true)`` with old listed first — regardless of position values (a bare
    (ts, lon, lat) sort kept the lexicographically smallest position instead).
    """

    def _tag(pts: Column, side: int) -> Column:
        return F.transform(
            pts,
            lambda p: F.struct(
                p["ts"].alias("ts"),
                F.lit(side).alias("side"),
                p["lon"].alias("lon"),
                p["lat"].alias("lat"),
            ),
        )

    pts = F.array_sort(F.concat(_tag(a["points"], 0), _tag(b["points"], 1)))
    # dedup by pairing each element with its predecessor's ts FIRST
    # (zip_with against the shifted ts array), then filtering on the pair.
    # The previous shape captured the whole sorted array inside the filter
    # lambda via F.get(pts, i-1): higher-order functions are interpreted
    # with no common-subexpression elimination, so the concat+tag+sort
    # pipeline re-ran per element — O(n² log n) per row (review find, r7).
    # Here the pts subtree is referenced a constant number of times. The
    # predecessor carries a validity flag rather than a NULL sentinel so a
    # (hypothetical) NULL ts still compares exactly like the old
    # position-0 test.
    prev = F.concat(
        F.array(F.struct(F.lit(False).alias("has"), F.lit(None).cast("timestamp_ntz").alias("ts"))),
        F.transform(pts, lambda p: F.struct(F.lit(True).alias("has"), p["ts"].alias("ts"))),
    )
    paired = F.zip_with(
        pts,
        F.slice(prev, 1, F.size(pts)),
        lambda p, pv: F.struct(p.alias("p"), pv.alias("pv")),
    )
    deduped = F.filter(
        paired,
        lambda t: ~t["pv"]["has"] | (t["p"]["ts"] != t["pv"]["ts"]),
    )
    return F.struct(
        a["interp"].alias("interp"),
        a["lower_inc"].alias("lower_inc"),
        b["upper_inc"].alias("upper_inc"),
        F.transform(
            deduped,
            lambda t: F.struct(
                t["p"]["ts"].alias("ts"), t["p"]["lon"].alias("lon"), t["p"]["lat"].alias("lat")
            ),
        ).alias("points"),
    )


# --- accessors (F5/F6, L2a) ------------------------------------------------


def start_ts(traj: Column) -> Column:
    """temporal_start_timestamptz (meos/src/temp.rs:50-52). Total: an empty
    points array yields NULL — element_at RAISES on out-of-bounds under
    Spark 4's default ANSI mode (review find, r7; merge_trajs feeds empty
    sequences through its coalesce literals), F.get returns NULL."""
    return F.get(traj["points"], 0)["ts"]


def end_ts(traj: Column) -> Column:
    return F.get(traj["points"], F.size(traj["points"]) - 1)["ts"]


def num_instants(traj: Column) -> Column:
    return F.size(traj["points"])


def duration_seconds(traj: Column) -> Column:
    """Sequence duration in seconds (L2 ``temporal_duration``)."""
    return (
        end_ts(traj).cast("timestamp").cast("double")
        - start_ts(traj).cast("timestamp").cast("double")
    )


def subtype(traj: Column) -> Column:
    """F6: Instant if a single point, else Sequence (meos/src/lib.rs:29-34)."""
    return F.when(num_instants(traj) == 1, F.lit("Instant")).otherwise(F.lit("Sequence"))


# --- L2d: spatial derivations ---------------------------------------------


def _seg_dists(traj: Column) -> Column:
    pts = traj["points"]
    return F.transform(
        F.slice(pts, 2, F.greatest(F.size(pts) - 1, F.lit(0))),
        lambda p, i: F.sqrt(
            F.pow(p["lon"] - F.get(pts, i)["lon"], 2)
            + F.pow(p["lat"] - F.get(pts, i)["lat"], 2)
        ),
    )


def path_length(traj: Column, scale: int = 6) -> Column:
    """Planar path length (L2 ``tpoint_length``). Segment distances are
    IEEE-exact sqrt (identical on any engine); each segment is rounded to
    ``scale`` digits before the fold so the sum is associative/deterministic.
    """
    dt = f"decimal(28,{scale})"  # accumulator scale follows the rounding scale
    return F.aggregate(
        _seg_dists(traj),
        F.lit(0).cast(dt),
        # re-cast after each add: Spark widens DECIMAL(28,s)+DECIMAL(28,s) to
        # (29,s) which would break the fold's type contract
        lambda acc, d: (acc + F.round(d, scale).cast(dt)).cast(dt),
    ).cast("double")


# --- rendering helpers -----------------------------------------------------

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


def point_wkt(lon: str, lat: str, ts: str) -> Column:
    """One instant as MEOS WKT ``POINT(lon lat)@ts+00``
    (meos/examples/01_hello_world.rs:8 form, UTC pinned)."""
    return F.concat(
        F.lit("POINT("),
        F.expr(fmt6_sql(lon, "spark")),
        F.lit(" "),
        F.expr(fmt6_sql(lat, "spark")),
        F.lit(")@"),
        F.date_format(F.col(ts), TS_FMT_SPARK),
        F.lit("+00"),
    )


def point_wkt_duck(lon: str, lat: str, ts: str) -> str:
    return (
        f"'POINT(' || {fmt6_sql(lon, 'duck')} || ' ' || {fmt6_sql(lat, 'duck')} || ')@' || "
        f"strftime({ts}, '{TS_FMT_DUCK}') || '+00'"
    )
