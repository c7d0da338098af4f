"""Box-algebra queries (SURVEY.md §2.8 F8-F10, §2.3 J5).

TBoxes are built per event_type (a small, sf-independent domain: the
predicate matrix stays 8×8 at any scale), STBoxes per vessel. The J5
overlap join demonstrates the 100 TB shape: grid-bucket each box, explode
spanned cells, equi-join on cell, dedup, refine with the exact predicate —
never a cartesian product. The DuckDB twin runs the quadratic theta join
(fine at oracle scale) and must agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meos_rs_spark.functions.boxes import (
    int_to_tbox_wkt,
    stbox_overlaps,
    stbox_z_contains,
    stbox_z_overlaps,
    stbox_z_wkt_sql,
    tbox,
    tbox_cmp,
    tbox_contains,
    tbox_overlaps,
    tbox_pred_sql,
    tbox_intersection,
    tbox_same,
    tbox_union,
)
from meos_rs_spark.functions.staging import fan_out
from meos_rs_spark.functions.trajectory import POSITS_XY_CTE, posits_xy
from meos_rs_spark.registry import register
from meos_rs_spark.sources.tables import load_table

_TYPE_BOX_CTE = """
boxes AS (
  SELECT event_type,
         min(value) AS xmin, max(value) AS xmax,
         min(ts) AS tmin, max(ts) AS tmax
  FROM events GROUP BY event_type
)
"""

_PRED = tbox_pred_sql("a", "b")


# --- F8/F9: predicate matrix ----------------------------------------------


@register(
    "box_tbox_predicates",
    oracle=f"""
WITH {_TYPE_BOX_CTE}
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(({_PRED['contains']}) AS INT) AS contains,
       CAST(({_PRED['overlaps']}) AS INT) AS overlaps,
       CAST(({_PRED['same']}) AS INT) AS same,
       CASE WHEN a.xmin < b.xmin THEN -1 WHEN a.xmin > b.xmin THEN 1
            WHEN a.xmax < b.xmax THEN -1 WHEN a.xmax > b.xmax THEN 1
            WHEN a.tmin < b.tmin THEN -1 WHEN a.tmin > b.tmin THEN 1
            WHEN a.tmax < b.tmax THEN -1 WHEN a.tmax > b.tmax THEN 1
            ELSE 0 END AS cmp
FROM boxes a CROSS JOIN boxes b
""",
    tags=("F8", "F9"),
    doc="contains/overlaps/same/cmp truth matrix over per-event-type TBoxes "
    "(tbox.rs:100-110,46-57; truth tables tbox.rs:153-195). Domain is the "
    "event-type dimension — 8×8 pairs regardless of data scale.",
)
def box_tbox_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    boxes = ev.groupBy("event_type").agg(
        F.min("value").alias("xmin"),
        F.max("value").alias("xmax"),
        F.min("ts").alias("tmin"),
        F.max("ts").alias("tmax"),
    )
    a = boxes.select(F.col("event_type").alias("type_a"), tbox(
        F.col("xmin"), F.col("xmax"), F.col("tmin"), F.col("tmax")).alias("a"))
    b = boxes.select(F.col("event_type").alias("type_b"), tbox(
        F.col("xmin"), F.col("xmax"), F.col("tmin"), F.col("tmax")).alias("b"))
    ca, cb = F.col("a"), F.col("b")
    return a.crossJoin(F.broadcast(b)).select(
        "type_a",
        "type_b",
        tbox_contains(ca, cb).cast("int").alias("contains"),
        tbox_overlaps(ca, cb).cast("int").alias("overlaps"),
        tbox_same(ca, cb).cast("int").alias("same"),
        tbox_cmp(ca, cb).alias("cmp"),
    )


# --- F10: int → degenerate TBox + canonical WKT ----------------------------


@register(
    "box_int_to_tbox",
    oracle="""
SELECT DISTINCT p_size AS v,
       'TBOXINT X([' || CAST(p_size AS VARCHAR) || ', ' || CAST(p_size + 1 AS VARCHAR) || '))' AS tbox_wkt
FROM part
""",
    tags=("F10", "F2"),
    doc="int_to_tbox constructor + canonical right-open WKT (tbox.rs:87-98)",
)
def box_int_to_tbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(F.col("p_size").alias("v")).distinct().select(
        "v", int_to_tbox_wkt(F.col("v")).alias("tbox_wkt")
    )


# --- F8+: STBox Z — 3D extents, canonical WKT, Z-aware predicates -----------

# altitude stand-in: the fixture is 2D, so z derives deterministically from
# the event id ((id % 1000) / 10 → [0, 99.9]) — the Z plumbing (struct field,
# predicates, WKT form) is what's under test, exactly like stbox.rs:119-122
_Z_EXPR = "(event_id % 1000) / 10.0"

# fixed probe box: X/Y the fixture's lower-left quadrant, Z the lower half
_PROBE = {"xmin": 0.0, "xmax": 50.0, "ymin": 0.0, "ymax": 50.0, "zmin": 0.0, "zmax": 50.0}


@register(
    "box_stbox_z",
    oracle=f"""
WITH {POSITS_XY_CTE},
vbox AS (
  SELECT mmsi,
         min(lon) AS xmin, max(lon) AS xmax,
         min(lat) AS ymin, max(lat) AS ymax,
         min({_Z_EXPR}) AS zmin, max({_Z_EXPR}) AS zmax
  FROM posits GROUP BY mmsi
)
SELECT mmsi,
       {stbox_z_wkt_sql('', 'duck')} AS stbox_z_wkt,
       CAST((xmin <= {_PROBE['xmax']} AND {_PROBE['xmin']} <= xmax
         AND ymin <= {_PROBE['ymax']} AND {_PROBE['ymin']} <= ymax
         AND zmin <= {_PROBE['zmax']} AND {_PROBE['zmin']} <= zmax) AS INT) AS overlaps_probe,
       CAST(({_PROBE['xmin']} <= xmin AND xmax <= {_PROBE['xmax']}
         AND {_PROBE['ymin']} <= ymin AND ymax <= {_PROBE['ymax']}
         AND {_PROBE['zmin']} <= zmin AND zmax <= {_PROBE['zmax']}) AS INT) AS inside_probe
FROM vbox
""",
    tags=("F8", "F2"),
    doc="STBOX Z: per-vessel 3D extent boxes, canonical 'STBOX Z((..),(..))' WKT "
    "(golden form stbox.rs:119-122), Z-aware overlap/containment vs a fixed probe "
    "box; z is a deterministic event-id-derived altitude stand-in (2D fixture)",
)
def box_stbox_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    z = F.expr(_Z_EXPR)
    vbox = (
        posits_xy(spark, sf_dir)
        .groupBy("mmsi")
        .agg(
            F.min("lon").alias("xmin"), F.max("lon").alias("xmax"),
            F.min("lat").alias("ymin"), F.max("lat").alias("ymax"),
            F.min(z).alias("zmin"), F.max(z).alias("zmax"),
        )
    )
    # temporal extent is irrelevant to the Z form; reuse the same instant for
    # tmin/tmax so the generic Z predicates degenerate correctly
    box = F.struct(
        *[F.col(c).alias(c) for c in ("xmin", "xmax", "ymin", "ymax", "zmin", "zmax")],
        F.lit(0).alias("tmin"), F.lit(0).alias("tmax"),
    )
    probe = F.struct(
        F.lit(_PROBE["xmin"]).alias("xmin"), F.lit(_PROBE["xmax"]).alias("xmax"),
        F.lit(_PROBE["ymin"]).alias("ymin"), F.lit(_PROBE["ymax"]).alias("ymax"),
        F.lit(_PROBE["zmin"]).alias("zmin"), F.lit(_PROBE["zmax"]).alias("zmax"),
        F.lit(0).alias("tmin"), F.lit(0).alias("tmax"),
    )
    return vbox.select(
        "mmsi",
        F.expr(stbox_z_wkt_sql("", "spark")).alias("stbox_z_wkt"),
        stbox_z_overlaps(box, probe).cast("int").alias("overlaps_probe"),
        stbox_z_contains(probe, box).cast("int").alias("inside_probe"),
    )


# --- J5: STBox overlap join, grid-bucketed ---------------------------------

#: two-sided chunk salt for the overlap join: each grid cell's members are
#: hash-split into K chunks per side and the join key is (cell, ca, cb), so
#: a hot cell spreads over K² tasks instead of one. K² × #cells partitions;
#: exploded rows grow ×K per side (box metadata only, ~50 B/row).
#:
#: r16: K is now ADAPTIVE (guide §2.5 — measure the skew, then salt). The
#: fixed K = 8 inflated BOTH exploded sides 8× on every run at every
#: scale, paying the full salt price even when no cell is hot. K derives
#: from the observed hottest cell as a lazy scalar subquery inside the
#: same DAG (zero extra jobs): a cell of M boxes yields ~M² candidate
#: pairs, K chunks per side split it into K² tasks of ~(M/K)² pairs, so
#: ``K = ceil(M / sqrt(_SALT_TARGET_PAIRS))`` bounds per-task pair work
#: while a uniform distribution (hot cell ≪ √target) degrades to K = 1 —
#: no inflation at all. The salt never reaches the output, so the oracle
#: and result are untouched for any K. ``_OVERLAP_CHUNKS_MAX`` caps the
#: blowup an adversarial census could request.
_SALT_TARGET_PAIRS = 1 << 20
_OVERLAP_CHUNKS_MAX = 64


def _salt_chunks(cells: DataFrame, *keys: str):
    """Adaptive chunk-salt K for a grid self-join, as a scalar-subquery
    Column over the unsalted cell census (see _SALT_TARGET_PAIRS note)."""
    import math

    m = (
        cells.groupBy(*[F.col(k) for k in keys])
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("m"))
        .scalar()
    )
    # clamp in LONG, narrow to int only after the cap: ceil() of an
    # extreme hottest-cell count exceeds INT_MAX exactly on the most
    # skewed inputs, and an early cast would abort under ANSI (r16
    # self-review find)
    return (
        F.greatest(
            F.lit(1).cast("bigint"),
            F.least(
                F.lit(_OVERLAP_CHUNKS_MAX).cast("bigint"),
                F.ceil(
                    F.coalesce(m, F.lit(0)).cast("double") / math.sqrt(_SALT_TARGET_PAIRS)
                ),
            ),
        )
        .cast("int")
    )

#: adaptive-grid cap: cell size never drops below (data span / _MAX_GRID)
#: per axis, so one domain-spanning outlier box streams at most
#: _MAX_GRID² ≈ 1M cell rows (the nested explode below streams them — no
#: single flattened array is ever materialized). 1024, not 4096: the
#: per-box worst case is the per-axis cap SQUARED, and pruning resolution
#: beyond 1024²/axis buys nothing the median-extent term doesn't already
#: provide on non-degenerate data (r8 review find).
_MAX_GRID = 1024

def _adaptive_cell_stats(vbox: DataFrame):
    """Adaptive grid parameters as ONE scalar subquery over a box table
    with xmin/xmax/ymin/ymax columns: cell = median box extent per axis
    (the textbook grid-join choice — graceful degradation to near-all-pairs
    on dense data, real pruning on sparse), floored at span/_MAX_GRID per
    axis (bounds one outlier box's streamed cell rows) and at 1e-9 for
    degenerate single-point data; origin anchored at the data min (ANSI
    int-overflow guard, r8 review find). ONE shared implementation for
    both J5 variants so the hard-won floors/anchor can't drift between
    them (r9 review find). Returns (cw, ch, x0, y0) scalar Columns."""
    stats = vbox.agg(
        F.struct(
            F.greatest(
                F.percentile_approx(F.col("xmax") - F.col("xmin"), F.lit(0.5)),
                (F.max("xmax") - F.min("xmin")) / _MAX_GRID,
                F.lit(1e-9),
            ).alias("cw"),
            F.greatest(
                F.percentile_approx(F.col("ymax") - F.col("ymin"), F.lit(0.5)),
                (F.max("ymax") - F.min("ymin")) / _MAX_GRID,
                F.lit(1e-9),
            ).alias("ch"),
            F.min("xmin").alias("x0"),
            F.min("ymin").alias("y0"),
        ).alias("s")
    ).scalar()
    return stats["cw"], stats["ch"], stats["x0"], stats["y0"]


_STBOX_CTE = f"""
{POSITS_XY_CTE},
vbox AS (
  SELECT mmsi,
         min(lon) AS xmin, max(lon) AS xmax,
         min(lat) AS ymin, max(lat) AS ymax,
         min(ts) AS tmin, max(ts) AS tmax
  FROM posits GROUP BY mmsi
)
"""


@register(
    "box_stbox_overlap_join",
    oracle=f"""
WITH {_STBOX_CTE}
SELECT a.mmsi AS mmsi_a, b.mmsi AS mmsi_b
FROM vbox a JOIN vbox b
  ON a.mmsi < b.mmsi
 AND a.xmin <= b.xmax AND b.xmin <= a.xmax
 AND a.ymin <= b.ymax AND b.ymin <= a.ymax
 AND a.tmin <= b.tmax AND b.tmin <= a.tmax
""",
    tags=("J5",),
    doc="interval/box-overlap join. Spark side is the scale shape: explode each box "
    "into spanned grid cells (cell size ADAPTIVE: the median box extent per axis, "
    "from a scalar subquery), equi-join on (cellx, celly, chunk, chunk), refine "
    "exact overlap, and emit each pair at its CANONICAL cell only (the cell "
    "holding the intersection's min corner — the reference-point technique from "
    "the spatial-join literature), so no distinct over duplicated pairs is ever "
    "shuffled (SURVEY §2.3 J5); oracle runs the quadratic theta join.",
)
def box_stbox_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Three scale hazards found by the r8 full-registry ×10 sweep, each
    # fixed structurally (together: 493s -> ~12s at ×10, same output):
    #  * a FIXED cell size is wrong whenever boxes aren't cell-sized: the
    #    fixture's trajectory boxes span half the domain, so at 50x50 every
    #    pair met in ~10 shared cells (10x redundant candidate tests).
    #    Cell = median box extent per axis (the textbook grid-join choice)
    #    keeps mean coverage at ~2x2 cells for ANY box distribution —
    #    graceful degradation to near-all-pairs on dense data, real pruning
    #    on sparse data. Computed by an inlined scalar subquery (no join);
    #    floored at span/_MAX_GRID per axis (bounding one outlier box's
    #    streamed cell rows) and at 1e-9 for degenerate single-point data.
    #  * parallelism was capped at the DISTINCT CELL COUNT — the two-sided
    #    chunk salt joins on (cellx, celly, ca, cb), spreading each hot
    #    cell over K² tasks in the shuffle path; each (a, b) pair still
    #    meets exactly once per shared cell, at (ca(a), cb(b)). The join
    #    keys stay primitive ints: a struct-typed key measured ~3x slower
    #    per probed candidate.
    #  * `.distinct()` shuffled every duplicated candidate pair (~10x the
    #    already-quadratic output) — the canonical-cell filter emits a pair
    #    only where the join cell holds the intersection's min corner
    #    (both boxes always cover that cell, so exactly one cell emits),
    #    making the join output duplicate-free by construction.
    vbox = (
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
    # Explicit-count repartition BEFORE the explode: the per-vessel box
    # summary is tiny post-shuffle (one row per vessel), so AQE coalesces
    # the aggregate's exchange down to one partition — blind to the ×(cells
    # × chunks) Generate expansion after it — and the whole quadratic join
    # then runs on ONE task (observed live at ×10: a 1G-candidate probe
    # single-threaded). A user-specified partition count is exempt from
    # AQE coalescing; the extra exchange moves one summary row per vessel.
    vbox = fan_out(vbox, "mmsi", force=True)
    cw, ch, x0, y0 = _adaptive_cell_stats(vbox)
    # Cell bounds computed OUTSIDE the higher-order function: subquery
    # expressions (the adaptive cw/ch) are not allowed inside lambdas.
    # Indexes are ANCHORED at the data min, not the coordinate origin —
    # un-anchored floor(xmin/cw) with a tiny adaptive cw (degenerate or
    # tightly clustered data far from 0) produces indexes ≫ 2^31 and
    # CAST_OVERFLOW under ANSI; anchoring bounds them to ~_MAX_GRID, and
    # bigint removes the ceiling entirely (r8 review find). floor() keeps
    # the canonical-cell identity floor(max(u,v)) == max(floor(u), floor(v))
    # regardless of anchor.
    bounded = vbox.select(
        "*",
        F.floor((F.col("xmin") - x0) / cw).cast("bigint").alias("cx0"),
        F.floor((F.col("xmax") - x0) / cw).cast("bigint").alias("cx1"),
        F.floor((F.col("ymin") - y0) / ch).cast("bigint").alias("cy0"),
        F.floor((F.col("ymax") - y0) / ch).cast("bigint").alias("cy1"),
    )
    # two chained explodes, not one flattened array: a domain-spanning
    # outlier box covers up to _MAX_GRID cells PER AXIS, and flattening
    # would materialize the full cx×cy cross product as one in-row array
    # before the Generate; nested Generates stream it row by row
    cells = (
        bounded.withColumn("cellx", F.explode(F.sequence(F.col("cx0"), F.col("cx1"))))
        .withColumn("celly", F.explode(F.sequence(F.col("cy0"), F.col("cy1"))))
    )
    # adaptive chunk salt (see _SALT_TARGET_PAIRS): K is a scalar subquery
    # over the unsalted cell census, attached as a per-row __k column so
    # the Generate/pmod below reference a plain attribute (subqueries are
    # legal in a Project, not inside a generator expression); both sides'
    # identical census subqueries dedupe via subquery reuse
    K = _salt_chunks(cells, "cellx", "celly")
    cells = cells.withColumn("__k", K)
    a = cells.select(
        F.col("mmsi").alias("mmsi_a"),
        F.col("cellx").alias("cx_a"),
        F.col("celly").alias("cy_a"),
        F.col("cx0").alias("cx0_a"),
        F.col("cy0").alias("cy0_a"),
        F.struct("xmin", "xmax", "ymin", "ymax", "tmin", "tmax").alias("a"),
        F.pmod(F.hash("mmsi"), F.col("__k")).alias("ca"),
        F.explode(F.sequence(F.lit(0), F.col("__k") - F.lit(1))).alias("cb"),
    )
    b = cells.select(
        F.col("mmsi").alias("mmsi_b"),
        F.col("cellx").alias("cx_b"),
        F.col("celly").alias("cy_b"),
        F.col("cx0").alias("cx0_b"),
        F.col("cy0").alias("cy0_b"),
        F.struct("xmin", "xmax", "ymin", "ymax", "tmin", "tmax").alias("b"),
        F.pmod(F.hash("mmsi"), F.col("__k")).alias("cb"),
        F.explode(F.sequence(F.lit(0), F.col("__k") - F.lit(1))).alias("ca"),
    )
    # floor is monotonic, so floor(max(xmin_a, xmin_b)/cw) ==
    # max(floor(xmin_a/cw), floor(xmin_b/cw)) — the canonical cell is the
    # per-axis MAX of the two boxes' first covered cells, precomputed per
    # ROW above. Keeps the scalar subquery (cw/ch) out of the per-candidate
    # hot filter: pure int comparisons, fully codegen-friendly.
    canonical = (
        (F.col("cx_a") == F.greatest(F.col("cx0_a"), F.col("cx0_b")))
        & (F.col("cy_a") == F.greatest(F.col("cy0_a"), F.col("cy0_b")))
    )
    # Explicit-count co-partitioned exchanges on the join keys (same key
    # order, same count, both sides) — the banded sibling's fix backported
    # (r10 review): the exploded cell tables are a few MB post-shuffle at
    # fixture scale, so AQE coalesces the join's exchanges toward ONE task
    # — blind to the candidate-pair expansion the probe does per partition
    # — and the quadratic refinement serializes. A user-specified count is
    # AQE-coalesce-exempt and satisfies the join's clustered distribution
    # (no second exchange); at real scale these exchanges exceed the
    # advisory size and spread on their own.
    a = fan_out(a, "cx_a", "cy_a", "ca", "cb", force=True)
    b = fan_out(b, "cx_b", "cy_b", "ca", "cb", force=True)
    pairs = (
        a.join(
            b,
            (a.cx_a == b.cx_b)
            & (a.cy_a == b.cy_b)
            & (a.ca == b.ca)
            & (a.cb == b.cb)
            & (a.mmsi_a < b.mmsi_b),
        )
        .filter(stbox_overlaps(F.col("a"), F.col("b")) & canonical)
        .select("mmsi_a", "mmsi_b")
    )
    return pairs


# --- J5 banded: overlap WITHIN a time band (the production shape) ----------

#: Δ = 30 min in microseconds: pairs count as an encounter when their boxes
#: overlap spatially and their time intervals come within Δ of overlapping
#: (the reference's parameterized tbox adjacency family, tbox.rs:104-106).
_BAND_US = 1_800_000_000

#: day-wide time cells for the banded join's third grid axis — cells must
#: be ≥ the band so each side spills into at most one extra cell per Δ.
_TCELL_US = 86_400_000_000

_DAYBOX_CTE = f"""
{POSITS_XY_CTE},
vdbox AS (
  SELECT mmsi, CAST(date_trunc('day', ts) AS DATE) AS d,
         min(lon) AS xmin, max(lon) AS xmax,
         min(lat) AS ymin, max(lat) AS ymax,
         min(ts) AS tmin, max(ts) AS tmax
  FROM posits GROUP BY mmsi, CAST(date_trunc('day', ts) AS DATE)
)
"""


@register(
    "box_stbox_overlap_banded",
    oracle=f"""
WITH {_DAYBOX_CTE},
pairs AS (
  SELECT a.mmsi AS ma, a.d AS da, b.mmsi AS mb, b.d AS db
  FROM vdbox a JOIN vdbox b
    ON a.mmsi < b.mmsi
   AND a.xmin <= b.xmax AND b.xmin <= a.xmax
   AND a.ymin <= b.ymax AND b.ymin <= a.ymax
   AND a.tmax >= b.tmin - INTERVAL 30 MINUTE
   AND a.tmin <= b.tmax + INTERVAL 30 MINUTE
),
contrib AS (
  SELECT ma AS mmsi, da AS d, 1 AS c FROM pairs
  UNION ALL SELECT mb, db, 1 FROM pairs
  UNION ALL SELECT mmsi, d, 0 FROM vdbox
)
SELECT mmsi, strftime(d, '%Y-%m-%d') AS d, CAST(SUM(c) AS BIGINT) AS n_enc
FROM contrib GROUP BY mmsi, d
""",
    tags=("J5",),
    doc="box-overlap join WITHIN a time band — the production parameterization "
    "of J5 (reference predicate family tbox.rs:104-106; r8 VERDICT item 6): "
    "per-(vessel, day) boxes pair when they overlap spatially and their time "
    "intervals come within Δ=30min of overlapping; output is the per-box "
    "encounter count (one row per box — linear in input by construction). "
    "Spark side adds a TIME axis to the parent's adaptive grid join (day "
    "cells; the Δ-expanded side spills into adjacent cells), keeps the "
    "two-sided chunk salt and emits each pair at its canonical 3D cell only, "
    "so candidates track qualifying pairs instead of all same-cell pairs and "
    "the time axis prunes cross-day candidates the parent join must probe. "
    "Oracle runs the quadratic theta join.",
)
def box_stbox_overlap_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The parent query (box_stbox_overlap_join) is the stress pin: whole-
    # trajectory boxes, unbounded time, inherently quadratic output when
    # domains stack. This is the shape real users run: bounded-time boxes
    # (per vessel-day), a Δ time band, and a per-box aggregate — output is
    # one row per input box. The grid join gains a third (time) axis so the
    # candidate set is banded by construction; the band refinement is exact
    # µs arithmetic (matching the oracle's INTERVAL arithmetic exactly).
    vbox = (
        posits_xy(spark, sf_dir)
        .groupBy("mmsi", F.to_date("ts").alias("d"))
        .agg(
            F.min("lon").alias("xmin"),
            F.max("lon").alias("xmax"),
            F.min("lat").alias("ymin"),
            F.max("lat").alias("ymax"),
            F.min("ts").alias("tmin"),
            F.max("ts").alias("tmax"),
        )
        .select(
            "*",
            F.unix_micros(F.col("tmin").cast("timestamp")).alias("t0us"),
            F.unix_micros(F.col("tmax").cast("timestamp")).alias("t1us"),
        )
    )
    # explicit-count repartition before the explodes — same AQE-coalesce-
    # before-Generate hazard as the parent (aqe-coalesce trap, r8)
    vbox = fan_out(vbox, "mmsi", "d", force=True)
    # adaptive spatial cells, exactly the parent's policy (shared helper)
    cw, ch, x0, y0 = _adaptive_cell_stats(vbox)
    # spatial cell bounds anchored at the data min (ANSI-overflow guard,
    # same as the parent); time cells in exact integer µs via `div` — the
    # a-side covers the Δ-EXPANDED interval, the b-side the raw one, so
    # band-passing pairs meet in ≥1 shared time cell and non-banded ones
    # are pruned before the refinement ever sees them.
    bounded = vbox.select(
        "*",
        F.floor((F.col("xmin") - x0) / cw).cast("bigint").alias("cx0"),
        F.floor((F.col("xmax") - x0) / cw).cast("bigint").alias("cx1"),
        F.floor((F.col("ymin") - y0) / ch).cast("bigint").alias("cy0"),
        F.floor((F.col("ymax") - y0) / ch).cast("bigint").alias("cy1"),
        F.expr(f"(t0us - {_BAND_US}) div {_TCELL_US}").alias("cta0"),
        F.expr(f"(t1us + {_BAND_US}) div {_TCELL_US}").alias("cta1"),
        F.expr(f"t0us div {_TCELL_US}").alias("ctb0"),
        F.expr(f"t1us div {_TCELL_US}").alias("ctb1"),
    )
    # adaptive chunk salt (see _SALT_TARGET_PAIRS): census over the
    # UNSALTED b-side (raw time-cell) census — the a-side's Δ-expanded
    # cells differ by at most one adjacent time cell, within the
    # heuristic's tolerance; the per-row __k column keeps the subquery in
    # a Project (legal) while the Generate references a plain attribute
    b_cells = (
        bounded.withColumn("cellx", F.explode(F.sequence("cx0", "cx1")))
        .withColumn("celly", F.explode(F.sequence("cy0", "cy1")))
        .withColumn("cellt", F.explode(F.sequence("ctb0", "ctb1")))
    )
    K = _salt_chunks(b_cells, "cellx", "celly", "cellt")
    bounded = bounded.withColumn("__k", K)
    a = (
        bounded.withColumn("cellx", F.explode(F.sequence("cx0", "cx1")))
        .withColumn("celly", F.explode(F.sequence("cy0", "cy1")))
        .withColumn("cellt", F.explode(F.sequence("cta0", "cta1")))
        .select(
            F.col("mmsi").alias("mmsi_a"),
            F.col("d").alias("d_a"),
            "cellx",
            "celly",
            "cellt",
            F.col("cx0").alias("cx0_a"),
            F.col("cy0").alias("cy0_a"),
            F.col("cta0").alias("ct0_a"),
            F.struct("xmin", "xmax", "ymin", "ymax", "t0us", "t1us").alias("a"),
            F.pmod(F.hash("mmsi", "d"), F.col("__k")).alias("ca"),
            F.explode(F.sequence(F.lit(0), F.col("__k") - F.lit(1))).alias("cb"),
        )
    )
    b = (
        bounded.withColumn("cellx", F.explode(F.sequence("cx0", "cx1")))
        .withColumn("celly", F.explode(F.sequence("cy0", "cy1")))
        .withColumn("cellt", F.explode(F.sequence("ctb0", "ctb1")))
        .select(
            F.col("mmsi").alias("mmsi_b"),
            F.col("d").alias("d_b"),
            F.col("cellx").alias("cx_b"),
            F.col("celly").alias("cy_b"),
            F.col("cellt").alias("ct_b"),
            F.col("cx0").alias("cx0_b"),
            F.col("cy0").alias("cy0_b"),
            F.col("ctb0").alias("ct0_b"),
            F.struct("xmin", "xmax", "ymin", "ymax", "t0us", "t1us").alias("b"),
            F.pmod(F.hash("mmsi", "d"), F.col("__k")).alias("cb"),
            F.explode(F.sequence(F.lit(0), F.col("__k") - F.lit(1))).alias("ca"),
        )
    )
    # canonical 3D cell: the per-axis MAX of the two sides' first covered
    # cells (the a-side's time range is the Δ-expanded one, so its first
    # cell is floor((t0us-Δ)/W) — the same value the canonical test uses,
    # keeping the emit-once identity exact per axis, as in the parent)
    canonical = (
        (F.col("cellx") == F.greatest(F.col("cx0_a"), F.col("cx0_b")))
        & (F.col("celly") == F.greatest(F.col("cy0_a"), F.col("cy0_b")))
        & (F.col("cellt") == F.greatest(F.col("ct0_a"), F.col("ct0_b")))
    )
    banded_overlap = (
        (F.col("a.xmin") <= F.col("b.xmax"))
        & (F.col("b.xmin") <= F.col("a.xmax"))
        & (F.col("a.ymin") <= F.col("b.ymax"))
        & (F.col("b.ymin") <= F.col("a.ymax"))
        & (F.col("a.t1us") >= F.col("b.t0us") - F.lit(_BAND_US))
        & (F.col("a.t0us") <= F.col("b.t1us") + F.lit(_BAND_US))
    )
    # Explicit-count co-partitioned exchanges on the join keys (same key
    # order, same count, both sides): the exploded cell tables are a few MB
    # post-shuffle at fixture scale, so AQE coalesces the join's exchanges
    # toward ONE task — blind to the candidate-pair expansion the probe
    # does per partition — and the whole refinement serializes (measured
    # 40s at sf0.1 for ~11M qualifying pairs, max-task share 0.44). A
    # user-specified count is AQE-coalesce-exempt and satisfies the join's
    # clustered distribution, so no second exchange appears; at real scale
    # these exchanges exceed the advisory size and spread on their own.
    a = fan_out(a, "cellx", "celly", "cellt", "ca", "cb", force=True)
    b = fan_out(b, "cx_b", "cy_b", "ct_b", "ca", "cb", force=True)
    pairs = (
        a.join(
            b,
            (a.cellx == b.cx_b)
            & (a.celly == b.cy_b)
            & (a.cellt == b.ct_b)
            & (a.ca == b.ca)
            & (a.cb == b.cb)
            & (a.mmsi_a < b.mmsi_b),
        )
        .filter(banded_overlap & canonical)
        .select("mmsi_a", "d_a", "mmsi_b", "d_b")
    )
    # per-box encounter count WITHOUT a join-back: each pair contributes 1
    # to both of its boxes, every box contributes a 0 row, one aggregation
    contrib = (
        pairs.select(F.col("mmsi_a").alias("mmsi"), F.col("d_a").alias("d"), F.lit(1).alias("c"))
        .unionAll(
            pairs.select(F.col("mmsi_b").alias("mmsi"), F.col("d_b").alias("d"), F.lit(1).alias("c"))
        )
        .unionAll(vbox.select("mmsi", "d", F.lit(0).alias("c")))
    )
    return (
        contrib.groupBy("mmsi", "d")
        .agg(F.sum("c").cast("long").alias("n_enc"))
        .select("mmsi", F.date_format("d", "yyyy-MM-dd").alias("d"), "n_enc")
    )


# --- STBOX expand (spatial buffer) ------------------------------------------

_EXPAND_D = 15.0


@register(
    "box_stbox_expand",
    oracle=f"""
WITH {POSITS_XY_CTE},
vbox AS (
  SELECT mmsi,
         min(lon) AS xmin, max(lon) AS xmax,
         min(lat) AS ymin, max(lat) AS ymax
  FROM posits GROUP BY mmsi
)
SELECT mmsi,
       xmin - {_EXPAND_D} AS exmin, xmax + {_EXPAND_D} AS exmax,
       ymin - {_EXPAND_D} AS eymin, ymax + {_EXPAND_D} AS eymax,
       CAST((xmin - {_EXPAND_D} <= 120.0 AND 20.0 <= xmax + {_EXPAND_D}
         AND ymin - {_EXPAND_D} <= 80.0 AND 10.0 <= ymax + {_EXPAND_D}) AS INT)
         AS overlaps_region_after
FROM vbox
""",
    tags=("F8",),
    doc="STBOX spatial expand (L2 stbox_expand_space: buffer every spatial bound "
    "by d, the pre-filter widening step of distance-within joins): expanded "
    "per-vessel extents + overlap against the fixed region after expansion — "
    "a dwithin(traj, region, d) test reduces to overlap of the expanded box",
)
def box_stbox_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    vbox = (
        posits_xy(spark, sf_dir)
        .groupBy("mmsi")
        .agg(
            F.min("lon").alias("xmin"), F.max("lon").alias("xmax"),
            F.min("lat").alias("ymin"), F.max("lat").alias("ymax"),
        )
    )
    exmin = F.col("xmin") - _EXPAND_D
    exmax = F.col("xmax") + _EXPAND_D
    eymin = F.col("ymin") - _EXPAND_D
    eymax = F.col("ymax") + _EXPAND_D
    return vbox.select(
        "mmsi",
        exmin.alias("exmin"), exmax.alias("exmax"),
        eymin.alias("eymin"), eymax.alias("eymax"),
        ((exmin <= 120.0) & (F.lit(20.0) <= exmax) & (eymin <= 80.0) & (F.lit(10.0) <= eymax))
        .cast("int")
        .alias("overlaps_region_after"),
    )


# --- TBox set algebra (union / intersection) --------------------------------


@register(
    "box_tbox_algebra",
    oracle=f"""
WITH {_TYPE_BOX_CTE}
SELECT a.event_type AS type_a, b.event_type AS type_b,
       LEAST(a.xmin, b.xmin)    AS u_xmin,
       GREATEST(a.xmax, b.xmax) AS u_xmax,
       LEAST(a.tmin, b.tmin)    AS u_tmin,
       GREATEST(a.tmax, b.tmax) AS u_tmax,
       CAST(({_PRED['overlaps']}) AS INT) AS has_inter,
       CASE WHEN {_PRED['overlaps']} THEN GREATEST(a.xmin, b.xmin) END AS i_xmin,
       CASE WHEN {_PRED['overlaps']} THEN LEAST(a.xmax, b.xmax) END    AS i_xmax,
       CASE WHEN {_PRED['overlaps']} THEN GREATEST(a.tmin, b.tmin) END AS i_tmin,
       CASE WHEN {_PRED['overlaps']} THEN LEAST(a.tmax, b.tmax) END    AS i_tmax
FROM boxes a CROSS JOIN boxes b
""",
    tags=("F8",),
    doc="TBox set algebra (union_tbox_tbox / intersection_tbox_tbox, "
    "tbox.rs box ops family): bounding union is total; intersection is the "
    "overlap region with NULL components when disjoint on any axis (closed "
    "bounds — touching boxes meet in a degenerate box). Flattened to scalar "
    "columns for the canonicalizer. Same bounded 8x8 event-type domain as "
    "the predicate matrix; at any scale the box list is a broadcast-size "
    "aggregate of the fact, so the pairwise algebra never touches raw rows.",
)
def box_tbox_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    boxes = ev.groupBy("event_type").agg(
        F.min("value").alias("xmin"),
        F.max("value").alias("xmax"),
        F.min("ts").alias("tmin"),
        F.max("ts").alias("tmax"),
    )
    a = boxes.select(F.col("event_type").alias("type_a"), tbox(
        F.col("xmin"), F.col("xmax"), F.col("tmin"), F.col("tmax")).alias("a"))
    b = boxes.select(F.col("event_type").alias("type_b"), tbox(
        F.col("xmin"), F.col("xmax"), F.col("tmin"), F.col("tmax")).alias("b"))
    ca, cb = F.col("a"), F.col("b")
    u = tbox_union(ca, cb)
    i = tbox_intersection(ca, cb)
    return a.crossJoin(F.broadcast(b)).select(
        "type_a",
        "type_b",
        u["xmin"].alias("u_xmin"),
        u["xmax"].alias("u_xmax"),
        u["tmin"].alias("u_tmin"),
        u["tmax"].alias("u_tmax"),
        tbox_overlaps(ca, cb).cast("int").alias("has_inter"),
        i["xmin"].alias("i_xmin"),
        i["xmax"].alias("i_xmax"),
        i["tmin"].alias("i_tmin"),
        i["tmax"].alias("i_tmax"),
    )
