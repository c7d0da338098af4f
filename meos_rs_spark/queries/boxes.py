"""Box-algebra queries (SURVEY.md §2.8 F8-F10, §2.3 J5).

TBoxes are built per event_type (a small, sf-independent domain: the
predicate matrix stays 8×8 at any scale), STBoxes per vessel. The J5
overlap join demonstrates the 100 TB shape: grid-bucket each box, explode
spanned cells, equi-join on cell, dedup, refine with the exact predicate —
never a cartesian product. The DuckDB twin runs the quadratic theta join
(fine at oracle scale) and must agree exactly.
"""

from __future__ import annotations

import functools
import operator

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


def _type_box_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every ordered pair of per-event-type TBoxes (the 8×8 twin of
    _TYPE_BOX_CTE's self cross join): type_a, a, type_b, b."""
    boxes = load_table(spark, sf_dir, "events").groupBy("event_type").agg(
        tbox(F.min("value"), F.max("value"), F.min("ts"), F.max("ts")).alias("box")
    )
    a = boxes.select(F.col("event_type").alias("type_a"), F.col("box").alias("a"))
    b = boxes.select(F.col("event_type").alias("type_b"), F.col("box").alias("b"))
    return a.crossJoin(F.broadcast(b))


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
    ca, cb = F.col("a"), F.col("b")
    return _type_box_pairs(spark, sf_dir).select(
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


def _chunks_for_max(m):
    """Chunk-salt K for a hottest cell of ``m`` boxes (a bigint Column):
    ``ceil(m / sqrt(_SALT_TARGET_PAIRS))`` clamped to [1,
    _OVERLAP_CHUNKS_MAX]. The clamp runs in LONG and narrows to int only
    after the cap: ceil() of an extreme count exceeds INT_MAX exactly on
    the most skewed inputs, and an early cast would abort under ANSI."""
    import math

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


def _salt_chunks(cells: DataFrame, *keys: str):
    """Adaptive chunk-salt K for a grid self-join, as a scalar-subquery
    Column over the unsalted cell census (see _SALT_TARGET_PAIRS note)."""
    m = (
        cells.groupBy(*[F.col(k) for k in keys])
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("m"))
        .scalar()
    )
    return _chunks_for_max(m)


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
    int-overflow guard, r8 review find). Returns (cw, ch, x0, y0) scalar
    Columns."""
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


def _grid_overlap_pairs(
    boxes: DataFrame,
    key: tuple[str, ...],
    fields: tuple[str, ...],
    extra_axes: tuple[tuple, ...],
    refine,
) -> DataFrame:
    """The J5 grid join: every pair of ``boxes`` rows with
    ``key[0]_a < key[0]_b`` that passes ``refine(a, b)``, exactly once, as
    ``<key>_a`` / ``<key>_b`` columns. Never a cartesian product.

    ``boxes`` holds the ``key`` columns, xmin/xmax/ymin/ymax and
    ``fields``; ``a`` and ``b`` are the two sides' ``struct(*fields)``.
    Each box explodes into the grid cells it spans: adaptive x/y cells
    (_adaptive_cell_stats) plus one cell axis per ``extra_axes`` entry,
    given as ``(a_lo, a_hi, b_lo, b_hi)`` cell-index Columns so the a-side
    may cover a widened range. Sides equi-join on (cells, ca, cb), where
    ca/cb is the two-sided chunk salt: each (a, b) pair meets exactly once
    per shared cell, at (ca(a), cb(b)), and a hot cell spreads over K²
    tasks. The join keys stay primitive ints: a struct-typed key measured
    ~3x slower per probed candidate. A pair is emitted only at its
    CANONICAL cell, the per-axis max of the two sides' first covered
    cells (the reference-point rule): both boxes cover it, so the output
    is duplicate-free without shuffling a distinct over ~10x duplicated
    candidates. floor and div are monotone, so cell(max(u, v)) ==
    max(cell(u), cell(v)) and the test is pure int comparisons, with no
    scalar subquery in the per-candidate filter.
    """
    # Explicit-count repartition BEFORE the explode: the box table is tiny
    # post-shuffle, so AQE coalesces its exchange down to one partition,
    # blind to the ×(cells × chunks) Generate expansion after it, and the
    # whole quadratic join then runs on ONE task (observed live at ×10: a
    # 1G-candidate probe single-threaded). A user-specified partition count
    # is exempt from AQE coalescing.
    boxes = fan_out(boxes, *key, force=True)
    cw, ch, x0, y0 = _adaptive_cell_stats(boxes)
    # Cell bounds computed OUTSIDE the higher-order function: subquery
    # expressions (the adaptive cw/ch) are not allowed inside lambdas.
    # Indexes are ANCHORED at the data min: un-anchored floor(xmin/cw) with
    # a tiny adaptive cw (degenerate or tightly clustered data far from 0)
    # produces indexes ≫ 2^31 and CAST_OVERFLOW under ANSI; anchoring
    # bounds them to ~_MAX_GRID, and bigint removes the ceiling entirely.
    bounded = boxes.select(
        "*",
        F.floor((F.col("xmin") - x0) / cw).cast("bigint").alias("__x0"),
        F.floor((F.col("xmax") - x0) / cw).cast("bigint").alias("__x1"),
        F.floor((F.col("ymin") - y0) / ch).cast("bigint").alias("__y0"),
        F.floor((F.col("ymax") - y0) / ch).cast("bigint").alias("__y1"),
        *[c.alias(f"__e{i}_{j}") for i, axis in enumerate(extra_axes) for j, c in enumerate(axis)],
    )
    # per axis, the bound columns (a_lo, a_hi, b_lo, b_hi); a side's range
    # starts at offset 0, b side's at 2
    axes = [("__x0", "__x1") * 2, ("__y0", "__y1") * 2]
    axes += [tuple(f"__e{i}_{j}" for j in range(4)) for i in range(len(extra_axes))]
    cells = [f"__cell{i}" for i in range(len(axes))]
    offset = {"a": 0, "b": 2}

    def explode(df: DataFrame, s: str) -> DataFrame:
        # chained explodes, not one flattened array: a domain-spanning
        # outlier box covers up to _MAX_GRID cells PER AXIS, and flattening
        # would materialize the whole cross product as one in-row array
        # before the Generate; nested Generates stream it row by row
        o = offset[s]
        for cell, axis in zip(cells, axes):
            df = df.withColumn(cell, F.explode(F.sequence(axis[o], axis[o + 1])))
        return df

    b_cells = explode(bounded, "b")
    # the a side explodes its own cells only where an axis widens its range
    a_cells = b_cells if all(ax[:2] == ax[2:] for ax in axes) else explode(bounded, "a")
    # adaptive chunk salt (see _SALT_TARGET_PAIRS) from the b-side census:
    # a widened a-side differs by at most one adjacent cell per axis, within
    # the heuristic's tolerance. The per-row __k column keeps the scalar
    # subquery in a Project (legal) while the Generate below references a
    # plain attribute.
    chunks = _salt_chunks(b_cells, *cells)

    def side(df: DataFrame, s: str, other: str) -> DataFrame:
        return df.withColumn("__k", chunks).select(
            *[F.col(k).alias(f"{k}_{s}") for k in key],
            *[F.col(c).alias(f"{c}_{s}") for c in cells],
            *[F.col(axis[offset[s]]).alias(f"__first{i}_{s}") for i, axis in enumerate(axes)],
            F.struct(*fields).alias(s),
            F.pmod(F.hash(*key), F.col("__k")).alias(f"c{s}"),
            F.explode(F.sequence(F.lit(0), F.col("__k") - F.lit(1))).alias(f"c{other}"),
        )

    # Explicit-count co-partitioned exchanges on the join keys (same key
    # order, same count, both sides): the exploded cell tables are a few MB
    # post-shuffle at fixture scale, so AQE coalesces the join's exchanges
    # toward ONE task, blind to the candidate-pair expansion the probe does
    # per partition, and the refinement serializes (measured 40s at sf0.1
    # for ~11M banded pairs, max-task share 0.44). A user-specified count
    # is AQE-coalesce-exempt and satisfies the join's clustered
    # distribution, so no second exchange appears. The join lists its keys
    # in the same order as these exchanges.
    a = fan_out(side(a_cells, "a", "b"), *[f"{c}_a" for c in cells], "ca", "cb", force=True)
    b = fan_out(side(b_cells, "b", "a"), *[f"{c}_b" for c in cells], "ca", "cb", force=True)
    on = [a[f"{c}_a"] == b[f"{c}_b"] for c in cells]
    on += [a.ca == b.ca, a.cb == b.cb, a[f"{key[0]}_a"] < b[f"{key[0]}_b"]]
    canonical = [
        F.col(f"{c}_a") == F.greatest(F.col(f"__first{i}_a"), F.col(f"__first{i}_b"))
        for i, c in enumerate(cells)
    ]
    return (
        a.join(b, functools.reduce(operator.and_, on))
        .filter(functools.reduce(operator.and_, canonical, refine(F.col("a"), F.col("b"))))
        .select(*[f"{k}_a" for k in key], *[f"{k}_b" for k in key])
    )


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


def _posit_boxes(spark: SparkSession, sf_dir: str, *keys) -> DataFrame:
    """Per-``keys`` x/y/t extents of the posits (the Spark twin of the
    oracles' vbox / vdbox CTEs)."""
    return posits_xy(spark, sf_dir).groupBy(*keys).agg(
        F.min("lon").alias("xmin"),
        F.max("lon").alias("xmax"),
        F.min("lat").alias("ymin"),
        F.max("lat").alias("ymax"),
        F.min("ts").alias("tmin"),
        F.max("ts").alias("tmax"),
    )


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
    return _grid_overlap_pairs(
        _posit_boxes(spark, sf_dir, "mmsi"),
        ("mmsi",),
        ("xmin", "xmax", "ymin", "ymax", "tmin", "tmax"),
        (),
        stbox_overlaps,
    )


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
    vbox = _posit_boxes(spark, sf_dir, "mmsi", F.to_date("ts").alias("d")).select(
        "*",
        F.unix_micros(F.col("tmin").cast("timestamp")).alias("t0us"),
        F.unix_micros(F.col("tmax").cast("timestamp")).alias("t1us"),
    )
    # time cells in exact integer µs via `div`: the a-side covers the
    # Δ-EXPANDED interval, the b-side the raw one, so band-passing pairs
    # meet in ≥1 shared time cell and non-banded ones are pruned before the
    # refinement ever sees them
    time_axis = (
        F.expr(f"(t0us - {_BAND_US}) div {_TCELL_US}"),
        F.expr(f"(t1us + {_BAND_US}) div {_TCELL_US}"),
        F.expr(f"t0us div {_TCELL_US}"),
        F.expr(f"t1us div {_TCELL_US}"),
    )

    def banded_overlap(a, b):
        return (
            (a["xmin"] <= b["xmax"])
            & (b["xmin"] <= a["xmax"])
            & (a["ymin"] <= b["ymax"])
            & (b["ymin"] <= a["ymax"])
            & (a["t1us"] >= b["t0us"] - F.lit(_BAND_US))
            & (a["t0us"] <= b["t1us"] + F.lit(_BAND_US))
        )

    pairs = _grid_overlap_pairs(
        vbox,
        ("mmsi", "d"),
        ("xmin", "xmax", "ymin", "ymax", "t0us", "t1us"),
        (time_axis,),
        banded_overlap,
    )
    # per-box encounter count WITHOUT a join-back: each pair contributes 1
    # to both of its boxes, every box contributes a 0 row, one aggregation.
    # One explode reads the pairs once; a union leg per side would run the
    # whole grid join twice.
    sides = F.array(
        F.struct(F.col("mmsi_a").alias("mmsi"), F.col("d_a").alias("d")),
        F.struct(F.col("mmsi_b").alias("mmsi"), F.col("d_b").alias("d")),
    )
    contrib = (
        pairs.select(F.explode(sides).alias("box"))
        .select("box.*", F.lit(1).alias("c"))
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
    vbox = _posit_boxes(spark, sf_dir, "mmsi")
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
    ca, cb = F.col("a"), F.col("b")
    u = tbox_union(ca, cb)
    i = tbox_intersection(ca, cb)
    return _type_box_pairs(spark, sf_dir).select(
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
