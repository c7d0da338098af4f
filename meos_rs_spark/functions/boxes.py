"""TBox / STBox algebra as pure Column expressions (SURVEY.md §2.8 F8-F10).

Reference semantics (cited at /root/reference):
  * TBox = value span × time span — ``meos/src/tbox.rs:19-111``
  * STBox = X/Y(/Z) extent × time — ``meos/src/stbox.rs:16-94``
  * contains/overlaps/same — ``tbox.rs:100-110``, ``stbox.rs:83-93``
    (truth tables in ``tbox.rs:153-195``)
  * cmp (total ordering) — ``tbox.rs:46-57``, ``stbox.rs:42-53``
  * int_to_tbox: degenerate box from an int — ``tbox.rs:87-98``
  * WKT canonical forms — ``tbox.rs:130-151``, ``stbox.rs:113-124``

A box is a plain struct of top-level-prunable fields (never opaque binary —
SURVEY §4 design consequence), so every predicate is an inequality
conjunction that Catalyst can push and DuckDB can mirror verbatim.
All spans here are closed ([min, max]) — the extent-aggregate form the
engine produces; bound flags for parsed WKT boxes live in serde.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tbox(xmin: Column, xmax: Column, tmin: Column, tmax: Column) -> Column:
    return F.struct(
        xmin.alias("xmin"), xmax.alias("xmax"), tmin.alias("tmin"), tmax.alias("tmax")
    )


def tbox_contains(a: Column, b: Column) -> Column:
    """a ⊇ b (contains_tbox_tbox, tbox.rs:100-102)."""
    return (
        (a["xmin"] <= b["xmin"])
        & (a["xmax"] >= b["xmax"])
        & (a["tmin"] <= b["tmin"])
        & (a["tmax"] >= b["tmax"])
    )


def tbox_overlaps(a: Column, b: Column) -> Column:
    """a ∩ b ≠ ∅ (overlaps_tbox_tbox, tbox.rs:104-106)."""
    return (
        (a["xmin"] <= b["xmax"])
        & (b["xmin"] <= a["xmax"])
        & (a["tmin"] <= b["tmax"])
        & (b["tmin"] <= a["tmax"])
    )


def tbox_same(a: Column, b: Column) -> Column:
    """identical extent (same_tbox_tbox, tbox.rs:108-110)."""
    return (
        (a["xmin"] == b["xmin"])
        & (a["xmax"] == b["xmax"])
        & (a["tmin"] == b["tmin"])
        & (a["tmax"] == b["tmax"])
    )


def tbox_cmp(a: Column, b: Column) -> Column:
    """-1/0/1 lexicographic on (xmin, xmax, tmin, tmax) (tbox_cmp, tbox.rs:46-57)."""

    def cmp(x: Column, y: Column) -> Column:
        return F.when(x < y, -1).when(x > y, 1).otherwise(0)

    c1, c2, c3, c4 = (
        cmp(a["xmin"], b["xmin"]),
        cmp(a["xmax"], b["xmax"]),
        cmp(a["tmin"], b["tmin"]),
        cmp(a["tmax"], b["tmax"]),
    )
    return (
        F.when(c1 != 0, c1)
        .when(c2 != 0, c2)
        .when(c3 != 0, c3)
        .otherwise(c4)
    )


# The same predicates as SQL templates, shared with the DuckDB oracles.
def tbox_pred_sql(a: str, b: str) -> dict[str, str]:
    return {
        "contains": (
            f"{a}.xmin <= {b}.xmin AND {a}.xmax >= {b}.xmax "
            f"AND {a}.tmin <= {b}.tmin AND {a}.tmax >= {b}.tmax"
        ),
        "overlaps": (
            f"{a}.xmin <= {b}.xmax AND {b}.xmin <= {a}.xmax "
            f"AND {a}.tmin <= {b}.tmax AND {b}.tmin <= {a}.tmax"
        ),
        "same": (
            f"{a}.xmin = {b}.xmin AND {a}.xmax = {b}.xmax "
            f"AND {a}.tmin = {b}.tmin AND {a}.tmax = {b}.tmax"
        ),
    }


def int_to_tbox_wkt(v: Column) -> Column:
    """F10: degenerate TBOXINT from an int — canonical WKT ``TBOXINT X([v, v+1))``
    (int spans are right-open in MEOS; tbox.rs:87-98,198-199)."""
    return F.concat(
        F.lit("TBOXINT X(["), v.cast("string"), F.lit(", "), (v + 1).cast("string"), F.lit("))")
    )


# --- STBox -----------------------------------------------------------------


def stbox_overlaps(a: Column, b: Column) -> Column:
    """overlaps_stbox_stbox (stbox.rs:87-89) on X/Y/T extents."""
    return (
        (a["xmin"] <= b["xmax"])
        & (b["xmin"] <= a["xmax"])
        & (a["ymin"] <= b["ymax"])
        & (b["ymin"] <= a["ymax"])
        & (a["tmin"] <= b["tmax"])
        & (b["tmin"] <= a["tmax"])
    )


# --- STBox Z (3D) -----------------------------------------------------------
#
# STBox carries an optional Z extent (stbox.rs:113-124 round-trips
# "STBOX Z((1,2,3),(4,5,6))"); predicates gain one more inequality pair.


def stbox_z_overlaps(a: Column, b: Column) -> Column:
    """overlaps_stbox_stbox with Z (stbox.rs:87-89 lifted to X/Y/Z/T)."""
    return (
        stbox_overlaps(a, b)
        & (a["zmin"] <= b["zmax"])
        & (b["zmin"] <= a["zmax"])
    )


def stbox_z_contains(a: Column, b: Column) -> Column:
    """a ⊇ b on X/Y/Z/T extents (contains_stbox_stbox + Z)."""
    return (
        (a["xmin"] <= b["xmin"]) & (a["xmax"] >= b["xmax"])
        & (a["ymin"] <= b["ymin"]) & (a["ymax"] >= b["ymax"])
        & (a["zmin"] <= b["zmin"]) & (a["zmax"] >= b["zmax"])
        & (a["tmin"] <= b["tmin"]) & (a["tmax"] >= b["tmax"])
    )


def stbox_z_wkt_sql(p: str, dialect: str) -> str:
    """Canonical ``STBOX Z((xmin,ymin,zmin),(xmax,ymax,zmax))`` WKT
    (golden form stbox.rs:119-122: minimal digits, no spaces) from columns
    ``{p}xmin``..``{p}zmax`` — same template both dialects so they can't
    drift."""
    from meos_rs_spark.functions.determinism import fmt6_sql

    f = lambda c: fmt6_sql(p + c, dialect)  # noqa: E731
    return (
        f"'STBOX Z((' || {f('xmin')} || ',' || {f('ymin')} || ',' || {f('zmin')} || "
        f"'),(' || {f('xmax')} || ',' || {f('ymax')} || ',' || {f('zmax')} || '))'"
    )


def tbox_union(a: Column, b: Column) -> Column:
    """Bounding union (union_tbox_tbox semantics: smallest box containing
    both — MEOS requires overlap for the exact union; the bounding form is
    total and is what an extent aggregate folds with)."""
    return F.struct(
        F.least(a["xmin"], b["xmin"]).alias("xmin"),
        F.greatest(a["xmax"], b["xmax"]).alias("xmax"),
        F.least(a["tmin"], b["tmin"]).alias("tmin"),
        F.greatest(a["tmax"], b["tmax"]).alias("tmax"),
    )


def tbox_intersection(a: Column, b: Column) -> Column:
    """intersection_tbox_tbox: overlap region, NULL when disjoint on any
    axis (closed bounds: touching boxes intersect in a degenerate box)."""
    inter = F.struct(
        F.greatest(a["xmin"], b["xmin"]).alias("xmin"),
        F.least(a["xmax"], b["xmax"]).alias("xmax"),
        F.greatest(a["tmin"], b["tmin"]).alias("tmin"),
        F.least(a["tmax"], b["tmax"]).alias("tmax"),
    )
    return F.when(tbox_overlaps(a, b), inter)
