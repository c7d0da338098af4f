"""Box-algebra truth tables, transcribed from the reference's unit tests
(meos/src/tbox.rs:153-195): contains/overlaps/same/eq on identical, nested,
and shifted time boxes — plus the int_to_tbox canonical WKT
(tbox.rs:87-98,198-199)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from meos_rs_spark.functions.boxes import (
    int_to_tbox_wkt,
    tbox_cmp,
    tbox_contains,
    tbox_overlaps,
    tbox_same,
)

# time-only boxes from tbox.rs tests (value span collapsed to a constant)
_D1, _D2, _D3 = "2001-01-01", "2001-01-02", "2001-01-03"


def _boxes(spark, pairs):
    rows = [
        (a_lo, a_hi, b_lo, b_hi)
        for (a_lo, a_hi), (b_lo, b_hi) in pairs
    ]
    df = spark.createDataFrame(rows, "a_lo string, a_hi string, b_lo string, b_hi string")
    mk = lambda lo, hi: F.struct(  # noqa: E731
        F.lit(0.0).alias("xmin"),
        F.lit(1.0).alias("xmax"),
        F.col(lo).cast("timestamp_ntz").alias("tmin"),
        F.col(hi).cast("timestamp_ntz").alias("tmax"),
    )
    return df.select(mk("a_lo", "a_hi").alias("a"), mk("b_lo", "b_hi").alias("b"))


def test_tbox_truth_tables(spark):
    cases = [
        # ((a), (b)) -> expected (contains, overlaps, same, cmp)
        (((_D1, _D2), (_D1, _D2)), (True, True, True, 0)),  # tbox.rs:154-158 identical
        (((_D1, _D2), (_D1, _D3)), (False, True, False, -1)),  # :160-163 a ⊉ longer b, overlap
        (((_D1, _D3), (_D1, _D2)), (True, True, False, 1)),  # containment of nested
        (((_D2, _D2), (_D1, _D2)), (False, True, False, 1)),  # :190-193 eq ordering case
    ]
    df = _boxes(spark, [c[0] for c in cases])
    got = df.select(
        tbox_contains(F.col("a"), F.col("b")).alias("c"),
        tbox_overlaps(F.col("a"), F.col("b")).alias("o"),
        tbox_same(F.col("a"), F.col("b")).alias("s"),
        tbox_cmp(F.col("a"), F.col("b")).alias("cmp"),
    ).collect()
    for (_, exp), row in zip(cases, got):
        assert (row.c, row.o, row.s, row.cmp) == exp


def test_int_to_tbox_wkt(spark):
    df = spark.range(1, 3).select(int_to_tbox_wkt(F.col("id").cast("int")).alias("w"))
    assert [r.w for r in df.collect()] == ["TBOXINT X([1, 2))", "TBOXINT X([2, 3))"]


def test_overlap_join_degenerate_point_data_far_from_origin(spark, tmp_path):
    """All posits at one point far from the coordinate origin: the adaptive
    cell width bottoms out at its 1e-9 floor, and an UN-anchored
    floor(xmin/cw) would index ~1e11 — CAST_OVERFLOW under ANSI (r8 review
    find). Anchoring at the data min keeps indexes ~0; every vessel's box
    is the same point, so all C(3,2) pairs overlap."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from meos_rs_spark.queries.boxes import box_stbox_overlap_join

    rows = []
    for i, u in enumerate((1, 2, 3)):
        for j in range(3):
            rows.append(
                {
                    "event_id": i * 3 + j,
                    "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=j),
                    "user_id": u,
                    "event_type": "posit",
                    "value": 100.0,          # lon — identical everywhere
                    "props": '{"k": 100}',   # lat — identical everywhere
                }
            )
    pq.write_table(pa.Table.from_pandas(pd.DataFrame(rows)), str(tmp_path / "events.parquet"))
    got = sorted(
        (r.mmsi_a, r.mmsi_b) for r in box_stbox_overlap_join(spark, str(tmp_path)).collect()
    )
    assert got == [(1, 2), (1, 3), (2, 3)]


def test_banded_overlap_degenerate_point_data_pre_epoch(spark, tmp_path):
    """The banded variant under both degeneracies at once: all posits at
    one far-from-origin point (adaptive cell width bottoms at 1e-9 — the
    parent's ANSI-overflow case, guarded by the now-shared anchored
    helper) AND pre-1970 timestamps (negative epoch µs, where the time
    cells' `div` truncates toward zero instead of flooring — emit-once
    must survive because any MONOTONE cell map preserves the
    cell(max)=max(cell) identity). Three vessels over two days:

    * day 1 (1969-12-30): vessels 1, 2, 3 all present within minutes →
      same-day encounters for every pair;
    * day 2 (1969-12-31): only vessel 1, at 00:10 — within Δ=30 min of
      vessel 2's day-1 23:50 posit (cross-midnight, adjacent time cells)
      but > Δ from vessel 3's day-1 latest at 23:00.

    Expected n_enc: v1d1=2 (v2d1, v3d1), v2d1=3 (v1d1, v3d1, v1d2),
    v3d1=2 (v1d1, v2d1), v1d2=1 (v2d1). Same-vessel pairs (v1d1↔v1d2)
    are excluded by mmsi_a < mmsi_b."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from meos_rs_spark.queries.boxes import box_stbox_overlap_banded

    def posit(eid, user, ts):
        return {
            "event_id": eid,
            "ts": pd.Timestamp(ts),
            "user_id": user,
            "event_type": "posit",
            "value": 100.0,
            "props": '{"k": 100}',
        }

    rows = [
        posit(0, 1, "1969-12-30 12:00"),
        posit(1, 1, "1969-12-30 12:05"),
        posit(2, 2, "1969-12-30 12:02"),
        posit(3, 2, "1969-12-30 23:50"),
        posit(4, 3, "1969-12-30 11:58"),
        posit(5, 3, "1969-12-30 23:00"),
        posit(6, 1, "1969-12-31 00:10"),
    ]
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame(rows)), str(tmp_path / "events.parquet")
    )
    got = {
        (r.mmsi, r.d): r.n_enc
        for r in box_stbox_overlap_banded(spark, str(tmp_path)).collect()
    }
    assert got == {
        (1, "1969-12-30"): 2,
        (2, "1969-12-30"): 3,
        (3, "1969-12-30"): 2,
        (1, "1969-12-31"): 1,
    }


def test_banded_overlap_surfaces_a_failing_repartition(spark, monkeypatch):
    """The banded join's keyed repartitions are what keep AQE from
    coalescing its refinement onto one task; a repartition that fails must
    fail the build, not be swallowed into a plan without them."""
    import pytest

    from meos_rs_spark.queries.boxes import box_stbox_overlap_banded
    from tests.conftest import SF_SMOKE

    def broken(self, *args, **kwargs):
        raise RuntimeError("repartition failed")

    # the session's concrete DataFrame class (it overrides the base API's)
    monkeypatch.setattr(type(spark.range(1)), "repartition", broken)
    with pytest.raises(RuntimeError, match="repartition failed"):
        box_stbox_overlap_banded(spark, SF_SMOKE)


def test_salt_chunks_clamps_before_narrowing(spark):
    """The chunk-salt clamp must happen in LONG before the int cast: an
    extreme hottest-cell count would otherwise overflow the cast under
    ANSI exactly on the most skewed inputs (r16 self-review find). Driven
    by a huge literal standing in for the census maximum."""
    from pyspark.sql import functions as F

    from meos_rs_spark.queries.boxes import _OVERLAP_CHUNKS_MAX, _chunks_for_max

    k = _chunks_for_max(F.lit(1 << 62).cast("bigint"))
    assert spark.range(1).select(k.alias("k")).collect()[0].k == _OVERLAP_CHUNKS_MAX


def test_salt_chunks_is_one_on_uniform_cells(spark):
    from pyspark.sql import functions as F

    from meos_rs_spark.queries.boxes import _salt_chunks

    cells = spark.range(100).select(
        (F.col("id") % 50).alias("cellx"), F.lit(0).alias("celly")
    )
    k = spark.range(1).select(_salt_chunks(cells, "cellx", "celly").alias("k")).collect()[0].k
    assert k == 1


@pytest.mark.parametrize("name", ["box_stbox_overlap_join", "box_stbox_overlap_banded"])
def test_overlap_joins_match_the_oracle_when_salted(spark, monkeypatch, name):
    """The fixtures are uniform, so the adaptive salt reads K = 1 and the
    parity suite never splits a cell into chunks. A one-pair target forces
    K > 1 (K = 15 at SF_SMOKE): each pair must still meet exactly once."""
    from meos_rs_spark.queries import boxes
    from meos_rs_spark.registry import load_registry
    from tests.conftest import SF_SMOKE
    from tests.oracle import compare, duck_connection

    monkeypatch.setattr(boxes, "_SALT_TARGET_PAIRS", 1)
    spec = load_registry()[name]
    duck = duck_connection(SF_SMOKE)
    try:
        issues = compare(spec.fn(spark, SF_SMOKE), duck.sql(spec.oracle).df(), name)
    finally:
        duck.close()
    assert not issues, "\n".join(issues)
