"""The three posit views ARE the envelope semantics — pin them directly,
independent of any registered query, on the NULL-bearing adversarial
fixture (the driver fixtures are NULL-free, so only this fixture can tell
the views apart).

Containment is the envelope lattice: posits_xy ⊆ posits_v ⊆ posits, with
each step dropping exactly the rows its validity rule names. Each view's
DuckDB CTE twin must agree row-for-row with the Spark leg — the queries
inherit cross-engine envelope agreement from here.
"""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def adv_fixture(tmp_path_factory):
    from tools.adversarial_fixture import write_fixture

    out = str(tmp_path_factory.mktemp("adv"))
    write_fixture(out)
    return out


def _counts(spark, sf_dir):
    from meos_rs_spark.functions.trajectory import posits, posits_v, posits_xy

    return {
        "raw": posits(spark, sf_dir),
        "v": posits_v(spark, sf_dir),
        "xy": posits_xy(spark, sf_dir),
    }


@pytest.fixture(scope="module")
def quadrant_fixture(spark, tmp_path_factory):
    """A hand-built events table covering all four (value, lat) validity
    quadrants — the adversarial fixture's NULL-lat rows all coincide with
    NULL-value rows, so it cannot separate posits_v from posits_xy."""
    base = str(tmp_path_factory.mktemp("quad"))
    rows = [
        # (event_id, user_id, ts, value, props)
        (1, 1, "2024-01-01 00:00:00", 10.0, '{"k": "50.0"}'),   # both valid
        (2, 1, "2024-01-01 00:01:00", 11.0, '{"k": null}'),     # lat NULL
        (3, 1, "2024-01-01 00:02:00", 12.0, '{}'),             # lat ABSENT
        (4, 1, "2024-01-01 00:03:00", None, '{"k": "51.0"}'),   # value NULL
        (5, 1, "2024-01-01 00:04:00", None, '{"k": null}'),     # both NULL
    ]
    df = spark.createDataFrame(
        [(e, u, t, "posit", v, p) for e, u, t, v, p in rows],
        "event_id long, user_id long, ts string, event_type string, "
        "value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "user_id",
        "event_type", "value", "props",
    )
    df.coalesce(1).write.mode("overwrite").parquet(base + "/events.parquet")
    return base


def test_envelope_lattice_containment(spark, quadrant_fixture):
    views = _counts(spark, quadrant_fixture)
    n = {k: df.count() for k, df in views.items()}
    # quadrants: raw keeps all 5; the value envelope drops the 2 NULL-value
    # rows; the XY envelope additionally drops the NULL-lat and absent-lat
    # rows — an inverted or dropped predicate collapses the lattice
    assert (n["raw"], n["v"], n["xy"]) == (5, 3, 1), n
    # set containment, not just counts: anti-joins are empty
    for small, big in (("xy", "v"), ("v", "raw")):
        extra = views[small].exceptAll(
            views[big].select(*views[small].columns)
        )
        assert extra.count() == 0, (small, big)
    # the one XY survivor is the fully-valid posit
    assert views["xy"].select("event_id").first()[0] == 1


def test_views_agree_with_their_duckdb_twins(spark, adv_fixture):
    import duckdb

    from meos_rs_spark.functions.trajectory import (
        POSITS_CTE,
        POSITS_V_CTE,
        POSITS_XY_CTE,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{adv_fixture}/events.parquet'"
    )
    views = _counts(spark, adv_fixture)
    for key, cte in (("raw", POSITS_CTE), ("v", POSITS_V_CTE), ("xy", POSITS_XY_CTE)):
        duck_n = con.sql(f"WITH {cte} SELECT count(*) FROM posits").fetchone()[0]
        assert views[key].count() == duck_n, key
        # and the surviving (event_id, validity) census matches per row class
        duck_lat_nn = con.sql(
            f"WITH {cte} SELECT count(lat) FROM posits"
        ).fetchone()[0]
        spark_lat_nn = views[key].filter("lat IS NOT NULL").count()
        assert spark_lat_nn == duck_lat_nn, key


def test_garbage_lat_is_dropped_by_envelopes_and_aborts_the_raw_cast(
    spark, tmp_path_factory
):
    """The TRY_CAST boundary (r13 ADVICE item 1, now shared by both
    envelope views): a non-numeric '$.k' string DROPS from posits_xy and
    reads as NULL lat in posits_v — in BOTH engines — while the raw view's
    plain CAST ANSI-aborts, also in both engines (failure-MODE parity for
    out-of-grammar data; the envelopes exist so queries never hit it)."""
    import duckdb
    import pytest as _pytest

    from meos_rs_spark.functions.trajectory import (
        POSITS_CTE,
        POSITS_V_CTE,
        POSITS_XY_CTE,
        posits,
        posits_v,
        posits_xy,
    )

    base = str(tmp_path_factory.mktemp("garb"))
    df = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 00:00:00", "posit", 10.0, '{"k": "50.0"}'),
            (2, 1, "2024-01-01 00:01:00", "posit", 11.0, '{"k": "zzz"}'),
        ],
        "event_id long, user_id long, ts string, event_type string, "
        "value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "user_id",
        "event_type", "value", "props",
    )
    df.coalesce(1).write.mode("overwrite").parquet(base + "/events.parquet")

    assert posits_xy(spark, base).count() == 1
    v = posits_v(spark, base).orderBy("event_id").collect()
    assert [r.lat for r in v] == [50.0, None]
    with _pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        posits(spark, base).collect()

    con = duckdb.connect()
    # Spark wrote a directory of part files — DuckDB needs the glob
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{base}/events.parquet/*.parquet'"
    )
    assert con.sql(f"WITH {POSITS_XY_CTE} SELECT count(*) FROM posits").fetchone()[0] == 1
    assert con.sql(
        f"WITH {POSITS_V_CTE} SELECT count(lat) FROM posits"
    ).fetchone()[0] == 1
    with _pytest.raises(duckdb.ConversionException):
        # count(lat) forces the CAST; count(*) would prune the column away
        con.sql(f"WITH {POSITS_CTE} SELECT count(lat) FROM posits").fetchone()


def test_malformed_props_document_converges_in_both_engines(
    spark, tmp_path_factory
):
    """r15 oracle alignment (staged PREFLIGHT_r14, executed): a MALFORMED
    props document — 'not json', not merely a non-numeric '$.k' — used to
    ABORT the DuckDB leg's json_extract_string while Spark NULLed. The
    CTEs now extract through TRY_CAST(props AS JSON), so the row reads as
    NULL lat in BOTH engines: kept by raw/v, dropped by xy, no abort
    anywhere on the oracle path."""
    import duckdb

    from meos_rs_spark.functions.trajectory import (
        POSITS_CTE,
        POSITS_V_CTE,
        POSITS_XY_CTE,
        posits,
        posits_v,
        posits_xy,
    )

    base = str(tmp_path_factory.mktemp("malformed"))
    df = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 00:00:00", "posit", 10.0, '{"k": "50.0"}'),
            (2, 1, "2024-01-01 00:01:00", "posit", 11.0, "not json"),
            (3, 1, "2024-01-01 00:02:00", "posit", 12.0, '{"k": 050}'),
        ],
        "event_id long, user_id long, ts string, event_type string, "
        "value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "user_id",
        "event_type", "value", "props",
    )
    df.coalesce(1).write.mode("overwrite").parquet(base + "/events.parquet")

    sp = {
        "raw": posits(spark, base),
        "v": posits_v(spark, base),
        "xy": posits_xy(spark, base),
    }
    # Spark: malformed docs read NULL lat — raw/v keep all 3, xy keeps 1
    assert {k: v.count() for k, v in sp.items()} == {"raw": 3, "v": 3, "xy": 1}
    assert sp["raw"].filter("lat IS NULL").count() == 2

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{base}/events.parquet/*.parquet'"
    )
    for key, cte, want_n, want_null in (
        ("raw", POSITS_CTE, 3, 2),
        ("v", POSITS_V_CTE, 3, 2),
        ("xy", POSITS_XY_CTE, 1, 0),
    ):
        n, nnull = con.sql(
            f"WITH {cte} SELECT count(*), count(*) - count(lat) FROM posits"
        ).fetchone()
        assert (n, nnull) == (want_n, want_null), key


def test_compare_canonicalizes_cross_dtype_datelikes():
    """The r14 win_gap_islands false DIVERGE: year-9999 extremes rows force
    one engine's column to object datetime.date while the other holds
    Timestamps — equal values must compare equal, and genuinely different
    dates must still mismatch."""
    import datetime as dt

    import pandas as pd

    from tests.oracle import compare

    class FakeSparkDF:
        def __init__(self, df):
            self._df = df

        def toPandas(self):
            return self._df

    sp = pd.DataFrame({"d": [dt.date(1901, 1, 1), dt.date(9999, 1, 1)]})
    du = pd.DataFrame({"d": [pd.Timestamp("1901-01-01"), dt.datetime(9999, 1, 1)]})
    assert compare(FakeSparkDF(sp), du, "t") == []
    du_bad = pd.DataFrame({"d": [pd.Timestamp("1901-01-02"), dt.datetime(9999, 1, 1)]})
    assert compare(FakeSparkDF(sp), du_bad, "t") != []

    # r14 ADVICE item 2: the canonicalization is no longer silent — a
    # column that compared equal ONLY thanks to it leaves a TYPE_NOTES
    # entry (the DATE-vs-midnight-TIMESTAMP regression audit trail) …
    from tests.oracle import TYPE_NOTES

    TYPE_NOTES.clear()
    assert compare(FakeSparkDF(sp), du, "audited") == []
    assert len(TYPE_NOTES) == 1 and TYPE_NOTES[0].startswith("audited.d:")
    # … while a same-representation object column (e.g. plain strings)
    # passes through without a note
    TYPE_NOTES.clear()
    sp_s = pd.DataFrame({"s": ["a", "b"]})
    assert compare(FakeSparkDF(sp_s.copy()), sp_s.copy(), "clean") == []
    assert TYPE_NOTES == []


def test_kept_ids_string_total_by_property():
    """hypothesis: kept_ids_string never raises and is VALUE-exact for ANY
    mix of ints, floats (incl. nan/inf — inf is int()-convertible? no:
    OverflowError is also caught), None, and pd.NA — the r14 abort class
    can never come back through a new dtype, and (r14 ADVICE item 1) a
    rendered id is always the EXACT value handed in: non-integral floats
    and floats past 2**53 (where int64→float64 coercion drops bits) render
    'null' rather than a plausible-looking wrong id."""
    import math

    import numpy as np
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from meos_rs_spark.functions.simplify import kept_ids_string

    cell = st.one_of(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        st.floats(allow_nan=True, allow_infinity=True),
        # the coercion shape that motivated the guard: int64 ids laundered
        # through float64 by a NULL in the same pandas column
        st.integers(min_value=-(2**63), max_value=2**63 - 1).map(
            lambda i: np.float64(i)
        ),
        st.none(),
        st.just(pd.NA),
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(cell, max_size=30))
    def check(vals):
        out = kept_ids_string(vals)
        parts = out.split(",") if out else []
        assert len(parts) == len(vals)
        for p, v in zip(parts, vals):
            if p != "null":
                assert int(p) == int(v)  # exact round-trip for renderables
                if isinstance(v, (float, np.floating)):
                    # a rendered float is integral, small enough to be
                    # bit-exact, and round-trips through float64
                    assert float(v) == int(v) and abs(int(v)) < 2**53
            else:
                ok_null = (
                    v is None
                    or v is pd.NA
                    or (
                        isinstance(v, (float, np.floating))
                        and (
                            math.isnan(v)
                            or math.isinf(v)
                            or float(v) != int(v)
                            or abs(int(v)) >= 2**53
                        )
                    )
                )
                assert ok_null, (p, v)

    check()
