"""Every registered query with an oracle must match DuckDB exactly —
the local twin of the driver's CORRECTNESS gate, run at sf0.001 for speed
(point SPARK_GRAFT_SMOKE_DIR at the sf0.01 fixture for the full check)."""

from __future__ import annotations

import pytest

from meos_rs_spark.registry import load_registry
from tests.conftest import SF_SMOKE
from tests.oracle import compare, duck_connection

REGISTRY = load_registry()
# golden-tagged oracles are VALUES literals pinned at sf0.01 (meos_rs_spark/
# golden.py) — their parity leg must run at that scale, not SF_SMOKE
GOLDEN_ORACLE = sorted(n for n, s in REGISTRY.items() if s.oracle and "golden" in s.tags)
WITH_ORACLE = sorted(
    n for n, s in REGISTRY.items() if s.oracle and "golden" not in s.tags
)
ROWS_ONLY = sorted(n for n, s in REGISTRY.items() if not s.oracle)
SF_GOLDEN = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_SMOKE)
    yield con
    con.close()


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_parity(spark, duck, name):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, SF_SMOKE)
    ddf = duck.sql(spec.oracle).df()
    issues = compare(sdf, ddf, name)
    assert not issues, "\n".join(issues)


@pytest.mark.parametrize("name", GOLDEN_ORACLE)
def test_golden_oracle_parity(spark, duck, name):
    """Golden VALUES oracles verify at the scale they were generated for."""
    spec = REGISTRY[name]
    sdf = spec.fn(spark, SF_GOLDEN)
    ddf = duck.sql(spec.oracle).df()  # self-contained VALUES — any connection
    issues = compare(sdf, ddf, name)
    assert not issues, "\n".join(issues)


@pytest.mark.parametrize("name", WITH_ORACLE + GOLDEN_ORACLE)
def test_oracle_output_types_strict(duck, name):
    """No oracle may emit HUGEINT/UHUGEINT/DECIMAL output columns.

    DuckDB types SUM(BIGINT/INTEGER) as HUGEINT; the driver's value hasher is
    type-sensitive, so a HUGEINT column hash-mismatches an identical-valued
    Spark BIGINT (round-3 failures: rel_conditional_agg, traj_sessionize,
    traj_spanset_coverage, traj_tbool_duration). CAST(... AS BIGINT/DOUBLE)
    at the oracle's output layer; DECIMAL intermediates are fine."""
    spec = REGISTRY[name]
    rel = duck.sql(spec.oracle)
    offenders = [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if "HUGEINT" in str(t) or "DECIMAL" in str(t)
    ]
    assert not offenders, f"{name}: type-hazard output columns {offenders}"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, SF_SMOKE)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
