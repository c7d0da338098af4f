"""The declared fixture schemas (``sources.tables.SCHEMAS``): equal to what
Spark infers, loud on a file that lacks a column, adaptive to the events
``ts`` generation, and read without a Spark job."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from meos_rs_spark.sources.tables import SCHEMAS, TABLE_NAMES, declared_schema, load_table
from tests.conftest import SF_SMOKE

TESTDATA = os.path.dirname(SF_SMOKE.rstrip("/"))


def _assert_declared_equals_inferred(spark, sf_dir: str) -> None:
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        inferred = spark.read.parquet(path).schema
        assert SCHEMAS[name] == inferred, (sf_dir, name)
        assert declared_schema(spark, path, name) == inferred, (sf_dir, name)


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_schema_equals_inferred(spark, scale):
    sf_dir = os.path.join(TESTDATA, scale)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    _assert_declared_equals_inferred(spark, sf_dir)


def test_declared_schema_equals_inferred_on_scaled_fixture(spark, tmp_path):
    from tools import gen_scale

    gen_scale.scale_fixture(SF_SMOKE, str(tmp_path), 2)
    _assert_declared_equals_inferred(spark, str(tmp_path))


def test_missing_column_raises(spark, tmp_path):
    for name in TABLE_NAMES:
        if name != "documents":
            shutil.copy(os.path.join(SF_SMOKE, f"{name}.parquet"), tmp_path)
    docs = pq.read_table(os.path.join(SF_SMOKE, "documents.parquet"))
    pq.write_table(docs.drop_columns(["lang"]), str(tmp_path / "documents.parquet"))
    with pytest.raises(ValueError, match=r"'documents'.*documents\.parquet.*\['lang'\]"):
        load_table(spark, str(tmp_path), "documents")
    # a URI path is checked against Spark's inferred schema instead
    with pytest.raises(ValueError, match=r"\['lang'\]"):
        load_table(spark, f"file://{tmp_path}", "documents")
    uri = f"file://{tmp_path}/orders.parquet"
    assert declared_schema(spark, uri, "orders") == SCHEMAS["orders"]


def test_spark_written_directory_is_checked_per_file(spark, tmp_path):
    """A table written by Spark is a directory of part files next to
    ``_SUCCESS`` and ``.crc`` files; only the data files' footers count."""
    path = str(tmp_path / "region.parquet")
    load_table(spark, SF_SMOKE, "region").repartition(2).write.parquet(path)
    assert load_table(spark, str(tmp_path), "region").count() == (
        load_table(spark, SF_SMOKE, "region").count()
    )
    spark.range(1).toDF("r_regionkey").write.mode("append").parquet(path)
    with pytest.raises(ValueError, match=r"lacks columns \['r_name'\]"):
        load_table(spark, str(tmp_path), "region")


def test_nanos_events_load_like_micros(spark, tmp_path):
    """The TIMESTAMP(NANOS) events generation: the footer declares ``ts``
    as int64 (nanosAsLong), and ``_normalize_events`` turns it into the
    same ``ts``/``ts_ns`` the timestamp[us] file gives."""
    micros = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    assert micros.schema.field("ts").type == pa.timestamp("us")
    i = micros.schema.get_field_index("ts")
    nanos = micros.set_column(i, "ts", pc.cast(micros["ts"], pa.timestamp("ns")))
    pq.write_table(nanos, str(tmp_path / "events.parquet"))
    assert pq.read_schema(str(tmp_path / "events.parquet")).field("ts").type == (
        pa.timestamp("ns")
    )

    from pyspark.sql.types import LongType

    raw = spark.read.parquet(str(tmp_path / "events.parquet")).schema
    assert isinstance(raw["ts"].dataType, LongType)

    def rows(sf_dir):
        df = load_table(spark, sf_dir, "events")
        return df.schema, sorted(df.select("event_id", "ts", "ts_ns").collect())

    got_schema, got = rows(str(tmp_path))
    want_schema, want = rows(SF_SMOKE)
    assert got_schema == want_schema
    assert got == want and len(got) > 0


# --- zero-job pins -----------------------------------------------------------


def _job_count(spark) -> int:
    from tools.probekit import _status_store

    # the status store is fed by the async listener bus: drain it first so
    # a job that did run is counted
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store, empty, _ = _status_store(spark)
    return store.jobsList(empty).size()


def _jobs_during(spark, fn) -> int:
    fn()  # warm-up
    before = _job_count(spark)
    fn()
    return _job_count(spark) - before


def test_job_probe_sees_schema_inference(spark):
    """The probe counts the inference job a plain read runs; otherwise the
    zero pins below would pass vacuously."""
    path = os.path.join(SF_SMOKE, "documents.parquet")
    assert _jobs_during(spark, lambda: spark.read.parquet(path)) >= 1


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_load_table_runs_no_job(spark, name):
    assert _jobs_during(spark, lambda: load_table(spark, SF_SMOKE, name)) == 0


def test_stage_read_back_runs_no_job(spark, tmp_path):
    """``stage()`` runs exactly the jobs of its write: the read-back adds
    none."""
    from meos_rs_spark.functions.staging import stage

    df = spark.range(50).selectExpr("id", "CAST(id AS STRING) AS s")
    path = str(tmp_path / "plain")
    write = _jobs_during(spark, lambda: df.write.mode("overwrite").parquet(path))
    assert write >= 1
    assert _jobs_during(spark, lambda: stage(df, "schema_pin_read_back")) == write


def test_stream_events_schema_runs_no_job(spark):
    from meos_rs_spark.queries.streaming import _stream_events

    assert _jobs_during(spark, lambda: _stream_events(spark, SF_SMOKE)) == 0


@pytest.mark.parametrize(
    "query", ["dedup_minhash_lsh", "sim_pagerank", "sim_mmr_rerank"]
)
def test_staged_schema_equals_inferred(spark, monkeypatch, query):
    """Each ``stage()`` user's read-back schema (the written DataFrame's)
    equals what inference gives for the staged files."""
    from meos_rs_spark.functions import staging
    from meos_rs_spark.registry import load_registry

    staged = []
    inner = staging.stage

    def recording_stage(df, name):
        out = inner(df, name)
        staged.append((name, out))
        return out

    monkeypatch.setattr(staging, "stage", recording_stage)
    load_registry()[query].fn(spark, SF_SMOKE)
    assert staged, query
    for name, out in staged:
        inferred = spark.read.parquet(staging.staged_table_path(spark, name)).schema
        assert out.schema == inferred, (query, name)
