"""stream_dedup_watermark's global-dedup oracle is only exact while the
watermark delay exceeds the fixture's whole event-time span (duplicates can
then never age out of dedup state, whatever the micro-batching). Pin that
precondition here so a fixture regeneration that widens the span fails loudly
instead of silently breaking the streaming parity hash.

The streams' runtime bounds are pinned here too: the state-partition count
each stream session is created with, and that streams leave the caller's
session conf alone."""

from __future__ import annotations

import os

import duckdb
import pytest

from meos_rs_spark.queries.streaming import DEDUP_WATERMARK, _state_partitions
from tests.conftest import SF_SMOKE

SF_DIRS = [f"/root/testdata/sf{sf}" for sf in ("0.001", "0.01", "0.1")]


def test_watermark_covers_event_span():
    n, unit = DEDUP_WATERMARK.split()
    assert unit in ("day", "days")
    delay_days = int(n)
    for sf_dir in SF_DIRS:
        (span_days,) = duckdb.sql(
            f"SELECT date_diff('day', min(ts), max(ts)) FROM '{sf_dir}/events.parquet'"
        ).fetchone()
        assert span_days < delay_days, (sf_dir, span_days, delay_days)


def _sized(path: str, n_bytes: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.truncate(n_bytes)


def test_stream_state_partitions_policy(spark, tmp_path):
    """~1 state partition per MiB of the stream's source file, clamped to
    [4, 200]."""
    assert _state_partitions(spark, os.path.join(SF_DIRS[2], "events.parquet")) == 4  # 2 MB
    src = str(tmp_path / "events.parquet")
    _sized(src, 20 << 20)
    assert _state_partitions(spark, src) == 20
    _sized(src, 1 << 30)
    assert _state_partitions(spark, src) == 200


def test_stream_state_partitions_uri_matches_local(spark, tmp_path):
    """A URI-form source gets the same count as the plain local path (an
    os.path-only probe read 0 bytes for any URI and floored at 4). file://
    goes through the same Hadoop FileSystem call an s3a:// or hdfs://
    deployment takes. A directory source is sized recursively, so a
    partitioned (nested) layout counts every file."""
    src = str(tmp_path / "events.parquet")
    _sized(src, 20 << 20)
    assert _state_partitions(spark, src) == 20
    assert _state_partitions(spark, "file://" + src) == 20
    nested = tmp_path / "nested.parquet"
    _sized(str(nested / "day=1" / "part-0.parquet"), 15 << 20)
    _sized(str(nested / "day=2" / "hour=3" / "part-0.parquet"), 10 << 20)
    assert _state_partitions(spark, str(nested)) == 25
    assert _state_partitions(spark, "file://" + str(nested)) == 25


@pytest.mark.parametrize("preset", ["13", None], ids=["set", "unset"])
def test_streams_share_one_stream_session(spark, preset):
    """Streams run on one memoized stream session sized by
    ``_state_partitions``; the caller's shuffle-partition count is never
    touched, whether it was set explicitly or left unset."""
    from meos_rs_spark.queries.streaming import (
        stream_stateful_assembly,
        stream_tumbling_counts,
    )

    key = "spark.sql.shuffle.partitions"
    caller_conf = spark._jsparkSession.sessionState().conf()
    original = spark.conf.get(key)
    if preset is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, preset)
    before = spark.conf.get(key)
    try:
        frames = [
            fn(spark, SF_SMOKE)
            for fn in (stream_tumbling_counts, stream_stateful_assembly) * 2
        ]
        assert spark.conf.get(key) == before
        assert caller_conf.contains(key) == (preset is not None)
    finally:
        spark.conf.set(key, original)
    session = frames[0].sparkSession
    assert session is not spark
    assert all(df.sparkSession is session for df in frames)
    n = _state_partitions(spark, os.path.join(SF_SMOKE, "events.parquet"))
    assert session.conf.get(key) == str(n)
    assert all(df.count() > 0 for df in frames)
