"""Staging-table lifecycle: every stage() rewrites, liveness markers, and
stale-sibling pruning (ADVICE r4: mtime-based pruning could delete a
>24h-old but still-live session's tables)."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from meos_rs_spark.functions import staging


def _part_files(path: str) -> set[str]:
    return {f for f in os.listdir(path) if f.endswith(".parquet")}


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _parquet(spark, path: str, v: str):
    spark.range(10).withColumn("v", F.lit(v)).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


#: case -> (first build, second build), each ``(spark, tmp_path) -> DataFrame``;
#: the second build is staged under the same name as the first
_RESTAGE_CASES = {
    "identical_plan": (
        lambda s, t: s.range(64).withColumn("v", F.col("id") + 1),
        lambda s, t: s.range(64).withColumn("v", F.col("id") + 1),
    ),
    "changed_plan": (lambda s, t: s.range(10), lambda s, t: s.range(20)),
    # one source dir, rewritten in place between the two stages
    "rewritten_source": (
        lambda s, t: _parquet(s, str(t / "src"), "old"),
        lambda s, t: _parquet(s, str(t / "src"), "new"),
    ),
    # identical plan text over two fixture dirs: a parquet scan renders as
    # ``Relation [cols] parquet`` with no path
    "two_fixture_dirs": (
        lambda s, t: _parquet(s, str(t / "sfA"), "A"),
        lambda s, t: _parquet(s, str(t / "sfB"), "B"),
    ),
    # in-memory rows live in neither the plan text nor the input-file list
    "in_memory_rows": (
        lambda s, t: s.createDataFrame([(1, "one")], "id long, v string"),
        lambda s, t: s.createDataFrame([(2, "two")], "id long, v string"),
    ),
}


@pytest.mark.parametrize("case", sorted(_RESTAGE_CASES))
def test_restage_rewrites_and_serves_the_new_rows(spark, tmp_path, case):
    """Every stage() writes fresh part-files and scans back exactly the rows
    of the frame just staged, whatever the name held before — the cases are
    the ways a reused staged table would serve stale rows."""
    first, second = _RESTAGE_CASES[case]
    name = f"restage_{case}"
    path = staging.staged_table_path(spark, name)
    df1 = first(spark, tmp_path)
    assert _rows(staging.stage(df1, name)) == _rows(df1)
    before = _part_files(path)
    df2 = second(spark, tmp_path)
    assert _rows(staging.stage(df2, name)) == _rows(df2)
    assert before and _part_files(path).isdisjoint(before)


def test_estimate_single_stage_per_build(spark):
    """dedup_minhash_estimate must stage its signature ONCE per build: a
    second same-name stage() while the first build's scans are live would
    overwrite the part-files those scans already resolved — FILE_NOT_EXIST
    at collect (late-r6 review finding,
    fixed by sharing one _staged_sig frame through _lsh_scored)."""
    from meos_rs_spark.registry import load_registry
    from tests.conftest import SF_SMOKE

    df = load_registry()["dedup_minhash_estimate"].fn(spark, SF_SMOKE)
    assert df.count() > 0


def test_fan_out_force_skips_the_rdd_probe(spark):
    """force=True must never touch df.rdd: the scan-split probe answers the
    wrong question for group-exchange callers (r8 ADVICE item 1)."""
    df = spark.range(100).withColumn("k", F.col("id") % 7)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(
            type(df),
            "rdd",
            property(lambda self: (_ for _ in ()).throw(RuntimeError("no rdd"))),
        )
        out = staging.fan_out(df, "k", force=True)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


@pytest.mark.parametrize("force", [True, False], ids=["forced", "unforced"])
def test_fan_out_raises_without_a_spark_context(spark, force):
    """fan_out sizes its exchange from the session's SparkContext; a
    session without one (Spark Connect, which the package does not
    support) must fail loudly instead of picking another partition count
    or skipping the repartition."""
    df = spark.range(100).withColumn("k", F.col("id") % 7)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(
            type(spark),
            "sparkContext",
            property(lambda self: (_ for _ in ()).throw(RuntimeError("no SparkContext"))),
        )
        with pytest.raises(RuntimeError, match="no SparkContext"):
            staging.fan_out(df, "k", force=force)


def test_is_local_root():
    assert staging._is_local_root("/tmp/meos_rs_staging")
    assert staging._is_local_root("file:///tmp/meos_rs_staging")
    assert not staging._is_local_root("hdfs://nn:8020/scratch")
    assert not staging._is_local_root("s3a://bucket/scratch")


def test_live_marker_exists_and_refreshes(spark):
    staging.stage(spark.range(5), "live_probe")
    app_dir = os.path.dirname(staging.staged_table_path(spark, "live_probe"))
    marker = os.path.join(app_dir, staging._LIVE_MARKER)
    assert os.path.exists(marker)
    old = time.time() - 3600
    os.utime(marker, (old, old))
    # every stage() call refreshes liveness
    staging.stage(spark.range(5), "live_probe")
    assert os.path.getmtime(marker) > old + 1800


def _make_app_dir(root: str, name: str, marker_pid=None, marker_age=None, dir_age=None):
    p = os.path.join(root, name)
    os.makedirs(p)
    if marker_pid is not None:
        marker = os.path.join(p, staging._LIVE_MARKER)
        with open(marker, "w") as f:
            f.write(str(marker_pid))
        if marker_age is not None:
            t = time.time() - marker_age
            os.utime(marker, (t, t))
    if dir_age is not None:
        t = time.time() - dir_age
        os.utime(p, (t, t))
    return p


def test_stale_sibling_pruning_respects_liveness(tmp_path):
    root = str(tmp_path)
    stale = staging._STALE_AFTER_S + 60
    # guaranteed-dead PID: fork a child that exits immediately
    dead_pid = os.fork()
    if dead_pid == 0:
        os._exit(0)
    os.waitpid(dead_pid, 0)

    # dead session: marker beyond the cutoff, owner PID gone -> pruned
    dead = _make_app_dir(root, "app-dead", marker_pid=dead_pid, marker_age=stale)
    # marker fresh (session called stage() recently) -> kept
    fresh = _make_app_dir(root, "app-fresh", marker_pid=dead_pid, marker_age=0)
    # >24h session that staged early but whose OWNER PROCESS is still alive
    # (here: this very process) -> kept even though the marker mtime is stale
    idle_live = _make_app_dir(
        root, "app-idle-live", marker_pid=os.getpid(), marker_age=stale
    )
    # pre-marker legacy dir, stale by dir mtime -> pruned
    legacy = _make_app_dir(root, "app-legacy", dir_age=stale)

    me = os.path.join(root, "app-me")
    os.makedirs(me)
    staging._register_cleanup(me, root)

    assert not os.path.isdir(dead)
    assert not os.path.isdir(legacy)
    assert os.path.isdir(fresh)
    assert os.path.isdir(idle_live)
    assert os.path.isdir(me)
