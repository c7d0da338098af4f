"""SparkSession factory + session normalization.

The driver owns the SparkSession for ``__spark_entry__`` calls, so anything
our queries depend on must be *runtime-settable* SQL confs applied lazily by
:func:`prepare_session` — never builder-time configs.

Scale notes (local[32] here, 1000-executor cluster in spirit):
  * AQE on — runtime coalescing / skew-join splitting replaces hand-tuned
    shuffle partition counts at 100 TB.
  * Arrow on — every pandas_udf / toPandas crosses JVM<->Python via Arrow
    batches instead of pickled rows.
  * session TZ pinned UTC — the reference always works in UTC
    (``meos/examples/04_to_file.rs:147`` appends ``+00``); SURVEY §7
    known-hard (d).
  * legacy nanosAsLong — earlier fixture generations stored ``events.ts`` as
    TIMESTAMP(NANOS), which Spark's parquet reader otherwise rejects; kept on
    so those files read as int64 nanos (sources.tables normalizes either
    generation). Harmless for the current timestamp[us] fixtures.
"""

from __future__ import annotations

import os

from pyspark.errors import PySparkException
from pyspark.sql import SparkSession

# Runtime-settable confs every entry point applies (idempotent).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # parallelismFirst defaults true, which coalesces only down to the
    # session's defaultParallelism — i.e. effectively never for small
    # shuffles, leaving every tiny post-shuffle stage at 32 near-empty
    # tasks (and staged tables at 32 near-empty files). False = coalesce
    # by the advisory partition size, the documented production setting;
    # map-side work keeps the scan's parallelism either way.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}
# Deliberately NOT set (r13, measured then reverted):
# spark.sql.files.openCostInBytes=256k splits the dense 12 MB sf0.1
# events.parquet into 8 scan tasks instead of 1, which LOOKED like a 35%
# win in a sequential A/B — but a per-rep interleaved toggle on the same
# body measured no difference (the vessel-key window shuffle, not the
# scan, dominates these bodies), and a full bench sitting under the conf
# was flat. Sequential A/Bs on this shared box confuse drift for effect;
# keep split sizing at Spark defaults until an interleaved measurement
# says otherwise.


# Confs whose failure to apply breaks queries outright (vs. merely degrading
# performance): the UTC pin gates every timestamp comparison against the
# naive-UTC oracle. (nanosAsLong is compat-only now — the current fixtures
# are timestamp[us]; if a nanos-generation file reappears without the conf,
# the parquet reader fails loudly on its own.)
_REQUIRED_CONFS = ("spark.sql.session.timeZone",)


def prepare_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-owned session (driver's)."""
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except PySparkException as e:
            # Spark's own refusal (an unmodifiable conf, classic or Connect);
            # any other error is a bug and propagates.
            if key in _REQUIRED_CONFS:
                raise RuntimeError(
                    f"required conf {key}={value} could not be applied; "
                    "the events reader and timestamp normalization depend on it"
                ) from e
            # Optional perf confs (AQE/Arrow): degrade gracefully.
    return spark


def get_spark(
    app_name: str = "meos-rs-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a local session (tests / bench.py). Driver paths never call this."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return prepare_session(spark)
