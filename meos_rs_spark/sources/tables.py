"""Fixture table loaders (Parquet scans, SURVEY §2.1 S1-S4).

The reference scans CSV two ways — serde row-typed
(``meos/examples/04_to_file.rs:69-84``) and Polars lazy multi-file
(``meos-polars/examples/ais_to_db.rs:118-120``). Our sources are the driver's
parquet fixtures. Like the serde scan, the loaders declare each table's row
type up front (:data:`SCHEMAS`) instead of letting Spark infer it: inference
runs a one-task job per read to fetch the footer, which was the largest part
of building a query on the driver. A declared schema would read a column the
file lacks as NULLs, so :func:`declared_schema` first reads each file's
footer on the driver with pyarrow (a fraction of a millisecond, no job) and
raises on a missing column. Nothing is remembered across calls: every read
checks its footers again.

``events.ts`` normalization is schema-adaptive because the driver has shipped
two fixture generations: TIMESTAMP(NANOS,false) (readable only via
``spark.sql.legacy.parquet.nanosAsLong=true``, surfacing int64 nanos) and
plain ``timestamp[us]`` (read as TIMESTAMP_NTZ). The footer picks which type
a timestamp column is declared as, the way inference would. Either way the
loader emits:

  * ``ts``     TIMESTAMP_NTZ at microsecond precision (the nanos generation is
               truncated, matching DuckDB's nanos→micros parquet truncation) —
               built TZ-independently so a non-UTC driver session cannot skew it
  * ``ts_ns``  int64 epoch nanos (strict-ordering column for the monotonic
               dedup filter, reference 04_to_file.rs:92-96; derived micros*1000
               under the micros generation)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from meos_rs_spark.session import prepare_session


def _schema(*fields: tuple[str, DataType]) -> StructType:
    return StructType([StructField(name, dtype, True) for name, dtype in fields])


_INT, _LONG, _DOUBLE, _STR, _TS = (
    IntegerType(),
    LongType(),
    DoubleType(),
    StringType(),
    TimestampNTZType(),
)

#: The ten fixture tables' schemas, exactly as Spark infers them from the
#: driver's parquet files (tests/test_tables_schema.py pins the equality).
#: Timestamp columns are the ``timestamp[us]`` generation's TIMESTAMP_NTZ;
#: :func:`declared_schema` adapts them to the file actually read.
SCHEMAS: dict[str, StructType] = {
    "region": _schema(("r_regionkey", _INT), ("r_name", _STR)),
    "nation": _schema(("n_nationkey", _INT), ("n_name", _STR), ("n_regionkey", _INT)),
    "customer": _schema(
        ("c_custkey", _LONG),
        ("c_name", _STR),
        ("c_nationkey", _INT),
        ("c_acctbal", _DOUBLE),
        ("c_mktsegment", _STR),
    ),
    "supplier": _schema(
        ("s_suppkey", _LONG), ("s_name", _STR), ("s_nationkey", _INT), ("s_acctbal", _DOUBLE)
    ),
    "part": _schema(
        ("p_partkey", _LONG),
        ("p_name", _STR),
        ("p_brand", _STR),
        ("p_type", _STR),
        ("p_size", _INT),
        ("p_retailprice", _DOUBLE),
    ),
    "orders": _schema(
        ("o_orderkey", _LONG),
        ("o_custkey", _LONG),
        ("o_orderstatus", _STR),
        ("o_totalprice", _DOUBLE),
        ("o_orderdate", _TS),
        ("o_orderpriority", _STR),
    ),
    "lineitem": _schema(
        ("l_orderkey", _LONG),
        ("l_partkey", _LONG),
        ("l_suppkey", _LONG),
        ("l_linenumber", _INT),
        ("l_quantity", _DOUBLE),
        ("l_extendedprice", _DOUBLE),
        ("l_discount", _DOUBLE),
        ("l_tax", _DOUBLE),
        ("l_returnflag", _STR),
        ("l_linestatus", _STR),
        ("l_shipdate", _TS),
    ),
    "events": _schema(
        ("event_id", _LONG),
        ("ts", _TS),
        ("user_id", _LONG),
        ("event_type", _STR),
        ("value", _DOUBLE),
        ("props", _STR),
    ),
    "documents": _schema(
        ("doc_id", _LONG), ("text", _STR), ("lang", _STR), ("source", _STR), ("n_chars", _LONG)
    ),
    "embeddings": _schema(
        ("vec_id", _LONG), ("embedding", ArrayType(FloatType(), True)), ("label", _INT)
    ),
}

TABLE_NAMES = tuple(SCHEMAS)

MICROS_PER_DAY = 86_400_000_000


def _normalize_events(df: DataFrame) -> DataFrame:
    from pyspark.sql.types import LongType

    if isinstance(df.schema["ts"].dataType, LongType):
        # nanos fixture generation: int64 nanos -> TIMESTAMP_NTZ(micros),
        # without going through a double (1.7e18 exceeds 2^53) and without
        # session-TZ-dependent casts. `div 1000` truncates toward zero;
        # DuckDB's parquet reader truncates nanos to micros the same way for
        # the post-epoch timestamps in the fixtures (all 2024), so the oracle
        # side (`events` registered directly on the parquet) sees identical ts.
        ntz = F.expr(
            f"timestampadd(MICROSECOND, (ts div 1000) % {MICROS_PER_DAY}, "
            f"CAST(date_add(DATE '1970-01-01', CAST((ts div 1000) div {MICROS_PER_DAY} AS INT)) "
            f"AS TIMESTAMP_NTZ))"
        )
        ts_ns = F.col("ts")
    else:
        # micros fixture generation: parquet timestamp[us] (isAdjustedToUTC =
        # false) arrives as the declared TIMESTAMP_NTZ, or as TIMESTAMP for a
        # UTC-adjusted file (or a URI path under a session that disables
        # inferTimestampNTZ) — the latter's cast to TIMESTAMP_NTZ goes
        # through the session TZ, which the UTC session pin
        # (prepare_session) makes lossless. ts_ns derives from the SAME ntz
        # expression (not the raw ts column), so ts and ts_ns can never skew
        # apart regardless of which physical type the fixture surfaced as.
        ntz = F.col("ts").cast("timestamp_ntz")
        ntz_sql = "CAST(ts AS TIMESTAMP_NTZ)"
        ts_ns = (
            F.datediff(F.to_date(ntz), F.lit("1970-01-01")).cast("long")
            * F.lit(MICROS_PER_DAY)
            + F.expr(
                f"timestampdiff(MICROSECOND, CAST(CAST({ntz_sql} AS DATE) AS TIMESTAMP_NTZ), {ntz_sql})"
            )
        ) * F.lit(1000)
    return df.select(
        "event_id",
        ntz.alias("ts"),
        ts_ns.alias("ts_ns"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def _footer_types(spark: SparkSession, path: str) -> list[tuple[str, dict[str, object]]]:
    """(file, {column: type}) for each parquet file ``path`` names.

    Local paths read each footer with pyarrow on the driver; a directory
    contributes its data files (Spark's hidden ``_``/``.`` files skipped).
    A URI has no driver-side reader here, so Spark infers its schema (one
    job) and the whole path counts as one file."""
    if "://" in path:
        return [(path, {f.name: f.dataType for f in spark.read.parquet(path).schema})]
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(path, f))
        )
    else:
        files = [path]
    out = []
    for f in files:
        schema = pq.read_schema(f)
        out.append((f, dict(zip(schema.names, schema.types))))
    return out


def _timestamp_type(found: object) -> DataType:
    """The Spark type inference gives a parquet timestamp column: int64
    under nanosAsLong for nanos, TIMESTAMP for UTC-adjusted instants,
    TIMESTAMP_NTZ otherwise."""
    import pyarrow as pa

    if isinstance(found, DataType):  # inferred by Spark (URI path)
        return found
    if pa.types.is_timestamp(found):
        if found.unit == "ns":
            return LongType()
        if found.tz is not None:
            return TimestampType()
    return TimestampNTZType()


def declared_schema(spark: SparkSession, path: str, name: str) -> StructType:
    """The schema to read fixture table ``name`` at ``path`` with.

    :data:`SCHEMAS`, with each timestamp column typed from the first file's
    footer. Raises ValueError when ``path`` holds no data file or a file
    lacks a declared column, which a declared-schema read would otherwise
    return as an empty table or as NULLs."""
    schema = SCHEMAS[name]
    footers = _footer_types(spark, path)
    if not footers:
        raise ValueError(f"fixture table {name!r} at {path} has no data files")
    for f, types in footers:
        missing = [c for c in schema.names if c not in types]
        if missing:
            raise ValueError(f"fixture table {name!r} at {f} lacks columns {missing}")
    first = footers[0][1]
    return StructType(
        [
            StructField(fld.name, _timestamp_type(first[fld.name]), True)
            if isinstance(fld.dataType, TimestampNTZType)
            else fld
            for fld in schema.fields
        ]
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with normalized column types."""
    prepare_session(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(declared_schema(spark, path, name)).parquet(path)
    if name == "events":
        df = _normalize_events(df)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}
