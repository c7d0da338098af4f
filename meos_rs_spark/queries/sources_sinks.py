"""Sources & sinks (SURVEY.md §2.1 S1-S8).

The reference's connectors: serde CSV scan (``meos/examples/
04_to_file.rs:69-84``), Polars lazy multi-file CSV (``ais_to_db.rs:
118-120``), JSON-lines sink (``04_to_file.rs:131-144``), Postgres upsert
with server-side temporal merge (``ais_to_db.rs:156-161``), bootstrap DDL
(``:12-24``), pooled/partitioned load (``:89-98,202-212``).

Spark equivalents here run a real write → read-back → verify cycle against
scratch space, then return a summary frame the DuckDB oracle reproduces
from the original parquet — proving the connector round-trip is lossless.
Only loss-free column types cross the CSV boundary (ints/strings); doubles
and timestamps take the parquet path, so no formatting ambiguity enters
the hash.

There is no Postgres in this environment, so the S6 upsert sink targets a
parquet-backed store with the same merge semantics (the temporal merge
itself is the A6 Column implementation — engine-side, exactly where the
reference runs it server-side).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from meos_rs_spark.functions.staging import scratch_path
from meos_rs_spark.functions.trajectory import (
    DEDUP_QUALIFY,
    DEDUP_XY_CTE,
    POSITS_CTE,
    POSITS_XY_CTE,
    assemble,
    end_ts,
    merge_trajs,
    num_instants,
    posits_xy,
    start_ts,
)
from meos_rs_spark.registry import register
from meos_rs_spark.sources.tables import TABLE_NAMES, load_table


# --- S1/S2: CSV scan (explicit schema, header, multi-file glob) ------------

_CSV_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
    ]
)


@register(
    "src_csv_roundtrip",
    oracle="""
SELECT event_type,
       count(*) AS n,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(event_id) AS BIGINT) AS sum_ids
FROM events GROUP BY event_type
""",
    tags=("S1", "S2"),
    doc="CSV connector: write 4-file CSV with header, re-scan via directory glob with "
    "explicit schema (04_to_file.rs:69-84 serde scan + ais_to_db.rs:118-120 multi-file), "
    "aggregate must equal the parquet source",
)
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_path(spark, sf_dir, "events_csv")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    ev.repartition(4).write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.schema(_CSV_SCHEMA).option("header", True).csv(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("event_id").alias("sum_ids"),
    )


# --- S5: JSON-lines file sink ----------------------------------------------


@register(
    "snk_jsonl_trips",
    oracle=f"""
WITH {DEDUP_XY_CTE}
SELECT mmsi AS id, count(*) AS n_instants, epoch_us(min(ts)) AS start_us
FROM dedup GROUP BY mmsi HAVING count(*) >= 2
""",
    tags=("S5", "E2"),
    doc='JSON-lines trajectory sink ({"id":…,"n_instants":…} per line, 04_to_file.rs:131-144): '
    "write text JSON, re-read with from_json, summary must survive the round-trip",
)
def snk_jsonl_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_path(spark, sf_dir, "trips_jsonl")
    trips = assemble(posits_xy(spark, sf_dir), min_size=2)
    lines = trips.select(
        F.to_json(
            F.struct(
                F.col("mmsi").alias("id"),
                F.col("n_instants"),
                F.expr("unix_micros(CAST(traj.points[0].ts AS TIMESTAMP))").alias("start_us"),
            )
        ).alias("value")
    )
    lines.write.mode("overwrite").text(path)
    back = spark.read.text(path).select(
        F.from_json("value", "id long, n_instants long, start_us long").alias("j")
    )
    return back.select(
        F.col("j.id").alias("id"),
        F.col("j.n_instants").alias("n_instants"),
        F.col("j.start_us").alias("start_us"),
    )


# --- S6: upsert sink with temporal merge -----------------------------------


@register(
    "snk_upsert_merge",
    oracle=f"""
WITH {POSITS_XY_CTE},
merged AS (
  -- arrival-order (event_id) dedup, matching dedup_monotonic inside each
  -- half's assemble: duplicates never straddle the time-split halves, so
  -- this is the whole pipeline's collision rule (the old ORDER BY lon,
  -- lat pinned a value-ordered rule the engine never implemented —
  -- latent while the fixture has no duplicate (mmsi, ts) groups)
  SELECT * FROM posits
  {DEDUP_QUALIFY}
)
SELECT mmsi, count(*) AS n_points, min(ts) AS t_start, max(ts) AS t_end
FROM merged GROUP BY mmsi
""",
    tags=("S6", "A6"),
    doc="INSERT…ON CONFLICT DO UPDATE SET trip=public.update(old,new,true) analog "
    "(ais_to_db.rs:156-161): store first-half trajectories, upsert second half with the "
    "A6 merge, read the store back — equals whole-set assembly",
)
def snk_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_path(spark, sf_dir, "trips_store")
    pts = posits_xy(spark, sf_dir)
    # split point stays engine-side as an uncorrelated scalar subquery (the
    # cb12afe idiom): no driver .collect() round-trip AND no join operator —
    # the crossJoin(broadcast(1-row)) it replaces planned a
    # BroadcastNestedLoopJoin inside the eager write legs, where the
    # registry-wide lint (which sees only the returned plan) couldn't fence
    # it (review find, r7)
    mid_ts = pts.agg(
        F.expr(
            "timestampadd(MICROSECOND, (unix_micros(CAST(max(ts) AS TIMESTAMP)) "
            "- unix_micros(CAST(min(ts) AS TIMESTAMP))) div 2, min(ts))"
        ).alias("mid_ts")
    ).scalar()
    split = pts.withColumn("mid_ts", mid_ts)

    first = assemble(split.filter(F.col("ts") <= F.col("mid_ts")).drop("mid_ts"), min_size=1)
    first.write.mode("overwrite").parquet(path)

    store = spark.read.parquet(path).select("mmsi", F.col("traj").alias("old_traj"))
    incoming = assemble(split.filter(F.col("ts") > F.col("mid_ts")).drop("mid_ts"), min_size=1).select(
        "mmsi", F.col("traj").alias("new_traj")
    )
    empty = F.struct(
        F.lit("Linear").alias("interp"),
        F.lit(True).alias("lower_inc"),
        F.lit(True).alias("upper_inc"),
        F.expr("CAST(array() AS ARRAY<STRUCT<ts: TIMESTAMP_NTZ, lon: DOUBLE, lat: DOUBLE>>)").alias("points"),
    )
    merged = store.join(incoming, "mmsi", "full").select(
        "mmsi",
        merge_trajs(
            F.coalesce(F.col("old_traj"), empty), F.coalesce(F.col("new_traj"), empty)
        ).alias("traj"),
    )
    upserted = scratch_path(spark, sf_dir, "trips_store_v2")
    merged.write.mode("overwrite").parquet(upserted)
    back = spark.read.parquet(upserted)
    t = F.col("traj")
    return back.select(
        "mmsi",
        num_instants(t).alias("n_points"),
        start_ts(t).alias("t_start"),
        end_ts(t).alias("t_end"),
    )


# --- S7: catalog bootstrap DDL ---------------------------------------------


@register(
    "src_catalog_bootstrap",
    oracle="""
SELECT 'customer' AS tbl, count(*) AS n FROM customer
UNION ALL SELECT 'events', count(*) FROM events
UNION ALL SELECT 'lineitem', count(*) FROM lineitem
UNION ALL SELECT 'orders', count(*) FROM orders
""",
    tags=("S7",),
    doc="DDL/catalog bootstrap (ais_to_db.rs:12-24): register temp views for every "
    "fixture, then query through spark.sql against the catalog",
)
def src_catalog_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(f"meos_{name}")
    return spark.sql(
        """
        SELECT 'customer' AS tbl, count(*) AS n FROM meos_customer
        UNION ALL SELECT 'events', count(*) FROM meos_events
        UNION ALL SELECT 'lineitem', count(*) FROM meos_lineitem
        UNION ALL SELECT 'orders', count(*) FROM meos_orders
        """
    )


# --- S8: partitioned parallel sink -----------------------------------------


@register(
    "snk_partitioned_write",
    oracle="""
SELECT o_orderstatus, count(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY o_orderstatus
""",
    tags=("S8",),
    doc="partitioned sink (deadpool/async batch analog, ais_to_db.rs:89-98,202-212): "
    "write orders hive-partitioned by status, re-scan with partition pruning, aggregate",
)
def snk_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.determinism import money_sum

    path = scratch_path(spark, sf_dir, "orders_by_status")
    o = load_table(spark, sf_dir, "orders")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), money_sum("o_totalprice").alias("total")
    )


# --- S8+: bucketed tables → co-located (exchange-free) join ----------------


@register(
    "snk_bucketed_join",
    oracle="""
SELECT c.c_mktsegment, count(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
""",
    tags=("S8", "J1"),
    doc="bucketed-table co-location: write orders+customer bucketed by custkey, "
    "sort-merge join them WITHOUT a shuffle on either side (the 100 TB co-located "
    "join pattern; exchange-free plan asserted in tests/test_plans.py)",
)
def snk_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.determinism import money_sum

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    for name, df, key in (
        (f"meos_bkt_orders_{tag}", load_table(spark, sf_dir, "orders"), "o_custkey"),
        (f"meos_bkt_customer_{tag}", load_table(spark, sf_dir, "customer"), "c_custkey"),
    ):
        (
            df.write.mode("overwrite")
            .option("path", scratch_path(spark, sf_dir, name))
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    o = spark.table(f"meos_bkt_orders_{tag}")
    c = spark.table(f"meos_bkt_customer_{tag}")
    return (
        o.hint("merge")
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"), money_sum("o_totalprice").alias("revenue"))
    )


# --- S4+: partition-pruned scan --------------------------------------------


@register(
    "src_partition_pruning",
    oracle="""
SELECT o_orderpriority, count(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
""",
    tags=("S4", "S8"),
    doc="partition pruning: hive-partitioned layout scanned with an equality "
    "filter on the partition column — the scan must touch ONLY the matching "
    "directory (PartitionFilters in the plan, asserted in tests/test_plans.py); "
    "at 100 TB this is the difference between reading one partition and all of "
    "them",
)
def src_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.determinism import money_sum

    path = scratch_path(spark, sf_dir, "orders_by_status_pruned")
    o = load_table(spark, sf_dir, "orders")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), money_sum("o_totalprice").alias("total")
    )


# --- S4+: schema evolution across parquet file generations ------------------


@register(
    "src_schema_evolution",
    oracle="""
WITH unioned AS (
  SELECT o_orderkey, o_totalprice, NULL AS o_clerk_tag FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, o_totalprice, o_orderpriority AS o_clerk_tag FROM orders WHERE o_orderkey % 2 = 1
)
SELECT count(*) AS n_total,
       count(o_clerk_tag) AS n_with_tag,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM unioned
""",
    tags=("S4",),
    doc="schema evolution: two parquet generations (v1 without, v2 with an added "
    "column) read as ONE dataset via mergeSchema — missing columns surface as "
    "NULL, the lakehouse contract for additive schema change; aggregation "
    "proves both generations scanned",
)
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.determinism import money_sum

    path = scratch_path(spark, sf_dir, "orders_evolving")
    o = load_table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", F.col("o_orderpriority").alias("o_clerk_tag")
    )
    v1.write.mode("overwrite").parquet(f"{path}/gen=1")
    v2.write.mode("overwrite").parquet(f"{path}/gen=2")
    back = spark.read.option("mergeSchema", "true").parquet(f"{path}/gen=1", f"{path}/gen=2")
    return back.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count("o_clerk_tag").alias("n_with_tag"),
        money_sum("o_totalprice").alias("total"),
    )


# --- S4 twin: ORC columnar round-trip --------------------------------------


@register(
    "src_orc_roundtrip",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       min(ts) AS t_min,
       max(ts) AS t_max
FROM events GROUP BY event_type
""",
    tags=("S4",),
    doc="second columnar format: write events to ORC (snappy), re-scan, and "
    "aggregate — unlike the CSV round-trip this carries native TIMESTAMP and "
    "DOUBLE types through the file boundary, so the re-read needs no re-cast "
    "and predicate/column pushdown still applies to the ORC scan; the "
    "aggregate must equal the parquet source exactly",
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.determinism import money_sum

    path = scratch_path(spark, sf_dir, "events_orc")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    ev.repartition(4).write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        money_sum("value").alias("sum_value"),
        F.min("ts").alias("t_min"),
        F.max("ts").alias("t_max"),
    )


# --- S1 robustness: malformed-row CSV ingestion (PERMISSIVE) -----------------

_CORRUPT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("value", DoubleType()),
        StructField("_corrupt", StringType()),
    ]
)


@register(
    "src_csv_malformed",
    oracle="""
SELECT count(*) AS n_rows,
       -- NULL-safe planted-row predicate: a NULL event_id row round-trips
       -- as a good row with an empty key field (arity preserved), it is
       -- not one of the planted corruptions (r12 adversarial sweep)
       CAST(SUM(CASE WHEN COALESCE(event_id % 10 = 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
       CAST(SUM(CASE WHEN COALESCE(event_id % 10 = 0, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS n_good,
       CAST(SUM(CASE WHEN NOT COALESCE(event_id % 10 = 0, FALSE)
                     THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_good_value
FROM events
""",
    tags=("S1",),
    doc="dirty-data ingestion: every 10th event row is written with a "
    "non-numeric value field, then re-read under PERMISSIVE mode with a "
    "columnNameOfCorruptRecord column — malformed rows survive (raw line "
    "captured, bad field NULL) instead of failing the job, and the summary "
    "proves exactly the planted rows were quarantined; the 100 TB posture: "
    "never let one bad line kill an ingest, and keep the corrupt-row count "
    "observable",
)
def src_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.determinism import money_sum

    path = scratch_path(spark, sf_dir, "events_dirty_csv")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    # concat over coalesce-to-empty, NOT concat_ws: concat_ws SKIPS NULL
    # arguments, so a NULL field silently collapses the CSV arity and the
    # remaining fields shift one column left on re-read (a NULL event_id
    # row misparsed its user_id AS the event_id — r12 adversarial sweep).
    # A CSV writer must render NULL as an EMPTY field, preserving arity.
    f = lambda c: F.coalesce(c.cast("string"), F.lit(""))  # noqa: E731
    lines = ev.select(
        F.concat(
            f(F.col("event_id")),
            F.lit(","),
            f(F.col("user_id")),
            F.lit(","),
            F.when(
                F.col("event_id") % 10 == 0, F.lit("not-a-number")
            ).otherwise(f(F.col("value"))),
        ).alias("value")
    )
    lines.repartition(4).write.mode("overwrite").text(path)
    back = (
        spark.read.schema(_CORRUPT_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0)).cast("bigint").alias("n_bad"),
        F.sum(F.when(F.col("_corrupt").isNull(), 1).otherwise(0)).cast("bigint").alias("n_good"),
        money_sum(F.when(F.col("_corrupt").isNull(), F.col("value"))).alias("sum_good_value"),
    )


# --- S-family: custom Python DataSource (Spark 4 connector API) --------------


@register(
    "src_python_datasource",
    oracle=f"""
WITH {POSITS_CTE}
SELECT mmsi,
       count(*) AS n_posits,
       min(ts) AS t_first,
       CAST(SUM(CAST(lon AS DECIMAL(18,2))) AS DOUBLE) AS sum_lon
FROM posits
-- mmsi joined the envelope in r12: a 'mmsi;POINT(...)' line without a key
-- renders as a NULL line (concat over NULL), which the text sink/reader
-- grammar drops silently while this count kept the group
WHERE mmsi IS NOT NULL AND lon IS NOT NULL AND lat IS NOT NULL AND ts IS NOT NULL
GROUP BY mmsi
""",
    tags=("S1", "F1"),
    doc="custom connector via the Spark 4 Python DataSource API: posits are "
    "serialized as 'mmsi;POINT(lon lat)@ts+00' text lines (the reference's "
    "EWKT ingest grammar, 04_to_file.rs:146-148), then re-read with "
    "spark.read.format('wktposits') — a registered first-class source whose "
    "partitions() yields one InputPartition per file, so the scan "
    "parallelizes across executors like any built-in format; the per-vessel "
    "summary must equal the parquet source exactly",
)
def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.determinism import money_sum
    from meos_rs_spark.functions.trajectory import point_wkt, posits
    from meos_rs_spark.sources.wkt_source import register_wkt_source

    path = scratch_path(spark, sf_dir, "posits_wkt")
    # a NULL-position posit has no WKT point representation: the concat
    # renders it as a NULL line (which the text sink rejects or the reader
    # grammar drops, depending on version — either way silently). The
    # serialization envelope is made EXPLICIT in both legs instead (r11
    # review): non-null lon/lat/ts, mirrored in the oracle's WHERE.
    lines = (
        posits(spark, sf_dir)
        .filter(
            F.col("mmsi").isNotNull()
            & F.col("lon").isNotNull()
            & F.col("lat").isNotNull()
            & F.col("ts").isNotNull()
        )
        .select(
            F.concat(
                F.col("mmsi").cast("string"), F.lit(";"), point_wkt("lon", "lat", "ts")
            ).alias("value")
        )
    )
    lines.repartition(4).write.mode("overwrite").text(path)
    register_wkt_source(spark)
    back = spark.read.format("wktposits").option("path", path).load()
    return back.groupBy("mmsi").agg(
        F.count(F.lit(1)).alias("n_posits"),
        F.min("ts").alias("t_first"),
        money_sum("lon").alias("sum_lon"),
    )


# --- S-family: binaryFile source (the multimodal ingest path) ----------------


@register(
    "src_binaryfile_ingest",
    oracle="""
SELECT doc_id,
       -- strlen (BYTES), not length (characters): binaryFile's `length`
       -- is the file size in bytes, so any non-ASCII text diverges under
       -- the character count (r10 review find; latent on the ASCII
       -- fixture — DuckDB 1.0 has no octet_length(VARCHAR), strlen is
       -- its byte-length form)
       CAST(strlen(text) + 1 AS BIGINT) AS n_bytes,
       md5(text || chr(10)) AS digest
-- text IS NOT NULL: a NULL-text document has no file to materialize;
-- without the fence the Spark text writer renders NULL as an EMPTY line
-- (a bare-newline file, digest md5 of one 0x0A byte) while this leg has
-- md5(NULL || chr(10)) = NULL (r12 adversarial sweep)
FROM documents WHERE doc_id < 200 AND text IS NOT NULL
""",
    tags=("S1", "mm"),
    doc="whole-file binary ingest via the binaryFile source -- the scan that "
    "feeds every image/audio pipeline (one row per file: path, length, raw "
    "bytes). Documents are materialized one file each (partitioned text "
    "write), re-read as opaque binary, the key recovered from the file path "
    "(regexp on the partition dir), and the payload fingerprinted with md5 "
    "over the raw bytes -- proving bytes survive the file boundary intact. "
    "Bounded to 200 files here; at 100 TB the source lists files in "
    "parallel and assigns whole files to tasks (no splitting), which is "
    "exactly what opaque media blobs need.",
)
def src_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_path(spark, sf_dir, "docs_bin")
    d = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 200) & F.col("text").isNotNull()
    )
    d.select("doc_id", F.col("text").alias("value")).write.mode("overwrite").partitionBy(
        "doc_id"
    ).text(path)
    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .option("recursiveFileLookup", "false")
        .load(path + "/doc_id=*")
    )
    return back.select(
        F.regexp_extract(F.col("path"), r"doc_id=(\d+)", 1).cast("bigint").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("digest"),
    )


# --- compaction sink (the small-files table service) ------------------------

_COMPACT_TARGET_BYTES = 32 << 20  # target output file size


def _part_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(name, size) of the data files under a table path, via the Hadoop
    FileSystem API — store-agnostic (HDFS/S3A/local all answer the same
    globStatus call), unlike an ``os.path`` glob which only works when the
    driver shares a local filesystem with the data. Metadata-only: the same
    listing an OPTIMIZE table service does to plan its rewrite."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(os.path.join(path, "part-*"))
    fs = hpath.getFileSystem(hconf)
    return [
        (st.getPath().getName(), st.getLen()) for st in fs.globStatus(hpath) or []
    ]


@register(
    "snk_compaction",
    oracle="""
SELECT event_type,
       count(*) AS n,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(event_id) AS BIGINT) AS sum_ids
FROM events GROUP BY event_type
""",
    tags=("S8", "scale"),
    doc="small-file compaction + clustering — the table-service pass every "
    "100 TB sink needs (a streaming or over-parallel writer leaves thousands "
    "of KB-scale files; scans then pay per-file open cost and lose row-group "
    "stats): deliberately fragment the events table into 64 shards, plan the "
    "target file count from real file metadata (driver-side listing via the "
    "Hadoop FileSystem API — works against HDFS/S3A/local alike, the same "
    "metadata-only call an OPTIMIZE job makes), then rewrite via "
    "repartitionByRange(user_id, ts) so output files are both few and "
    "range-clustered — min/max row-group stats become selective for "
    "user/time predicates. The oracle proves the rewrite is content-lossless; "
    "tests/test_invariants.py pins the file-count collapse.",
)
def snk_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    frag = scratch_path(spark, sf_dir, "events_fragmented")
    compact = scratch_path(spark, sf_dir, "events_compacted")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type")
    ev.repartition(64).write.mode("overwrite").parquet(frag)
    small = spark.read.parquet(frag)
    total = sum(size for _, size in _part_files(spark, frag))
    target = max(1, math.ceil(total / _COMPACT_TARGET_BYTES))
    (
        small.repartitionByRange(target, "user_id", "ts")
        .sortWithinPartitions("user_id", "ts")
        .write.mode("overwrite")
        .parquet(compact)
    )
    back = spark.read.parquet(compact)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("event_id").cast("bigint").alias("sum_ids"),
    )


# --- CDC apply (changelog merge with deletes) -------------------------------


@register(
    "snk_cdc_apply",
    oracle="""
WITH chg AS (
  SELECT 1 AS seq, 'U' AS op, c_custkey AS k, c_name, c_acctbal + 100 AS c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 10 IN (1, 2, 3)
  UNION ALL
  SELECT 1, 'D', c_custkey, NULL, NULL, NULL FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT 1, 'I', c_custkey + 100000, 'NEW#' || CAST(c_custkey AS VARCHAR), c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 10 = 4
  UNION ALL
  SELECT 2, 'U', c_custkey, c_name, c_acctbal + 250, c_mktsegment
  FROM customer WHERE c_custkey % 10 = 5
  UNION ALL
  SELECT 3, 'D', c_custkey, NULL, NULL, NULL FROM customer WHERE c_custkey % 10 = 5
),
latest AS (
  SELECT * FROM chg QUALIFY row_number() OVER (PARTITION BY k ORDER BY seq DESC) = 1
)
SELECT COALESCE(l.k, b.c_custkey) AS c_custkey,
       CASE WHEN l.k IS NULL THEN b.c_name ELSE l.c_name END AS c_name,
       CASE WHEN l.k IS NULL THEN b.c_acctbal ELSE l.c_acctbal END AS c_acctbal,
       CASE WHEN l.k IS NULL THEN b.c_mktsegment ELSE l.c_mktsegment END AS c_mktsegment
FROM customer b FULL JOIN latest l ON l.k = b.c_custkey
WHERE l.op IS NULL OR l.op != 'D'
""",
    tags=("S6", "cdc"),
    doc="CDC changelog apply — the general form of snk_upsert_merge "
    "(ais_to_db.rs:156-161 upserts; a real change stream also carries "
    "DELETEs and multiple ops per key): a 5-batch synthetic changelog "
    "(updates, deletes, inserts, and an update-then-delete sequence on the "
    "same keys) collapses to latest-per-key via one windowed pass on the "
    "change seq, then merges into the stored snapshot with a single full "
    "outer join — insert/update/delete resolved in pure Column space, no "
    "per-op passes. Store→apply→store round-trips through parquet like the "
    "upsert sink. At 100 TB the changelog side is the small one: the full "
    "join rides the snapshot's key partitioning and AQE broadcasts the "
    "change batch when it fits.",
)
def snk_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    base_path = scratch_path(spark, sf_dir, "cdc_base")
    out_path = scratch_path(spark, sf_dir, "cdc_applied")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    c.write.mode("overwrite").parquet(base_path)
    base = spark.read.parquet(base_path)

    k10 = F.col("c_custkey") % 10

    def batch(seq: int, op: str, cond, key, name, bal, seg):
        return c.filter(cond).select(
            F.lit(seq).alias("seq"),
            F.lit(op).alias("op"),
            key.alias("k"),
            name.alias("n_name"),
            bal.alias("n_acctbal"),
            seg.alias("n_mktsegment"),
        )

    null_s = F.lit(None).cast("string")
    null_d = F.lit(None).cast("double")
    chg = (
        batch(1, "U", k10.isin(1, 2, 3), F.col("c_custkey"), F.col("c_name"),
              F.col("c_acctbal") + 100, F.col("c_mktsegment"))
        .unionByName(batch(1, "D", k10 == 0, F.col("c_custkey"), null_s, null_d, null_s))
        .unionByName(batch(1, "I", k10 == 4, F.col("c_custkey") + 100000,
                           F.concat(F.lit("NEW#"), F.col("c_custkey").cast("string")),
                           F.col("c_acctbal"), F.col("c_mktsegment")))
        .unionByName(batch(2, "U", k10 == 5, F.col("c_custkey"), F.col("c_name"),
                           F.col("c_acctbal") + 250, F.col("c_mktsegment")))
        .unionByName(batch(3, "D", k10 == 5, F.col("c_custkey"), null_s, null_d, null_s))
    )
    w = Window.partitionBy("k").orderBy(F.col("seq").desc())
    latest = chg.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")

    applied = (
        base.join(latest, base.c_custkey == latest.k, "full")
        .filter(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            F.coalesce(F.col("k"), F.col("c_custkey")).alias("c_custkey"),
            F.when(F.col("k").isNull(), F.col("c_name")).otherwise(F.col("n_name")).alias("c_name"),
            F.when(F.col("k").isNull(), F.col("c_acctbal")).otherwise(F.col("n_acctbal")).alias("c_acctbal"),
            F.when(F.col("k").isNull(), F.col("c_mktsegment")).otherwise(F.col("n_mktsegment")).alias("c_mktsegment"),
        )
    )
    applied.write.mode("overwrite").parquet(out_path)
    return spark.read.parquet(out_path)


# --- S6/S8: database upsert over pooled per-partition connections -----------
#
# The reference's production sink is a DATABASE upsert: a prepared
# ``INSERT INTO ais.trips (MMSI, trip) VALUES ($1, tgeompointFromBinary($2))
# ON CONFLICT (MMSI) DO UPDATE SET trip = public.update(trips.trip,
# EXCLUDED.trip, true)`` executed over deadpool-pooled connections, batched
# 50 instants per statement (ais_to_db.rs:89-98, :57, :156-161, :202-212) —
# the temporal merge runs INSIDE the DB engine. The driver-checked query
# targets Python's stdlib sqlite3, which supplies the same contract
# (file-backed store, ON CONFLICT DO UPDATE, registrable engine-side
# functions), so every piece of executor plumbing is real: foreachPartition
# opens ONE connection per partition (the pool analog — at 100 TB swap the
# connect() for a JDBC/psycopg pool acquire, nothing else changes), groups
# its rows per vessel, chunks them 50 instants per prepared statement, and
# lets the conflict clause call traj_merge_json() — registered per
# connection the way public.update() ships with the MobilityDB server — to
# merge trips keyed by timestamp. The REAL wire protocol is covered too:
# tests/test_postgres_sink.py boots an ephemeral PostgreSQL 15 cluster,
# installs the merge as an in-database SQL function, drives this same
# dataflow through per-partition executor clients, and asserts the stored
# result equals this query's (DuckDB-oracled) output.

_UPSERT_T0 = "2024-01-15"  # delta batch starts here — overlaps the base batch,
_UPSERT_T1 = "2024-01-20"  # so the ON CONFLICT merge path genuinely executes
_UPSERT_BATCH = 50  # instants per prepared statement (ais_to_db.rs:57)


def _trip_normalize(points: list) -> list:
    """Keep, per timestamp, the (priority, event_id)-max point; sort by ts.
    The merge semantics of public.update(old, new, true): the incoming batch
    wins where timestamps collide. Ties extend to the coordinate reprs so the
    winner never depends on arrival order — merge stays commutative even for
    degenerate inputs where distinct points share (ts, pri, event_id), which
    property tests exercise (the fixture's unique event_id can't)."""

    def rank(p: list) -> tuple:
        return (p[4], p[3], repr(p[1]), repr(p[2]))

    best: dict = {}
    for p in points:  # [ts_us, lon, lat, event_id, pri]
        b = best.get(p[0])
        if b is None or rank(p) > rank(b):
            best[p[0]] = p
    return [best[k] for k in sorted(best)]


def _trip_merge_json(old: str, new: str) -> str:
    import json

    return json.dumps(_trip_normalize(json.loads(old) + json.loads(new)))


def _upsert_partition(db_path: str, rows) -> None:
    """Executor-side upsert loop: one pooled connection per partition,
    per-vessel batches through the prepared conflict-merge statement."""
    import json
    import sqlite3

    by_vessel: dict = {}
    for r in rows:
        by_vessel.setdefault(r.mmsi, []).append(
            [r.ts_us, r.lon, r.lat, r.event_id, r.pri]
        )
    if not by_vessel:
        return
    con = sqlite3.connect(db_path, timeout=120)
    con.create_function("traj_merge_json", 2, _trip_merge_json, deterministic=True)
    try:
        for mmsi in sorted(by_vessel):
            pts = by_vessel[mmsi]
            for i in range(0, len(pts), _UPSERT_BATCH):
                payload = json.dumps(_trip_normalize(pts[i : i + _UPSERT_BATCH]))
                with con:  # one transaction per statement: locks stay short
                    con.execute(
                        "INSERT INTO trips (mmsi, trip) VALUES (?, ?) "
                        "ON CONFLICT(mmsi) DO UPDATE "
                        "SET trip = traj_merge_json(trips.trip, excluded.trip)",
                        (int(mmsi), payload),
                    )
    finally:
        con.close()


@register(
    "snk_jdbc_upsert",
    oracle=f"""
WITH {POSITS_XY_CTE},
-- mmsi IS NOT NULL: the sink keys trips on a PRIMARY KEY column, and a
-- primary key cannot be NULL — the upsert envelope is explicit in BOTH
-- legs (r12 adversarial sweep: a NULL-mmsi posit aborted the executor
-- upsert loop on sorted()/int() and could never round-trip the store)
tagged AS (
  SELECT mmsi, ts, lon, lat, event_id, 0 AS pri FROM posits
  WHERE ts < TIMESTAMP '{_UPSERT_T1}' AND mmsi IS NOT NULL
  UNION ALL
  SELECT mmsi, ts, lon + 0.5, lat, event_id, 1 FROM posits
  WHERE ts >= TIMESTAMP '{_UPSERT_T0}' AND mmsi IS NOT NULL
),
merged AS (
  SELECT * FROM tagged
  QUALIFY row_number() OVER (PARTITION BY mmsi, ts ORDER BY pri DESC, event_id DESC) = 1
)
SELECT mmsi, count(*) AS n_points,
       epoch_us(min(ts)) AS t_start_us, epoch_us(max(ts)) AS t_end_us,
       arg_min(lon, ts) AS lon_first, arg_max(lon, ts) AS lon_last,
       min(lat) AS lat_min, max(lat) AS lat_max
FROM merged GROUP BY mmsi
""",
    tags=("S6", "S8", "A6"),
    doc="database upsert sink over pooled per-partition connections "
    "(ais_to_db.rs:89-98,156-161,202-212; batch_size=50 per :57): base batch "
    "then an overlapping delta batch (delta lon shifted +0.5 so conflict "
    "resolution is observable) upserted into a file-backed sqlite store via "
    "foreachPartition + prepared INSERT..ON CONFLICT DO UPDATE with an "
    "engine-registered merge function; the read-back summary must equal the "
    "newest-wins merge the oracle computes from the raw table",
)
def snk_jdbc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import sqlite3

    # scratch_path is applicationId-namespaced with the staging lifecycle
    # (atexit removal + stale-sibling prune), which is exactly the
    # another-session's-delete-must-never-land-mid-upsert invariant this
    # block used to implement by hand (ADVICE r4)
    db_dir = scratch_path(spark, sf_dir, "trips_db")
    os.makedirs(db_dir, exist_ok=True)
    db_path = os.path.join(db_dir, "trips.sqlite")
    for suffix in ("", "-wal", "-shm"):
        if os.path.exists(db_path + suffix):
            os.remove(db_path + suffix)
    boot = sqlite3.connect(db_path)
    # bootstrap DDL — the ais_to_db.rs:12-24 schema/table setup step
    boot.execute("PRAGMA journal_mode=WAL")
    boot.execute("CREATE TABLE trips (mmsi INTEGER PRIMARY KEY, trip TEXT NOT NULL)")
    boot.commit()
    boot.close()

    # the upsert envelope (see oracle): a trips row is keyed on mmsi
    pts = posits_xy(spark, sf_dir).filter(F.col("mmsi").isNotNull()).select(
        "mmsi",
        "ts",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("ts_us"),
        "lon",
        "lat",
        "event_id",
    )
    base = pts.filter(F.col("ts") < F.lit(_UPSERT_T1).cast("timestamp_ntz")).withColumn(
        "pri", F.lit(0)
    )
    delta = (
        pts.filter(F.col("ts") >= F.lit(_UPSERT_T0).cast("timestamp_ntz"))
        .withColumn("lon", F.col("lon") + 0.5)
        .withColumn("pri", F.lit(1))
    )
    for batch in (base, delta):
        # 8 writer partitions: enough parallelism to exercise concurrent
        # upserts, few enough that sqlite's file lock isn't the benchmark
        batch.drop("ts").coalesce(8).foreachPartition(
            lambda rows, p=db_path: _upsert_partition(p, rows)
        )

    con = sqlite3.connect(db_path)
    try:
        stored = con.execute("SELECT mmsi, trip FROM trips ORDER BY mmsi").fetchall()
    finally:
        con.close()
    out = []
    for mmsi, trip in stored:
        p = _trip_normalize(json.loads(trip))
        # NULL-faithful like the oracle: min/max(lat) and arg_min/arg_max
        # (lon, ts) all SKIP NULLs in DuckDB — plain Python min() over a
        # None-bearing list raises instead, and positional first/last lon
        # would surface a None the oracle never returns (r10 review find;
        # latent while posits carry no NULL lon/lat). merged is one row
        # per (mmsi, ts), so the positional scan has no ts ties.
        lats = [q[2] for q in p if q[2] is not None]
        lons_fwd = [q[1] for q in p if q[1] is not None]
        out.append(
            (
                mmsi,
                len(p),
                p[0][0],
                p[-1][0],
                lons_fwd[0] if lons_fwd else None,
                lons_fwd[-1] if lons_fwd else None,
                min(lats) if lats else None,
                max(lats) if lats else None,
            )
        )
    return spark.createDataFrame(
        out,
        "mmsi long, n_points long, t_start_us long, t_end_us long, "
        "lon_first double, lon_last double, lat_min double, lat_max double",
    )
