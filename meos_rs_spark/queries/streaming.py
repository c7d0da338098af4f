"""Structured Streaming (SURVEY.md §2.9): the reference is batch-only, but
its incremental upsert + temporal merge (``ais_to_db.rs:156-161``) defines
the streaming semantics — append new posits to existing trajectories.

Each query here runs a real streaming pipeline to completion
(``availableNow`` trigger over the events parquet → memory sink) and
returns the materialized result, so the driver can hash it like any batch
query. Tumbling-window and session-window results are oracle-checked
against their batch SQL equivalents — watermark semantics don't drop
anything under availableNow with ordered replay, so the stream must equal
the batch answer exactly.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from meos_rs_spark.queries.textanalysis import Q_MAX_TOK, Q_MIN_TOK, Q_MIN_TTR
from meos_rs_spark.registry import register
from meos_rs_spark.sources.tables import declared_schema, load_table

# dropDuplicatesWithinWatermark only guarantees dedup of duplicates whose
# arrivals fall within the delay; the fixture's event span is ~30 days
# (tests/test_streaming_bounds.py asserts < this bound), so 45 days makes the
# dedup effectively global and the global-dedup oracle exact under any
# micro-batch split of the input
DEDUP_WATERMARK = "45 days"

#: Event-time ingest sanity horizon (r16, r15 VERDICT item 3 — the
#: time-axis ingest sibling of the XY envelope and the resample max-span
#: gate). One corrupt far-future event-time kills a streaming deployment
#: two independent ways, both measured on the value-extremes fixture:
#: (1) a year-9999 instant ABORTS any Pandas-worker stateful operator
#: (applyInPandasWithState converts Arrow→pandas INSIDE the engine, whose
#: ns epoch ends at 2262 — one bad row wedges the stage-retry loop at
#: 100 TB), and (2) a far-future sentinel CATAPULTS the watermark so
#: every later well-formed batch silently drops (the r12-adjudicated
#: premise violation). Production streaming systems reject such events at
#: ingest; this gate is that rejection, applied SYMMETRICALLY — the Spark
#: leg filters in :func:`_stream_events`, every event-time oracle reads
#: the ``stream_events`` CTE carrying the identical predicate. Bounds are
#: fixed validity limits strictly inside pandas' ns epoch
#: (1677-09-21..2262-04-11); NULL event-times fail the predicate in both
#: engines (a point in time that is NULL is not a point in time — same
#: adjudication as the XY envelope). Witnessed end-to-end in
#: tests/test_streaming_bounds.py.
TS_HORIZON_FLOOR = "1700-01-01 00:00:00"
TS_HORIZON_CEIL = "2262-01-01 00:00:00"
STREAM_EVENTS_CTE = (
    "stream_events AS (SELECT * FROM events "
    f"WHERE ts >= TIMESTAMP '{TS_HORIZON_FLOOR}' "
    f"AND ts < TIMESTAMP '{TS_HORIZON_CEIL}')"
)


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from meos_rs_spark.session import prepare_session

    prepare_session(spark)
    # Streaming readers need an explicit schema: the declared one, typed from
    # the footer so both fixture generations work (TIMESTAMP(NANOS) surfacing
    # as int64 under nanosAsLong, vs timestamp[us] → TIMESTAMP_NTZ).
    schema = declared_schema(spark, os.path.join(sf_dir, "events.parquet"), "events")
    # file streams take a directory; glob-filter down to the events parquet
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # watermarks require TIMESTAMP (not NTZ); session TZ is pinned UTC so the
    # instant equals the NTZ wall-clock the batch loaders produce
    if isinstance(schema["ts"].dataType, LongType):
        instant = F.expr("timestamp_micros(ts div 1000)")
    else:
        instant = F.col("ts").cast("timestamp")
    return raw.select(
        "event_id", instant.alias("ts"), "user_id", "event_type", "value"
    ).where(
        (F.col("ts") >= F.lit(TS_HORIZON_FLOOR).cast("timestamp"))
        & (F.col("ts") < F.lit(TS_HORIZON_CEIL).cast("timestamp"))
    )


def _sink_name(base: str, sf_dir: str) -> str:
    """Deterministic memory-sink view name per (call site, fixture dir).

    uuid-per-invocation names let every streaming run pin another full
    result copy in the driver's memory sink for the session lifetime
    (review find, r7 — the in-memory twin of the uuid-checkpoint leak).
    A deterministic name is dropped and replaced on re-invocation, so at
    most one copy per (query, scale) is ever held; keying by sf_dir keeps
    a handle returned at one scale valid while another scale builds (the
    cross-scale hazard class of tests/test_cross_scale.py).
    """
    import os
    import re

    tag = re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(sf_dir.rstrip("/")))
    return f"{base}_{tag}"


#: State-store partition count for the finite availableNow replays (r16
#: optimization, guide §2.2 "fewer, larger reduce partitions"): streaming
#: queries ignore AQE, so every stateful operator inherits the session's
#: full ``spark.sql.shuffle.partitions`` (32 here) as its state-store
#: partition count — and each micro-batch then pays 32× state-store
#: open/commit/checkpoint file IO for KB-scale state (measured:
#: stream_tumbling_counts 5.8 → 1.8 s min, stream_interval_join 10.6 →
#: 3.0 s at sf0.1 going 32 → 4). Partition count should track STATE
#: volume, not core count; conf-overridable for deployments whose state
#: is genuinely large (the checkpoint pins it per query lifetime, and
#: every checkpoint here is per-invocation, so the value binds fresh each
#: run). Output content is partitioning-independent — the oracles are
#: unchanged.
STREAM_STATE_PARTITIONS_CONF = "spark.meos.stream.statePartitions"
_STREAM_STATE_MIN = 4
_STREAM_STATE_MAX = 200


def _backlog_bytes(spark: SparkSession, sf_dir: str) -> int:
    """Source-backlog size in bytes: the events parquet when present, else
    the directory's parquet total. Plain local paths read via ``os.*`` (no
    JVM round-trip); URI paths (s3://, hdfs://, file://) go through the
    Hadoop FileSystem API so an object-store deployment sizes correctly
    instead of silently flooring at ``_STREAM_STATE_MIN`` (r16 VERDICT
    item 2 — the old ``os.path``-only probe read 0 for any non-local
    fixture location). A local OSError → 0 (the floor applies); a Hadoop
    FileSystem error raises."""
    import os

    if "://" not in sf_dir:
        ev = os.path.join(sf_dir, "events.parquet")
        try:
            if os.path.isfile(ev):
                return os.path.getsize(ev)
            if os.path.isdir(sf_dir):
                return sum(
                    os.path.getsize(os.path.join(sf_dir, f))
                    for f in os.listdir(sf_dir)
                    if f.endswith(".parquet")
                    and os.path.isfile(os.path.join(sf_dir, f))
                )
        except OSError:
            pass
        return 0
    Path = spark._jvm.org.apache.hadoop.fs.Path
    ev = Path(sf_dir.rstrip("/") + "/events.parquet")
    fs = ev.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.isFile(ev):
        return fs.getFileStatus(ev).getLen()
    root = Path(sf_dir)
    if fs.isDirectory(root):
        return sum(
            st.getLen()
            for st in fs.listStatus(root)
            if st.isFile() and st.getPath().getName().endswith(".parquet")
        )
    return 0


def _state_partitions(spark: SparkSession, sf_dir: str | None) -> str:
    """Scale-adaptive default: ~one state partition per MB of the source
    backlog (``_backlog_bytes`` — storage-agnostic: local paths via os.*,
    URI paths via the Hadoop FileSystem API), clamped to [4, 200] —
    measured on the ×10 growth fixture the optimum tracks state volume,
    not core count (4 parts: 7.8 s, 16: 4.1 s, 32: 5.2 s at ×10 vs 4
    optimal at ×1). An explicit ``spark.meos.stream.statePartitions``
    always wins — deployments whose steady-state STATE volume far
    exceeds the replayed backlog (or dwarfs the 200-partition clamp)
    should set it rather than rely on the backlog heuristic; with no
    size hint the floor applies."""
    explicit = spark.conf.get(STREAM_STATE_PARTITIONS_CONF, None)
    if explicit is not None:
        return explicit
    import math

    size = _backlog_bytes(spark, sf_dir) if sf_dir else 0
    n = max(_STREAM_STATE_MIN, min(_STREAM_STATE_MAX, math.ceil(size / (1 << 20))))
    return str(n)


class _stream_confs:
    """Scope ``spark.sql.shuffle.partitions`` down to the stream-state
    policy for the duration of one availableNow run, restoring the
    session value afterwards.

    SERIAL-EXECUTION ASSUMPTION (r16 ADVICE): "the batch planner never
    sees the change" holds because this harness runs queries strictly
    sequentially on one session — a batch query planned CONCURRENTLY in
    the same session (or two overlapping streams with different sf_dirs)
    would be planned with the reduced partition count. A deployment
    driving streams from multiple threads should scope the override to a
    cloned session (``spark.newSession()`` shares the context but not the
    runtime conf) instead of this set/restore on the shared conf."""

    def __init__(self, spark: SparkSession, sf_dir: str | None = None):
        self._spark = spark
        self._sf_dir = sf_dir

    def __enter__(self):
        self._old = self._spark.conf.get("spark.sql.shuffle.partitions", None)
        self._spark.conf.set(
            "spark.sql.shuffle.partitions",
            _state_partitions(self._spark, self._sf_dir),
        )
        return self

    def __exit__(self, *exc):
        if self._old is None:
            self._spark.conf.unset("spark.sql.shuffle.partitions")
        else:
            self._spark.conf.set("spark.sql.shuffle.partitions", self._old)
        return False


def _run_to_memory_sink(
    df: DataFrame, spark: SparkSession, name: str, output_mode: str = "complete",
    sf_dir: str | None = None,
) -> DataFrame:
    spark.catalog.dropTempView(name)  # replace the previous invocation's copy
    with _stream_confs(spark, sf_dir):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def _run_to_table(df: DataFrame, spark: SparkSession, base: str, sf_dir: str) -> DataFrame:
    return _run_to_memory_sink(df, spark, _sink_name(base, sf_dir), sf_dir=sf_dir)


# --- tumbling window aggregation -------------------------------------------


@register(
    "stream_tumbling_counts",
    oracle=f"""
WITH {STREAM_EVENTS_CTE}
SELECT user_id,
       date_trunc('hour', ts) AS win_start,
       count(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM stream_events GROUP BY user_id, date_trunc('hour', ts)
""",
    tags=("ST",),
    doc="readStream → 1h tumbling window agg → availableNow → memory sink; "
    "must equal the batch date_trunc aggregation exactly",
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.window("ts", "1 hour").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    out = _run_to_table(agg, spark, "stream_tumbling_counts", sf_dir)
    return out.select(
        "user_id",
        F.col("win.start").cast("timestamp_ntz").alias("win_start"),
        "n",
        "sum_value",
    )


# --- session window (gap-based trip segmentation, TSet analog) -------------

_GAP = "6 hours"
_GAP_US = 21_600_000_000


@register(
    "stream_session_windows",
    oracle=f"""
WITH {STREAM_EVENTS_CTE},
flagged AS (
  SELECT user_id, ts, event_id,
         -- STRICTLY greater, not >=: Spark's session_window MERGES events
         -- exactly gap apart (probed r11: two events 6h apart form ONE
         -- session 06:00-18:00), so a new session starts only when the
         -- gap is exceeded. The >= form diverged at exact-gap boundaries
         -- — unreachable on the continuous-timestamp fixture, pinned by
         -- the exact-boundary rows in tests/test_invariants.py.
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_GAP_US} THEN 1 ELSE 0 END AS new_s
  FROM stream_events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, count(*) AS n
FROM sessions GROUP BY user_id, sid
""",
    tags=("ST", "TSet"),
    doc=f"session_window(ts, '{_GAP}') trip segmentation — streaming twin of the batch "
    "gap-islands SQL (trajectory sessionize); equality proves the semantics match",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", _GAP).alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = _run_to_table(agg, spark, "stream_session_windows", sf_dir)
    # session_window carries the observed bounds by construction:
    # win.start == min(ts) and win.end == max(ts) + gap, so subtracting the
    # gap recovers max(ts) exactly — nothing extra needs aggregating
    return out.select(
        "user_id",
        F.col("win.start").cast("timestamp_ntz").alias("session_start"),
        F.expr(f"CAST(win.end - INTERVAL {_GAP} AS TIMESTAMP_NTZ)").alias("session_end"),
        "n",
    )


# --- stateful trajectory accumulation (applyInPandasWithState) -------------


def _accumulate_extent(state, pdf_iter):
    """Shared accumulator core of both stateful trajectory variants:
    fold this batch's posits into the stored (n_points, min_ts_us,
    max_ts_us) GroupState and return the updated triple. ONE
    implementation so the replay twin and the evicting deployment recipe
    cannot drift (r9 review find — same hazard class as the J5 grid
    joins' shared `_grid_overlap_pairs`)."""
    if state.exists:
        n, tmin, tmax = state.get
    else:
        n, tmin, tmax = 0, None, None
    for pdf in pdf_iter:
        if len(pdf) == 0:
            continue
        us = pdf["ts"].astype("datetime64[ns]").astype("int64") // 1000  # → µs
        n += len(pdf)
        bmin, bmax = int(us.min()), int(us.max())
        tmin = bmin if tmin is None else min(tmin, bmin)
        tmax = bmax if tmax is None else max(tmax, bmax)
    state.update((n, tmin, tmax))
    return n, tmin, tmax


def _traj_state_fn(key, pdf_iter, state):
    """Custom stateful trajectory accumulator (GroupState): maintains
    (n_points, min_ts_us, max_ts_us) per vessel across
    micro-batches — the applyInPandasWithState analog of the reference's
    incremental upsert (ais_to_db.rs:156-161): new posits extend the stored
    trajectory's state."""
    import pandas as pd

    n, tmin, tmax = _accumulate_extent(state, pdf_iter)
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_points": [n], "t_start_us": [tmin], "t_end_us": [tmax]}
    )


def traj_state_fn_evicting(key, pdf_iter, state):
    """Long-lived variant of :func:`_traj_state_fn`: same accumulator, plus
    event-time-timeout EVICTION for keys idle past the watermark horizon.

    ``_traj_state_fn`` + ``NoTimeout`` is correct for the registered
    finite ``availableNow`` replay (state is bounded by the fixture's key
    count), but a 100 TB deployment sees unbounded key churn — without an
    eviction path the state store grows with every vessel EVER seen, which
    is the canonical long-running-stream killer (r8 VERDICT item 7). This
    variant is the deployment recipe: pair it with ``withWatermark`` and
    ``timeoutConf=GroupStateTimeout.EventTimeTimeout``; a vessel idle for
    ``_EVICT_IDLE_MS`` of event time past the watermark emits nothing
    further and its state row is dropped (trajectory closed). A vessel
    reappearing later starts a fresh trajectory — sessionized semantics,
    matching the reference's gap-split assembly
    (meos/examples/04_to_file.rs:92-116) rather than the replay twin's
    whole-history extent. tools/probe_stream_state.py measures the
    resulting flat-after-watermark state curve across ~100 micro-batches.
    """
    import pandas as pd

    if state.hasTimedOut:
        # idle past the horizon: drop the state row; emit nothing (the
        # last update-mode emission already carried the final extent)
        state.remove()
        return

    n, tmin, tmax = _accumulate_extent(state, pdf_iter)
    # evict once the watermark moves _EVICT_IDLE_MS past this batch — i.e.
    # the vessel sent nothing for that long in event time (must be strictly
    # beyond the current watermark, which max(wm, 0) + idle guarantees)
    state.setTimeoutTimestamp(max(state.getCurrentWatermarkMs(), 0) + _EVICT_IDLE_MS)
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_points": [n], "t_start_us": [tmin], "t_end_us": [tmax]}
    )


#: event-time idle horizon before a vessel's state row is evicted (10 min —
#: the probe and tests override nothing; they drive event time instead)
_EVICT_IDLE_MS = 600_000


_STATE_OUTPUT = "user_id long, n_points long, t_start_us long, t_end_us long"
_STATE_SCHEMA = "n long, tmin long, tmax long"


def evicting_assembly(ev: DataFrame, watermark: str) -> DataFrame:
    """The ONE construction of the evicting stateful pipeline: watermark →
    per-vessel applyInPandasWithState with EventTimeTimeout eviction.

    Shared by the registered ``stream_stateful_evicting`` (45-day watermark
    so the finite replay keeps whole-history extents and the grouped-
    assembly oracle stays exact), the key-churn pytest and the state-growth
    probe (1-minute watermark so eviction actually fires). Factored so the
    deployment recipe the probes measure is byte-for-byte the pipeline the
    driver verifies."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        ev.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            traj_state_fn_evicting,
            outputStructType=_STATE_OUTPUT,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _final_state_per_user(latest: DataFrame) -> DataFrame:
    """Update-mode memory sinks hold one row per (user, batch); keep each
    user's final accumulator state (max n_points — monotone per key)."""
    w_latest = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.col("n_points").desc())
    )
    return (
        latest.withColumn("__rn", w_latest)
        .filter(F.col("__rn") == 1)
        .select("user_id", "n_points", "t_start_us", "t_end_us")
    )


@register(
    "stream_stateful_assembly",
    oracle=f"""
WITH {STREAM_EVENTS_CTE}
SELECT user_id, count(*) AS n_points,
       epoch_us(min(ts)) AS t_start_us,
       epoch_us(max(ts)) AS t_end_us
FROM stream_events GROUP BY user_id
""",
    tags=("ST", "A5", "A6"),
    doc="true custom stateful operator: applyInPandasWithState trajectory accumulation "
    "per vessel (state = running extent), run to completion under availableNow — "
    "final state must equal the batch aggregate",
)
def stream_stateful_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = _stream_events(spark, sf_dir)
    out = (
        ev.groupBy("user_id")
        .applyInPandasWithState(
            _traj_state_fn,
            outputStructType=_STATE_OUTPUT,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    latest = _run_to_memory_sink(
        out, spark, _sink_name("stream_stateful_assembly", sf_dir), "update",
        sf_dir=sf_dir,
    )
    return _final_state_per_user(latest)


@register(
    "stream_stateful_evicting",
    oracle=f"""
WITH {STREAM_EVENTS_CTE}
SELECT user_id, count(*) AS n_points,
       epoch_us(min(ts)) AS t_start_us,
       epoch_us(max(ts)) AS t_end_us
FROM stream_events GROUP BY user_id
""",
    tags=("ST", "A5", "A6"),
    doc="the DEPLOYMENT shape of stateful trajectory assembly: same "
    "applyInPandasWithState accumulator, but with event-time-timeout "
    "EVICTION active (watermark + setTimeoutTimestamp + hasTimedOut/"
    "remove) so a long-running stream's state store stays bounded under "
    "unbounded key churn; replayed availableNow, final state must still "
    "equal the batch aggregate",
)
def stream_stateful_evicting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered twin of :func:`stream_stateful_assembly` running the
    eviction-capable state function (r9 VERDICT item 3: the deployment
    recipe earns its own driver CORRECTNESS row instead of living only as
    a helper + pytest).

    Why the whole-history oracle is exact here: the fixture is ONE
    parquet file, so the availableNow file source replays it as ONE data
    micro-batch — the watermark is still at its initial value while every
    posit is processed (nothing is late; the 45-day
    :data:`DEDUP_WATERMARK` delay keeps it below the ~30-day event span
    regardless, tests/test_streaming_bounds.py), so each vessel's final
    update-mode emission carries its whole-history extent. Timeouts fire
    only at a later batch boundary; an eviction there removes state and
    emits nothing, leaving the emitted extents untouched. (Under a
    hypothetical multi-batch split with a vessel idle past the horizon
    MID-replay, the query would degrade to its deployment semantics —
    sessionized gap-split extents — which is the designed long-stream
    behavior, not the replay twin's.) The SAME pipeline under a short
    watermark demonstrably evicts: the key-churn pytest and
    tools/probe_stream_state.py drive it at 1 minute.
    Reference semantics: incremental trajectory upsert,
    meos-polars/examples/ais_to_db.rs:156-161; gap-split assembly,
    meos/examples/04_to_file.rs:92-116."""
    ev = _stream_events(spark, sf_dir)
    latest = _run_to_memory_sink(
        evicting_assembly(ev, DEDUP_WATERMARK),
        spark,
        _sink_name("stream_stateful_evicting", sf_dir),
        "update",
        sf_dir=sf_dir,
    )
    return _final_state_per_user(latest)


# --- sliding window aggregation --------------------------------------------


@register(
    "stream_sliding_counts",
    oracle=f"""
WITH {STREAM_EVENTS_CTE},
contrib AS (
  SELECT user_id, value,
         date_trunc('hour', ts) AS w1,
         date_trunc('hour', ts) - INTERVAL 1 HOUR AS w0
  FROM stream_events
),
expanded AS (
  SELECT user_id, value, w1 AS win_start FROM contrib
  UNION ALL
  SELECT user_id, value, w0 FROM contrib
)
SELECT user_id, win_start, count(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM expanded GROUP BY user_id, win_start
""",
    tags=("ST",),
    doc="2h sliding window, 1h slide: each event lands in two windows; the batch twin "
    "expands each event into both contributing window starts",
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.window("ts", "2 hours", "1 hour").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    out = _run_to_table(agg, spark, "stream_sliding_counts", sf_dir)
    return out.select(
        "user_id",
        F.col("win.start").cast("timestamp_ntz").alias("win_start"),
        "n",
        "sum_value",
    )


# --- streaming dedup (P4 under a watermark) ---------------------------------


@register(
    "stream_dedup_watermark",
    oracle=f"""
WITH {STREAM_EVENTS_CTE},
d AS (
  SELECT user_id, ts FROM stream_events
  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) = 1
)
SELECT user_id, count(*) AS n_unique FROM d GROUP BY user_id
""",
    tags=("ST", "P4"),
    doc="streaming monotonic dedup: dropDuplicatesWithinWatermark on (user_id, ts) — "
    "the streaming form of the 04_to_file.rs:92-96 filter with bounded state. "
    "The delay exceeds the fixture's full 30-day event span (asserted in "
    "tests/test_streaming_bounds.py) so dedup is global under ANY micro-batching "
    "and the global oracle is exact; production would size the delay to the "
    "real late-duplicate bound instead",
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _stream_events(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", DEDUP_WATERMARK)
        .dropDuplicatesWithinWatermark(["user_id", "ts"])
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    out = _run_to_table(deduped, spark, "stream_dedup_watermark", sf_dir)
    return out.select("user_id", "n_unique")


# --- foreachBatch upsert sink (S6 streaming form) ---------------------------


@register(
    "stream_foreachbatch_sink",
    oracle=f"""
WITH {STREAM_EVENTS_CTE}
SELECT user_id, count(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM stream_events GROUP BY user_id
""",
    tags=("ST", "S6"),
    doc="foreachBatch sink: each micro-batch merged into a parquet store "
    "(the streaming leg of the ais_to_db.rs:202-212 batch-upsert loop); "
    "store read back after availableNow completion",
)
def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    # checkpoints AND the parquet store live under the app-namespaced dir
    # with the staging lifecycle (atexit removal + stale-sibling prune): a
    # store keyed only by the fixture tag was shared across concurrent
    # sessions — one session's reset rmtree raced another's appends — and
    # leaked past exit (review find, r7; same class as the checkpoint leak)
    from meos_rs_spark.functions.staging import adopt_app_dir

    ckpt_root = os.path.join(tempfile.gettempdir(), "meos_rs_spark_ckpt")
    app_dir = os.path.join(ckpt_root, spark.sparkContext.applicationId)
    adopt_app_dir(app_dir, ckpt_root)

    tag = os.path.basename(sf_dir.rstrip("/"))
    store = os.path.join(app_dir, f"stream_store_{tag}")
    # reset the store for a deterministic result on every invocation
    shutil.rmtree(store, ignore_errors=True)

    def write_batch(batch_df, batch_id):
        batch_df.write.mode("append").parquet(store)

    ev = _stream_events(spark, sf_dir)
    with _stream_confs(spark, sf_dir):
        q = (
            ev.writeStream.foreachBatch(write_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(app_dir, uuid.uuid4().hex[:8]))
            .start()
        )
        q.awaitTermination()
    back = spark.read.parquet(store)
    return back.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


# --- stream-stream interval join -------------------------------------------


@register(
    "stream_interval_join",
    oracle=f"""
WITH {STREAM_EVENTS_CTE}
SELECT a.event_id AS view_id, b.event_id AS purchase_id, a.user_id,
       CAST(epoch_us(b.ts) - epoch_us(a.ts) AS BIGINT) AS dt_us
FROM stream_events a JOIN stream_events b
  ON a.user_id = b.user_id
 AND a.event_type = 'view' AND b.event_type = 'purchase'
 AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 2 HOUR
""",
    tags=("ST", "J4"),
    doc="stream-stream interval self-join (view -> purchase attribution within "
    "2h, per user): both sides watermarked so the state store evicts rows older "
    "than the join window — the streaming analog of the batch range join J4; "
    "under availableNow the append-mode result must equal the batch join exactly",
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _stream_events(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(F.col("event_id").alias("view_id"), F.col("user_id").alias("v_user"),
                F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "2 hours")
    )
    buys = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"), F.col("user_id").alias("b_user"),
                F.col("ts").alias("b_ts"))
        .withWatermark("b_ts", "2 hours")
    )
    joined = views.join(
        buys,
        (F.col("v_user") == F.col("b_user"))
        & (F.col("b_ts") > F.col("v_ts"))
        & (F.col("b_ts") <= F.col("v_ts") + F.expr("INTERVAL 2 HOURS")),
    ).select(
        "view_id",
        "purchase_id",
        F.col("v_user").alias("user_id"),
        (F.expr("unix_micros(b_ts)") - F.expr("unix_micros(v_ts)")).alias("dt_us"),
    )
    name = _sink_name("stream_interval_join", sf_dir)
    spark.catalog.dropTempView(name)
    with _stream_confs(spark, sf_dir):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


# --- streaming corpus curation (LLM-ops × streaming) ------------------------

def _stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream over the documents fixture, read with the same declared
    and footer-checked schema as the batch loader, so a fixture regeneration
    breaks both readers alike."""
    import os

    from meos_rs_spark.session import prepare_session

    prepare_session(spark)
    schema = declared_schema(spark, os.path.join(sf_dir, "documents.parquet"), "documents")
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


@register(
    "stream_doc_curation",
    oracle=f"""
WITH t AS (
  SELECT lang, source,
         len(string_split(text, ' ')) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / len(string_split(text, ' ')) AS ttr
  FROM documents
)
SELECT lang, source,
       count(*) AS n_docs_pass,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM t
WHERE n_tokens BETWEEN {Q_MIN_TOK} AND {Q_MAX_TOK} AND ttr > {Q_MIN_TTR}
GROUP BY lang, source
""",
    tags=("ST", "text"),
    doc="streaming ingest curation: the text_quality gate (length + type-token "
    "ratio) applied to a document file stream, with running per-(lang, source) "
    "admission counts in complete mode — the shape of a continuously-fed "
    "training-corpus intake. The gate itself is stateless (per-row map, no "
    "state store growth); only the bounded (lang, source) aggregate holds "
    "state, so the pipeline runs indefinitely at ingest scale",
)
def stream_doc_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = _stream_documents(spark, sf_dir)
    toks = F.split("text", " ")
    n = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n
    passed = raw.select(
        "lang", "source", n.cast("bigint").alias("n_tokens"), ttr.alias("ttr")
    ).filter(
        (F.col("n_tokens") >= Q_MIN_TOK)
        & (F.col("n_tokens") <= Q_MAX_TOK)
        & (F.col("ttr") > Q_MIN_TTR)
    )
    agg = passed.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs_pass"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    return _run_to_table(agg, spark, "stream_doc_curation", sf_dir)


# --- streaming content-fingerprint dedup (dedup family x streaming) ---------


@register(
    "stream_fingerprint_dedup",
    oracle="""
WITH norm AS (
  SELECT DISTINCT trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS nt
  FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_unique,
       CAST(sum(len(nt)) AS BIGINT) AS total_norm_chars
FROM norm
""",
    tags=("ST", "dedup"),
    doc="streaming content-fingerprint dedup: normalize (lowercase / collapse "
    "spaces / trim), md5-fingerprint, dropDuplicatesWithinWatermark on the "
    "fingerprint as documents stream in — the exact-dedup admission gate of "
    "a continuously-fed corpus. Aggregates only fingerprint-invariant "
    "quantities (unique-class count, normalized length sum) so the result "
    "is independent of WHICH duplicate arrives first; the oracle is the "
    "batch distinct over normalized text. State = one fingerprint row per "
    "unique class within the watermark horizon, evicted past it. Case-fold "
    "envelope as dedup_normalized: Java/utf8proc lower() diverge on Turkish "
    "İ and Greek final sigma (pinned in tests/test_determinism.py).",
)
def stream_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = _stream_documents(spark, sf_dir)
    nt = F.trim(F.regexp_replace(F.lower("text"), " +", " "))
    # synthesized deterministic event time (documents carry none): doc_id
    # seconds past a fixed epoch — the watermark column the state store
    # evicts on
    # offset past epoch: the initial watermark is 1970-01-01, and a row
    # whose event time equals it is dropped as late (bit us: doc_id 0)
    ev = F.expr("timestamp_micros((86400 + doc_id) * 1000000)")
    deduped = (
        raw.select(nt.alias("nt"), ev.alias("ev"))
        .withColumn("fp", F.md5("nt"))
        .withWatermark("ev", "3650 days")
        .dropDuplicatesWithinWatermark(["fp"])
    )
    agg = deduped.agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.sum(F.length("nt")).alias("total_norm_chars"),
    )
    return _run_to_table(agg, spark, "stream_fingerprint_dedup", sf_dir)


# --- restart recovery: the long-lived deployment shape, driver-verifiable ---


def _arrival_split(part: int):
    """Route every event — including NULL event_id — to exactly one arrival.

    The oracle's count(*) covers ALL rows, so the split must PARTITION the
    table: a bare ``event_id % 2 == part`` predicate is NULL for NULL keys
    and silently drops the row from BOTH arrivals (r12 ADVICE). coalesce
    routes NULL keys deterministically to arrival 0.
    """
    return F.coalesce(F.col("event_id"), F.lit(0)) % 2 == part


@register(
    "stream_restart_recovery",
    oracle="""
SELECT user_id, count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY user_id
""",
    tags=("ST", "S6"),
    doc="restart recovery + sink idempotence (r10 VERDICT item 6 — the "
    "long-lived deployment shape the availableNow replays never exercised, "
    "registered): THREE availableNow runs share ONE checkpoint over a "
    "split-arrival source. Run 1 aggregates arrival 0 only; run 2 is a "
    "RESTART — the file-source offset log skips arrival 0's files, the "
    "state store restores its counts, and only arrival 1 is read, so a "
    "correct full answer PROVES state recovery; run 3 restarts with no new "
    "data and must not re-emit (sink unchanged). Complete-mode foreachBatch "
    "overwrite = the idempotent keyed upsert of ais_to_db.rs:156-161. "
    "Production pairs this with state eviction (stream_stateful_evicting); "
    "fixture-scale per-user state needs none.",
)
def stream_restart_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob as _glob
    import os
    import shutil
    import tempfile

    from meos_rs_spark.functions.staging import adopt_app_dir
    from meos_rs_spark.session import prepare_session

    prepare_session(spark)
    ckpt_root = os.path.join(tempfile.gettempdir(), "meos_rs_spark_ckpt")
    app_dir = os.path.join(ckpt_root, spark.sparkContext.applicationId)
    adopt_app_dir(app_dir, ckpt_root)

    tag = os.path.basename(sf_dir.rstrip("/"))
    base = os.path.join(app_dir, f"restart_recovery_{tag}")
    src, store, ckpt = (os.path.join(base, d) for d in ("src", "store", "ckpt"))
    # full reset per invocation: the SHARED checkpoint is the point of the
    # query, so it must never survive into the next invocation
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(src)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("value").cast("double").alias("value")
    )
    schema = ev.schema

    def _arrive(part: int) -> None:
        """Deterministic arrival: events with event_id % 2 == part land as
        one new file in the watched source directory."""
        tmp = os.path.join(base, f"tmp{part}")
        ev.filter(_arrival_split(part)).coalesce(1).write.parquet(tmp)
        (part_file,) = _glob.glob(os.path.join(tmp, "part-*.parquet"))
        os.replace(part_file, os.path.join(src, f"arrival{part}.parquet"))
        shutil.rmtree(tmp)

    def _overwrite(batch_df, batch_id) -> None:
        # complete mode emits FULL state per trigger: overwrite, never
        # append — re-running a trigger rewrites the same rows (idempotent)
        batch_df.write.mode("overwrite").parquet(store)

    def _run_once() -> None:
        agg = (
            spark.readStream.schema(schema)
            .parquet(src)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_value"),
            )
        )
        with _stream_confs(spark, sf_dir):
            q = (
                agg.writeStream.foreachBatch(_overwrite)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    _arrive(0)
    _run_once()  # run 1: arrival 0 only; store = agg(arrival 0)
    _arrive(1)
    _run_once()  # run 2: RESTART — reads only arrival 1, state restored
    before = {f: os.path.getmtime(os.path.join(store, f)) for f in os.listdir(store)}
    _run_once()  # run 3: RESTART, no new data — must not re-emit
    after = {f: os.path.getmtime(os.path.join(store, f)) for f in os.listdir(store)}
    if before != after:
        raise AssertionError(
            "restart with no new data re-emitted: the no-op run rewrote the "
            f"sink ({sorted(set(after) ^ set(before)) or 'same files, new mtimes'})"
        )
    return spark.read.parquet(store).select("user_id", "n_events", "sum_value")
