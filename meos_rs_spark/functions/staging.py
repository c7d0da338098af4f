"""Staging-table materialization — the 100 TB substitute for ``.cache()``.

``df.cache()`` pins the materialized intermediate in executor memory (with
optional disk spill), which is the right call at fixture scale but the wrong
dependency at 100 TB: an exploded intermediate (e.g. the shingle fact table
behind MinHash dedup) is ~10x the corpus and cannot be assumed to fit the
cluster's storage memory, and cache eviction silently degrades to full
recomputation of the producing stage — per consumer.

``stage()`` writes the intermediate once to a parquet staging table and hands
every consumer a plain scan of it: columnar-compressed, spill-free,
predictable. Every call writes, so a repeated invocation of one query fn
does the same full work as the first (see ``stage()`` for how long a
returned scan stays readable).

On a cluster the staging root points at the job's scratch prefix (HDFS/S3);
locally it defaults to the system temp dir. Set ``spark.meos.staging.dir``
to relocate. With a non-local (URI) root, the liveness-marker/PID prune
machinery is skipped — PIDs are meaningless across machines and the
``os.*`` calls don't speak URIs — so dead-session cleanup there is owned by
the cluster's scratch retention policy, not this module.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame

_STALE_AFTER_S = 24 * 3600
_LIVE_MARKER = ".live"
_CLEANUP_REGISTERED: set[str] = set()


def _touch_live(app_dir: str) -> None:
    """Refresh this session's liveness marker (mtime + owning PID).

    Called on every ``stage()``. The marker carries the owner's PID so
    pruning can check REAL liveness: a session that staged its tables early
    and then only reads them through already-returned DataFrame scans never
    calls ``stage()`` again, so its marker mtime alone would go stale while
    the session is still alive.
    """
    try:
        marker = os.path.join(app_dir, _LIVE_MARKER)
        with open(marker, "w") as f:
            f.write(str(os.getpid()))
        os.utime(marker, None)
    except OSError:
        pass


def _sibling_prunable(path: str, cutoff: float) -> bool:
    """A sibling app dir may be pruned only if its marker is stale AND its
    owning process is gone (PID check; ``stage()`` gates this whole path on
    ``_is_local_root``, so the owner — if alive — is on this machine).
    Marker-less dirs (sessions from before the marker existed) fall back to
    dir mtime."""
    marker = os.path.join(path, _LIVE_MARKER)
    try:
        mtime = os.path.getmtime(marker)
    except OSError:
        try:
            return os.path.getmtime(path) < cutoff
        except OSError:
            return False  # racing a concurrent delete — leave it alone
    if mtime >= cutoff:
        return False
    try:
        pid = int(open(marker).read().strip())
    except (OSError, ValueError):
        return True  # stale marker, owner unknowable
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return True  # owner provably gone
    except OSError:
        return False  # EPERM: process EXISTS under another uid — alive
    return False  # owner still alive (or PID reused — keep, it's cheap)


def _register_cleanup(app_dir: str, root: str) -> None:
    """Own staged tables are deleted at interpreter exit; sibling app dirs
    whose liveness marker is >24h stale belong to sessions that died before
    their atexit ran and are pruned opportunistically — staged intermediates
    (the shingle fact alone is ~10x the corpus) must not accumulate across
    bench/test rounds."""
    if app_dir in _CLEANUP_REGISTERED:
        return
    _CLEANUP_REGISTERED.add(app_dir)
    atexit.register(shutil.rmtree, app_dir, True)
    cutoff = time.time() - _STALE_AFTER_S
    try:
        for d in os.listdir(root):
            p = os.path.join(root, d)
            if p != app_dir and os.path.isdir(p) and _sibling_prunable(p, cutoff):
                shutil.rmtree(p, ignore_errors=True)
    except OSError:
        pass


def _is_local_root(root: str) -> bool:
    """True when ``root`` is a plain machine-local path (or file: URI)."""
    return "://" not in root or root.startswith("file:")


def fan_out(df: DataFrame, *keys: str, force: bool = False) -> DataFrame:
    """Spread an under-split scan across the session's parallelism.

    A small fixture table arrives as ONE parquet split, which would
    serialize every downstream per-row kernel (mapInPandas codecs, the
    md5-heavy shingle maps) onto a single core. When the scan has fewer
    partitions than the session's parallelism, repartition by ``keys`` so
    per-key work downstream reuses the partitioning; at real scale the scan
    already has >= parallelism splits and this is a no-op — no shuffle is
    added. One shared policy for every call site (dedup shingles, the
    multimodal payload stages).

    ``force=True`` repartitions UNCONDITIONALLY: callers that feed a
    grouped applyInPandas need the explicit (AQE-coalesce-exempt) keyed
    exchange itself, because otherwise the groupBy inserts its own
    exchange whose few-MB output AQE coalesces to ~1 partition — a hazard
    independent of the SCAN's partition count, so the n < par guard tests
    the wrong thing for them (r8 review find). The forced exchange replaces
    the groupBy's, so no extra shuffle appears in the plan."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if force or df.rdd.getNumPartitions() < par:
        df = df.repartition(par, *keys)
    return df


def side_table_name(base: str, sf_dir: str) -> str:
    """Staging-table name keyed by fixture dir — the default for ANY staged
    table built from a specific fixture scale: a second-scale build
    overwriting a fixed name's part-files breaks scans the first scale's
    already-returned DataFrame resolved (ADVICE r6)."""
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    return f"{base}_{key}"


def _adopt_app_dir(app_dir: str, root: str) -> None:
    """Create a per-application dir under ``root`` with the staging
    lifecycle: liveness-marked, removed at interpreter exit, and stale
    siblings from dead sessions pruned opportunistically (such dirs would
    otherwise accumulate one per bench/test session forever). The dir must
    exist before the liveness touch, or a swallowed marker-write failure
    would leave the session on the dir-mtime prune path."""
    os.makedirs(app_dir, exist_ok=True)
    _register_cleanup(app_dir, root)
    _touch_live(app_dir)


def scratch_path(spark, sf_dir: str, name: str) -> str:
    """Per-application scratch path for ``name`` built from fixture
    ``sf_dir``: ``<tmp>/meos_rs_spark_scratch/<applicationId>/<fixture
    tag>/name``, with the staging lifecycle (``_adopt_app_dir``).

    Namespaced by applicationId like staged tables: a path keyed only by the
    fixture tag is SHARED across concurrent sessions (bench + a background
    pytest), so one session's overwrite or reset lands mid-read of
    another's resolved file listing. Sink round-trips, the sqlite store and
    the streams' stores and checkpoints all live here."""
    root = os.path.join(tempfile.gettempdir(), "meos_rs_spark_scratch")
    app_dir = os.path.join(root, spark.sparkContext.applicationId)
    _adopt_app_dir(app_dir, root)
    return os.path.join(app_dir, os.path.basename(sf_dir.rstrip("/")), name)


def staged_table_path(spark, name: str) -> str:
    """The on-disk path ``stage(df, name)`` writes to in this session:
    staging root + applicationId namespace + name."""
    root = spark.conf.get("spark.meos.staging.dir", None)
    if not root:
        root = os.path.join(tempfile.gettempdir(), "meos_rs_staging")
    # namespace by application id: two Spark sessions on one machine (a bench
    # run next to a test run) must never overwrite each other's staged tables
    # mid-read; within one session the overwrite keeps reruns idempotent
    return os.path.join(root, spark.sparkContext.applicationId, name)


def stage(df: DataFrame, name: str) -> DataFrame:
    """Materialize ``df`` under the staging root and return a scan of it.

    Every call writes: ``mode("overwrite")`` to the session's path for
    ``name`` (``staged_table_path``), then a fresh scan of what was written.
    The write is eager, so the producing stages run exactly once no matter
    how many consumers fan out downstream (the property ``.cache()`` only
    guarantees while the blocks survive eviction).

    Contract: the returned DataFrame stays readable until the next
    ``stage()`` under the same ``name`` in this session — that call
    overwrites the part-files the earlier scan resolved. Tables built from
    a fixture dir therefore take a ``side_table_name`` (keyed by that dir),
    and one query build stages each name once.
    """
    spark = df.sparkSession
    path = staged_table_path(spark, name)
    app_dir = os.path.dirname(path)
    root = os.path.dirname(app_dir)
    if _is_local_root(root):
        _adopt_app_dir(app_dir, root)
    # zstd over the default snappy: measured on the heaviest staged table
    # (the minhash signature with its shingle-set arrays) it writes as fast
    # or faster AND ~30% smaller — at 100 TB the staged intermediate's
    # scratch IO (write once, read per consumer) is the cost that matters
    df.write.mode("overwrite").option("compression", "zstd").parquet(path)
    # read back with the schema just written: inferring it would run a
    # one-task job per call to re-read a footer this process wrote
    return spark.read.schema(df.schema).parquet(path)
