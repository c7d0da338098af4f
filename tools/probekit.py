"""Shared measurement plumbing for the probe/bench tooling: ``bench.py``,
``tools/probe_skew.py``, ``tools/run_registry_scale.py`` and
``perfbench/run.py`` build the driver-default session, warm a query set at
the smallest sf, time ``fn(spark, dir).count()`` min-of-N, and read
hypervisor steal and status-store shuffle metrics through this one module.

Why warm-up at sf0.001: JVM/codegen compilation and Python-worker startup
are one-time costs that a per-query timing would otherwise bill to the
first query measured; plans are identical across scales, so one pass at
the smallest fixture leaves codegen and the Arrow workers hot.
"""

from __future__ import annotations

import time
from typing import Callable, Iterable

WARM_DIR = "/root/testdata/sf0.001"

#: Every session conf any probe/contest leg is allowed to touch. The r8
#: salt contest published a 1.8×/2.5× "salt win" that was really one leg
#: inheriting another's lowered advisoryPartitionSizeInBytes — per-leg conf
#: hygiene must be by construction, not by review (r8 VERDICT item 3), so
#: the reset helper and the legs share ONE list: a leg setting a conf
#: outside it is a bug the probe tests catch.
CONTEST_CONFS: tuple[str, ...] = (
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    "spark.sql.adaptive.forceOptimizeSkewedJoin",
)


def reset_confs(spark) -> None:
    """Return the session to the canonical timing state.

    Unsets every contest-touchable conf, so each timed query/leg starts
    from the same session no matter what ran before it — the
    shared-session equivalent of a fresh driver session."""
    for k in CONTEST_CONFS:
        try:
            spark.conf.unset(k)
        except Exception:
            pass


def load1() -> float | None:
    """1-minute load average — recorded next to timings so a noisy reading
    self-describes (this box is a shared VM; see BENCH noise history)."""
    import os

    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return None


def cpu_ticks() -> tuple[int, int] | None:
    """(steal_ticks, total_ticks) from /proc/stat, None off-Linux. Steal is
    the host-contention signal the guest's OWN load average cannot see: an
    11 s bench at load 0.6 and an 8.3 s bench at load 1.6 were both
    measured on this VM — the difference lives in hypervisor steal.

    Total is user..steal (fields 1-8) only: on Linux, guest and guest_nice
    (fields 9-10) are already folded into user/nice, so summing all fields
    would double-count guest time and understate steal on guest-heavy
    hosts — the exact boxes this metric exists for (r9 ADVICE)."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])
    except Exception:
        return None


def steal_pct(before: tuple[int, int] | None, after: tuple[int, int] | None) -> float | None:
    """% of CPU time stolen by the hypervisor between two cpu_ticks()."""
    if not before or not after or after[1] <= before[1]:
        return None
    return round(100.0 * (after[0] - before[0]) / (after[1] - before[1]), 2)


def bench_session(app_name: str):
    """Driver-default session in the canonical timing state."""
    from meos_rs_spark.session import get_spark

    spark = get_spark(app_name=app_name)
    reset_confs(spark)
    return spark


# --- shuffle-volume capture (r8 VERDICT item 4) ------------------------------
#
# Local wall-clock on 32 fast cores can hide a single-task bottleneck: a
# query whose whole shuffle lands on one partition still finishes quickly
# at toy scale, then serializes a 1000-executor cluster. Shuffle bytes
# read/written and the MAX single-task shuffle bytes are the cheapest
# honest proxy for cluster behavior, read from the JVM AppStatusStore
# (works with the UI disabled). Per-query attribution: snapshot the stage
# set before the run, aggregate over stages that appeared after. Caveat:
# the store retains ~1000 stages; a single query spanning more than that
# undercounts its own earliest stages (none do today).


def _iter_scala_seq(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _status_store(spark):
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList()
    quant = sc._gateway.new_array(jvm.double, 1)
    quant[0] = 1.0
    return store, empty, quant


def shuffle_stage_keys(spark) -> set | None:
    """(stageId, attemptId) of every stage the status store currently holds.
    None when the store is unreachable (Spark Connect) — callers degrade."""
    try:
        store, empty, quant = _status_store(spark)
        stages = store.stageList(empty, False, False, quant, empty)
        return {(s.stageId(), s.attemptId()) for s in _iter_scala_seq(stages)}
    except Exception:
        return None


def shuffle_delta(spark, before: set | None) -> dict | None:
    """Aggregate shuffle metrics over stages that appeared since ``before``
    (a ``shuffle_stage_keys`` snapshot): total shuffle bytes read/written,
    the max single-TASK shuffle bytes per direction (the skew/bottleneck
    signature wall-clock hides behind 32 fast cores), and the stage count."""
    if before is None:
        return None
    try:
        store, empty, quant = _status_store(spark)
        stages = store.stageList(empty, False, False, quant, empty)
        read = write = n = 0
        max_read = max_write = 0.0
        for s in _iter_scala_seq(stages):
            key = (s.stageId(), s.attemptId())
            if key in before:
                continue
            n += 1
            read += s.shuffleReadBytes()
            write += s.shuffleWriteBytes()
            opt = store.taskSummary(key[0], key[1], quant)
            if opt.isDefined():
                m = opt.get()
                max_read = max(max_read, m.shuffleReadMetrics().readBytes().apply(0))
                max_write = max(
                    max_write, m.shuffleWriteMetrics().writeBytes().apply(0)
                )
        return {
            "shuffle_read": int(read),
            "shuffle_write": int(write),
            "max_task_read": int(max_read),
            "max_task_write": int(max_write),
            "n_stages": n,
        }
    except Exception:
        return None


def task_share(delta: dict | None, runs: int = 1) -> float:
    """Max single-TASK shuffle-read bytes as a share of the PER-RUN total.

    A ``shuffle_delta`` spans all N identical timed runs (per-run read =
    total/N) while ``max_task_read`` is already per task — dividing by the
    full total would dilute the share N×. ONE implementation for every
    probe (sweep, skew contest, advisory demo) so the published 'share'
    means the same thing in every artifact (r9 review find). 0.0 when the
    delta is unavailable or the window was shuffle-free."""
    if not delta or delta["shuffle_read"] <= 0 or runs <= 0:
        return 0.0
    return round(delta["max_task_read"] / (delta["shuffle_read"] / runs), 4)


def warm_up(registry, names: Iterable[str], spark, warm_dir: str = WARM_DIR) -> None:
    """One pass per query at the smallest sf so compilation isn't billed."""
    for name in names:
        registry[name].fn(spark, warm_dir).count()


def timed_count(fn: Callable[[], int], runs: int = 3) -> tuple[float, int, list[float]]:
    """min-of-N wall-clock of ``fn()`` (a thunk ending in .count()).

    min-of-N because a shared VM has intermittent multi-× host-level
    slowdowns (observed: identical plans, same session, 2.5s vs 49s);
    steady-state is the number that transfers to a real cluster, and every
    run does full work. Returns (best, rows, all runs) — bench.py prints
    the full run list so the spread is on record.
    """
    times, n = [], 0
    for _ in range(runs):
        t0 = time.perf_counter()
        n = fn()
        times.append(round(time.perf_counter() - t0, 3))
    return min(times), n, times
