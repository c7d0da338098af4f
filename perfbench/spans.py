"""Spans recorded around the calls into each layer, and Spark's own record of
the jobs and stages those calls ran.

Span tree of a traced run::

    pass -> query -> build (-> staging.stage) / materialize

Spans live in memory and are written out once, at the end of the run. A
span's self time is its duration minus the part of it that its children
cover. Spark jobs are tied to query spans by the job group the benchmark
sets before each call; jobs started on other threads (a streaming query's
micro-batches) carry their own group and are tied by start time instead.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records nested spans while ``enabled``; otherwise records nothing."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None,
                 time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def descendants(self, span_id: int, name: str) -> list[Span]:
        out, todo = [], [span_id]
        while todo:
            for c in self.children(todo.pop()):
                todo.append(c.id)
                if c.name == name:
                    out.append(c)
        return out

    def write(self, path: str, extra: dict) -> None:
        selfs = self_times(self.spans)
        rows = [dict(asdict(s), self_s=selfs[s.id]) for s in self.spans]
        with open(path, "w") as f:
            json.dump(dict(extra, spans=rows), f, indent=1, default=str)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(kids.get(s.id, ()), s.start, s.end)
        for s in spans
    }


# --- Spark's status store ----------------------------------------------------

#: Stage metrics summed per pass, as (key, StageData accessor, scale).
STAGE_FIELDS = (
    ("tasks", "numTasks", 1),
    ("run_s", "executorRunTime", 1e-3),
    ("cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("input_mb", "inputBytes", 2.0 ** -20),
    ("input_rows", "inputRecords", 1),
    ("shuffle_read_mb", "shuffleReadBytes", 2.0 ** -20),
    ("shuffle_write_mb", "shuffleWriteBytes", 2.0 ** -20),
    ("spill_mb", "diskBytesSpilled", 2.0 ** -20),
    ("output_mb", "outputBytes", 2.0 ** -20),
)


def read_stages(spark) -> dict[tuple[int, int], dict]:
    """Every stage attempt the status store holds, keyed (stage, attempt)."""
    from tools.probekit import _iter_scala_seq, _status_store

    store, empty, quant = _status_store(spark)
    out = {}
    for s in _iter_scala_seq(store.stageList(empty, False, False, quant, empty)):
        out[(s.stageId(), s.attemptId())] = {
            k: getattr(s, acc)() * scale for k, acc, scale in STAGE_FIELDS
        }
    return out


def read_jobs(spark, after_id: int) -> dict[int, dict]:
    """Jobs with an id above ``after_id``: group, times (epoch s), stages."""
    from tools.probekit import _iter_scala_seq, _status_store

    store, empty, _ = _status_store(spark)
    out = {}
    # jobsList is ordered newest first
    for j in _iter_scala_seq(store.jobsList(empty)):
        if j.jobId() <= after_id:
            break
        sub, end = j.submissionTime(), j.completionTime()
        group = j.jobGroup()
        out[j.jobId()] = {
            "group": group.get() if group.isDefined() else None,
            "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            "end": end.get().getTime() / 1000.0 if end.isDefined() else None,
            "stages": list(_iter_scala_seq(j.stageIds())),
        }
    return out


def jobs_since(jobs: dict[int, dict], start: float) -> dict[int, dict]:
    """The jobs submitted at or after ``start`` (epoch s).

    The status store stamps submission in whole milliseconds, so a job
    submitted in the pass's first millisecond may read up to 1 ms early."""
    return {jid: j for jid, j in jobs.items()
            if j["start"] is not None and j["start"] >= start - 1e-3}


def wait_for_listeners(spark) -> None:
    """Let the listener bus deliver every event of finished jobs to the
    status store before it is read."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def stage_delta(before: dict, after: dict, only: set | None = None) -> dict:
    """Sum of stage metrics over attempts in ``after`` but not ``before``
    (restricted to stage ids in ``only`` when given), plus the count."""
    tot = {k: 0.0 for k, _, _ in STAGE_FIELDS}
    n = 0
    for key, row in after.items():
        if key in before or (only is not None and key[0] not in only):
            continue
        n += 1
        for k in tot:
            tot[k] += row[k]
    tot["stages"] = n
    return tot


def assign_jobs(jobs: dict[int, dict], queries: list[Span], prefix: str) -> dict[int, list[int]]:
    """Map each query span id to the ids of the jobs it ran.

    A job whose group is ``prefix + span id`` belongs to that span. Any
    other job belongs to the query span during which it was submitted."""
    out: dict[int, list[int]] = {q.id: [] for q in queries}
    for jid, j in jobs.items():
        g = j["group"] or ""
        if g.startswith(prefix) and g[len(prefix):].isdigit():
            sid = int(g[len(prefix):])
            if sid in out:
                out[sid].append(jid)
                continue
        for q in queries:
            if j["start"] is not None and q.start <= j["start"] <= q.end:
                out[q.id].append(jid)
                break
    return out
