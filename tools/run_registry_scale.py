"""Round-8 full-registry scale sweep (r7 VERDICT item 4): the ×10 scale
curve previously covered only the 16 bench queries; a scale-sensitive plan
outside that set (the window-heavy SCD2/gap-islands family, the iterative
``dedup_components``, the sink family) would have been invisible. This runs
EVERY registered query once at sf0.1 and once at the uniform ×10 fixture in
one sitting and reports t(×10)/t(0.1) per query.

Protocol: one driver-default session (every timing does full work), one
warm-up pass per query at sf0.001 (codegen + Arrow workers hot, as
bench.py), ONE timed run per scale (203 queries × 2 scales; the
verdict asks for wall-clock per query, not min-of-N) — then a confirm
re-run at both scales for any query whose ratio exceeds the flag threshold,
keeping the better (min) time, so a host-noise spike on a single run
cannot flag a query falsely.

Since r9 each timed leg also records shuffle volume (total bytes
read/written, max single-TASK shuffle bytes, stage count — from the JVM
AppStatusStore via ``tools.probekit.shuffle_delta``) and flags any query
whose max-partition SHARE of the shuffle grows with scale: the single-task
bottleneck signature that 32 fast local cores hide behind wall-clock
(r8 VERDICT item 4).

Since r10 any query whose stock ×10 share exceeds ``ADV_SHARE_TRIGGER``
earns an extra ×10 leg under a 2 MB ``advisoryPartitionSizeInBytes`` (r9
VERDICT item 5): at toy scale AQE legitimately coalesces a small exchange
into one partition, so a share near 1.0 is ambiguous. If the 2 MB advisory collapses
the share the concentration was the coalescing artifact and the skew flag
is suppressed; a share that PERSISTS under the advisory is a real
partitioning defect and flags. Every sweep row self-classifies — no
separate probe run needed.

``python -m tools.run_registry_scale [base_dir] [big_dir] [out_json]
[--only=q1,q2,...]`` prints one line per query and writes a JSON summary;
``--only`` restricts the sweep to the named queries (targeted fixtures,
e.g. the time-extended ×10).
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.probekit import (  # noqa: E402
    CONTEST_CONFS,
    WARM_DIR,
    cpu_ticks,
    load1,
    reset_confs,
    shuffle_delta,
    shuffle_stage_keys,
    steal_pct,
    task_share,
)

#: flag threshold: the r7 bench suite's worst measured ×10 ratio was 3.2
#: (traj_transform_lcc); anything beyond it is an outlier to investigate.
FLAG_RATIO = 3.2


#: per-run watchdog: a query stuck past this (e.g. a plan whose parallelism
#: collapsed, as the overlap join's had) is cancelled and recorded as a
#: timeout instead of blocking the remaining ~200 queries.
RUN_TIMEOUT_SEC = 300

#: stock ×10 max-task share above which the advisory=2m leg runs. 0.6 is
#: the same bound the absolute skew trigger uses: below it AQE coalescing
#: to ≤2 partitions explains the share without any defect.
ADV_SHARE_TRIGGER = 0.6

#: shuffle volume below which share numbers carry no signal at all
NONTRIVIAL_SHUFFLE = 4 * 1024 * 1024

_ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def _mb(s: dict | None) -> str:
    return f"{s['shuffle_read'] / 1048576:.1f}" if s else "?"


class SweepAbort(Exception):
    """A timed-out run survived cancellation: its orphan jobs would share
    the session with — and silently inflate — every later timing, so the
    sweep must stop rather than record corrupted ratios."""


def _run(fn, spark, d, capture: bool = False) -> tuple[float, int, dict | None]:
    box: dict = {}
    group = f"registry-scale-{id(box)}"
    before = shuffle_stage_keys(spark) if capture else None

    def target():
        try:
            # job group is driver-thread-local: tagging inside the worker
            # thread lets the watchdog cancel THIS query's jobs precisely
            try:
                spark.sparkContext.setJobGroup(group, "registry-scale run", True)
            except Exception:
                pass
            t0 = time.perf_counter()
            n = fn(spark, d).count()
            box["t"], box["n"] = round(time.perf_counter() - t0, 3), n
        except BaseException as exc:  # surfaced to the sweep loop
            box["err"] = exc

    th = threading.Thread(target=target, daemon=True)
    th.start()
    th.join(RUN_TIMEOUT_SEC)
    timed_out = th.is_alive()
    if timed_out:
        try:
            spark.sparkContext.cancelJobGroup(group)
        except Exception:
            try:
                spark.sparkContext.cancelAllJobs()
            except Exception:
                pass
        th.join(30)
        if th.is_alive():
            raise SweepAbort(
                f"run exceeded {RUN_TIMEOUT_SEC}s and survived cancellation"
            )
        # the thread usually dies with a cancellation exception in box —
        # report the timeout, not the opaque Py4J error it decayed into
        raise TimeoutError(f"run exceeded {RUN_TIMEOUT_SEC}s (cancelled)")
    if "err" in box:
        raise box["err"]
    return box["t"], box["n"], (shuffle_delta(spark, before) if capture else None)


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    only: set[str] | None = None
    argv = []
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = {q.strip() for q in a[len("--only="):].split(",") if q.strip()}
        else:
            argv.append(a)
    base = argv[0] if len(argv) > 0 else "/root/testdata/sf0.1"
    big = argv[1] if len(argv) > 1 else os.path.join(repo, ".scale", "sf1_x10")
    out = argv[2] if len(argv) > 2 else "/tmp/registry_scale.json"

    from meos_rs_spark.registry import load_registry
    from tools.probekit import bench_session

    assert _ADVISORY in CONTEST_CONFS  # reset_confs must cover what we set
    registry = load_registry()
    if only is not None:
        missing = only - set(registry)
        if missing:
            raise SystemExit(f"--only names unknown queries: {sorted(missing)}")
        registry = {n: s for n, s in registry.items() if n in only}
    spark = bench_session("meos-rs-spark-registry-scale")

    results: dict[str, dict] = {}
    t_start = time.time()
    ticks_sweep = cpu_ticks()
    load_start = load1()
    for name, spec in registry.items():
        try:
            _run(spec.fn, spark, WARM_DIR)
            # per-query hypervisor steal over BOTH timed legs: ratios from a
            # loud window must self-describe (r13: a neighbor storm inflated
            # a whole sweep's ratios 3-5x uniformly and only an untouched-
            # query control experiment could prove it was the box — now
            # every row carries its own noise reading)
            ticks_q = cpu_ticks()
            tb, nb, sb = _run(spec.fn, spark, base, capture=True)
            tg, ng, sg = _run(spec.fn, spark, big, capture=True)
            ratio = round(tg / tb, 2) if tb > 0 else float("inf")
            if ratio > FLAG_RATIO:
                # confirm: a single noisy run must not flag a query
                tb = min(tb, _run(spec.fn, spark, base)[0])
                tg = min(tg, _run(spec.fn, spark, big)[0])
                ratio = round(tg / tb, 2) if tb > 0 else float("inf")
            # max-partition share: the single-task bottleneck signature 32
            # fast local cores hide behind wall-clock (r8 VERDICT item 4).
            # Two triggers: (a) the share GROWS with scale on a non-trivial
            # shuffle — a healthy plan's share shrinks as partitions
            # multiply; (b) ABSOLUTE concentration on a shuffle too big for
            # AQE coalescing to explain — under the stock 64 MB advisory a
            # healthy >128 MB shuffle coalesces to ≥2 partitions (share
            # ≤ ~0.5), so >0.6 there is a real partitioning defect, not the
            # local-mode artifact. (Growth alone can't fire once the base
            # share is ≥ ~0.48 — the both-scales-serialized case needs (b).)
            share_b = task_share(sb)  # capture legs are single runs
            share_g = task_share(sg)
            # (named `nontrivial`, NOT `big` — that's the fixture dir)
            nontrivial = sg is not None and sg["shuffle_read"] > NONTRIVIAL_SHUFFLE
            # standing advisory leg (r9 VERDICT item 5): a concentrated
            # stock share re-runs under a 2 MB advisory; collapse there
            # classifies the concentration as the AQE-coalescing artifact
            # and suppresses the skew flag, persistence confirms it.
            t_adv = share_adv = None
            if nontrivial and share_g > ADV_SHARE_TRIGGER:
                try:
                    spark.conf.set(_ADVISORY, "2m")
                    t_adv, _, s_adv = _run(spec.fn, spark, big, capture=True)
                    # a None delta (status store unreachable) is NOT an
                    # observed collapse — it must stay null, not read 0.0
                    share_adv = task_share(s_adv) if s_adv is not None else None
                except SweepAbort:
                    raise  # orphan jobs corrupt every later timing
                except Exception:
                    pass  # auxiliary leg: a failure must not void the row
                finally:
                    reset_confs(spark)
            aqe_artifact = share_adv is not None and share_adv <= ADV_SHARE_TRIGGER
            skew_flag = not aqe_artifact and (
                (nontrivial and share_g > 2 * share_b + 0.05)
                or (
                    sg is not None
                    and sg["shuffle_read"] > 128 * 1024 * 1024
                    and share_g > ADV_SHARE_TRIGGER
                )
            )
            q_steal = steal_pct(ticks_q, cpu_ticks())
            results[name] = {
                "t_base": tb,
                "t_x10": tg,
                "ratio": ratio,
                "steal_pct": q_steal,
                "loud": q_steal is not None and q_steal > 1.0,
                "rows_base": nb,
                "rows_x10": ng,
                "flag": ratio > FLAG_RATIO,
                "shuffle_base": sb,
                "shuffle_x10": sg,
                "max_task_share_base": share_b,
                "max_task_share_x10": share_g,
                "t_x10_adv2m": t_adv,
                "max_task_share_x10_adv2m": share_adv,
                "aqe_artifact": aqe_artifact,
                "skew_flag": skew_flag,
            }
            mark = "  <-- FLAG" if ratio > FLAG_RATIO else ""
            if q_steal is not None and q_steal > 1.0:
                mark += f"  [loud steal={q_steal}%]"
            if skew_flag:
                mark += "  <-- SKEW-SHARE"
            shuf = (
                f"  shuf {_mb(sb)}->{_mb(sg)}MB maxshare "
                f"{share_b:.2f}->{share_g:.2f}"
                if sb and sg
                else ""
            )
            if share_adv is not None:
                shuf += (
                    f" adv2m {share_adv:.2f}"
                    + (" (AQE artifact)" if aqe_artifact else " (PERSISTS)")
                )
            print(
                f"{name}: {tb}s -> {tg}s  ratio {ratio}  "
                f"(rows {nb} -> {ng}){shuf}{mark}",
                flush=True,
            )
        except SweepAbort as exc:  # orphan jobs would corrupt later timings
            results[name] = {"error": f"SweepAbort: {exc}"[:300]}
            print(f"{name}: ABORTING SWEEP — {exc}", flush=True)
            break
        except Exception as exc:  # record, keep sweeping
            results[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
            print(f"{name}: ERROR {type(exc).__name__}: {exc}"[:200], flush=True)

    flagged = [n for n, r in results.items() if r.get("flag")]
    skew_flagged = [n for n, r in results.items() if r.get("skew_flag")]
    aqe_artifacts = [n for n, r in results.items() if r.get("aqe_artifact")]
    errored = [n for n, r in results.items() if "error" in r]
    loud_rows = [n for n, r in results.items() if r.get("loud")]
    summary = {
        "n_queries": len(results),
        "sweep_steal_pct": steal_pct(ticks_sweep, cpu_ticks()),
        "load1_start": load_start,
        "load1_end": load1(),
        "n_loud": len(loud_rows),
        "loud": loud_rows,
        "n_flagged": len(flagged),
        "flagged": flagged,
        "n_skew_flagged": len(skew_flagged),
        "skew_flagged": skew_flagged,
        "adv_share_trigger": ADV_SHARE_TRIGGER,
        "aqe_artifacts": aqe_artifacts,
        "n_errored": len(errored),
        "errored": errored,
        "wall_clock_total_sec": round(time.time() - t_start, 1),
        "flag_ratio": FLAG_RATIO,
        "base": base,
        "big": big,
        "queries": results,
    }
    with open(out, "w", encoding="utf-8") as fh:
        json.dump(summary, fh, indent=1)
    print(
        f"\n{len(results)} queries, {len(flagged)} flagged (> {FLAG_RATIO}x), "
        f"{len(skew_flagged)} skew-share flagged, "
        f"{len(errored)} errored, {summary['wall_clock_total_sec']}s total -> {out}",
        flush=True,
    )


if __name__ == "__main__":
    main()
