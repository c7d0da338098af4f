"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]; prints ONE JSON line for the driver
(BENCH_r{N}.json).

Query set mirrors the reference's instrumented pipeline (BASELINE.md): the
E3 scan→group→agg→sort→limit aggregation plus the heaviest operators per
family — trajectory assembly (A5), multi-way join, window battery, MinHash
LSH dedup, cosine top-k. Each timing covers plan build + execution to a
count/collect the way the reference times plan-exec (ais_to_db.rs:117,
142-148).

Each query is timed three times and the MIN is reported (all runs printed
on comment lines AND carried in the JSON's ``noise`` block): this box is a
shared VM with intermittent multi-× host-level slowdowns (observed:
identical plans, same session, 2.5s vs 49s; BENCH_r08's committed reading
was ~18% uniform host noise), and steady-state is the number that
transfers to a real cluster. Run-to-run plan and data are identical, so
min-of-3 measures the engine, not the neighbor's workload. For that to
hold, every query starts from the canonical session confs
(``tools.probekit.reset_confs`` — the same helper the contest probes use
per leg, so a crashed probe can never leak confs into a bench number;
r8 VERDICT item 3), and every timed run does full work: ``stage()``
rewrites its staging table on each call, so a repeat run of a
staging-backed query (dedup_minhash_lsh) pays the producing stages and
the parquet write again.

Since r11 the harness GATES on its own noise floor instead of only
describing it (r10 VERDICT item 3 — two of the last three committed
artifacts were host noise the manual quiet-box protocol had to filter
after the fact): before each timed sweep it idle-samples hypervisor steal
for ~30 s and between sittings it waits for the neighbor to go quiet; a
sitting is QUIET when its pre-sample and sweep steal are both ≤ 0.1% and
every query's two best runs land within 1.4× of each other (spread2 —
see the SPREAD2_QUIET note for why the verdict's literal spread_max gate
would reject the r9 gold-standard sitting). It runs up to
$SPARK_GRAFT_BENCH_SITTINGS (default
4) sittings — at least $SPARK_GRAFT_BENCH_MIN_SITTINGS (default 2, so the
first sitting doubles as a full-pipeline warm pass; measured same-steal
sittings vary 9.7→7.7 s), stopping at the first quiet one past the
minimum — and emits the minimum-total QUIET sitting (falling back to the
overall minimum with ``quiet: false`` when no sitting qualifies — the
honest loud reading, flagged as such).
All sittings ride in ``noise.sittings`` so the discarded readings stay on
record. Warm-up runs once, not per sitting: plans/codegen are identical
across sittings, and billing compilation to sitting 1 would bias the
quiet-vs-loud comparison.
"""

from __future__ import annotations

import json
import os
import time

BENCH_QUERIES = [
    "flagship_trip_pipeline",
    "rel_pricing_summary",
    "rel_join_multiway",
    "win_running_total",
    "traj_assembly",
    "dedup_minhash_lsh",
    "sim_cosine_topk",
    # round-3 session-3 additions for family breadth: the window-heavy
    # mobility interpolator and the ANN scale path. (text_curation_pipeline
    # was measured at 5.4s — dominated by the iterative connected-components
    # loop — and deliberately left out: it is a composition of operators
    # already benched individually, not a new hot path.)
    "traj_resample_linear",
    "sim_ann_ivf",
    # round-3 session-4 additions: the PQ codebook ANN path (the third ANN
    # family — codes are 64x smaller than raw vectors, the true 100 TB scan)
    # and the map-only PII redaction pass (regex-heavy codegen throughput).
    "sim_pq_ann",
    "text_pii_scrub",
    # round-3 session-5 addition: the SemDeDup path (cluster-then-prune
    # semantic dedup — the embedding-space answer to MinHash; pair work is
    # confined to k-means cells so the hot loop is cell-local)
    "dedup_semantic",
    # round-4 additions: the 3D struct-fold family (single-shuffle assembly +
    # sequential decimal fold over the assembled array) and the CRS kernel
    # (Arrow-batched pandas_udf throughput — the pyproj-shaped slot)
    "traj_stbox_z_path",
    "traj_transform_utm",
    # round-5 addition: the conic CRS closed form (second projection family
    # through the same Arrow-batched kernel slot)
    "traj_transform_lcc",
    # round-7 addition: the multimodal family's heaviest stage (baseline
    # JPEG encode→decode per document through mapInPandas) — the first
    # codec-bound entry in the bench set, measuring Arrow batch + Python
    # kernel throughput end-to-end
    "mm_jpeg_features",
]

#: quiet-sitting thresholds (r10 VERDICT item 3): steal ≤ 0.1% is the
#: measured quiet-box band (r9's committed 8.856 s sat at 0.01%; the noisy
#: r10 artifact at 1.43%). The verdict's literal spread gate was
#: spread_max ≤ 1.4, but the r9 GOLD-STANDARD quiet artifact itself reads
#: spread_max 1.705 — with min-of-3 as the estimator, one cold first run
#: per query dominates max/min, so that gate would reject the very sitting
#: the protocol is calibrated against. The steady-state jitter signal is
#: the ratio of each query's two BEST runs (``spread2``): on a quiet box
#: two of three full-work runs land within ~10%, while host contention
#: inflates all runs and keeps spread2 high. spread_max stays reported for
#: cross-round continuity; the QUIET verdict uses spread2_max.
STEAL_QUIET_PCT = 0.1
SPREAD2_QUIET = 1.4

#: structural-regression gate (r12 VERDICT item 4): host noise moves every
#: query's absolute time together, so a query's SHARE of the sitting total
#: is noise-invariant — a share that moves >1.5x against its own trailing
#: median is a plan/shape change, not the box (the r12 miss: the XY
#: envelope tripled traj_stbox_z_path's share while the sweep's uniform
#: inflation was written off as box state). Suspects land in
#: ``noise.structural_suspects`` and the round's preflight must A/B each
#: one warm before the round closes.
SHARE_MOVE_FLAG = 1.5
#: ignore shares of sub-50 ms queries: at the 3-decimal rounding floor a
#: one-tick move fakes a big ratio
SHARE_FLOOR_S = 0.05
TRAILING_ROUNDS = 3


def _trailing_rounds(repo_dir: str, sf) -> list[dict[str, float]]:
    """Per-round share-of-total dicts from the last TRAILING_ROUNDS committed
    BENCH_r*.json artifacts at the SAME sf (shares shift with scale —
    fixed overhead amortizes differently; missing/unparseable/other-sf
    artifacts are skipped, so the gate degrades to no-op on a fresh repo
    or an off-scale smoke run)."""
    import glob
    import re

    rounds = []
    numbered = []
    for path in glob.glob(os.path.join(repo_dir, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if m:  # a stray non-numbered file must not crash the gate
            numbered.append((int(m.group(1)), path))
    for _, path in sorted(numbered):
        try:
            with open(path, encoding="utf-8") as fh:
                art = json.load(fh)
            parsed = art.get("parsed", art)
            if parsed is None:
                # r13-class artifact: the driver's 2000-char stdout tail
                # decapitated the final JSON line (parsed: null), but the
                # tail keeps the line's BACK half — the queries dict and
                # the sf — intact. Salvage them so the structural gate's
                # trailing window doesn't silently lose a round.
                parsed = _salvage_tail(art.get("tail") or "")
            q = parsed.get("queries")
            total = sum(q.values())
            if q and total > 0 and parsed.get("sf") == sf:
                rounds.append({n: t / total for n, t in q.items()})
        except Exception:
            continue
    return rounds[-TRAILING_ROUNDS:]


def _salvage_tail(tail: str) -> dict:
    """Recover {queries, sf} from a head-truncated final bench line.

    The truncation cuts the line's PREFIX, so `"queries": {...}` and
    `"sf": ...` survive whenever the tail window (2000 chars) covers them
    — true for every emitted format to date. Returns {} (not None) when
    nothing recoverable, so the caller's .get chain stays total."""
    import re

    mq = re.search(r'"queries":\s*(\{[^{}]*\})', tail)
    ms = re.search(r'"sf":\s*([0-9.]+|"[^"]*")', tail)
    if not mq or not ms:
        return {}
    try:
        queries = json.loads(mq.group(1))
        sf = json.loads(ms.group(1))
    except ValueError:
        return {}
    if not all(isinstance(v, (int, float)) for v in queries.values()):
        return {}
    return {"queries": queries, "sf": sf}


def _trailing_shares(repo_dir: str, sf) -> dict[str, list[float]]:
    """Aggregated view of ``_trailing_rounds``: per-query share history."""
    shares: dict[str, list[float]] = {}
    for rnd in _trailing_rounds(repo_dir, sf):
        for n, s in rnd.items():
            shares.setdefault(n, []).append(s)
    return shares


def structural_suspects(
    timings: dict[str, float],
    sf,
    history: dict[str, list[float]] | list[dict[str, float]] | None = None,
) -> dict[str, dict]:
    """Queries whose share of this sitting moved >SHARE_MOVE_FLAG x against
    their trailing-median share (both directions — a structural speedup is
    worth a look too, it may be dropped work). ``history`` defaults to the
    committed artifacts (injectable for tests): a LIST of per-round share
    dicts gets the intersection renormalization below; a DICT of per-query
    share lists is the legacy pre-comparable form and is used as-is.

    Shares are relative (r13 ADVICE item 4): one genuinely changed query —
    or a BENCH_QUERIES membership change between rounds — shifts every
    OTHER query's share of total, so a single large mover could mass-flag
    or mask the rest. Both sides are therefore renormalized over the
    intersection of query names present in the sitting AND in every
    trailing round before any ratio is taken; names outside that common
    set cannot be ratio-judged and are skipped (they are new or retired
    bench members, which the round's preflight reviews anyway).
    """
    import statistics

    if history is None:
        history = _trailing_rounds(os.path.dirname(os.path.abspath(__file__)), sf)
    if isinstance(history, dict):
        shares_by_name = history
        common = set(timings)
        total = sum(timings.values())
    else:
        rounds = [r for r in history if r]
        common = set(timings)
        for r in rounds:
            common &= set(r)
        if not rounds or not common:
            return {}
        shares_by_name = {}
        for r in rounds:
            denom = sum(r[n] for n in common)
            if denom <= 0:
                continue
            for n in common:
                shares_by_name.setdefault(n, []).append(r[n] / denom)
        total = sum(timings[n] for n in common)
    if total <= 0:
        return {}
    out: dict[str, dict] = {}
    for name, t in timings.items():
        if name not in common:
            continue
        hist = shares_by_name.get(name, [])
        if not hist or t < SHARE_FLOOR_S:
            continue
        med = statistics.median(hist)
        if med * total < SHARE_FLOOR_S:
            continue
        share = t / total
        ratio = share / med
        if ratio > SHARE_MOVE_FLAG or ratio < 1 / SHARE_MOVE_FLAG:
            out[name] = {
                "share": round(share, 4),
                "median_share": round(med, 4),
                "ratio": round(ratio, 3),
            }
    return out


def _sweep(spark, registry, sf_dir):
    """One timed sitting over BENCH_QUERIES; returns the sitting record."""
    from tools.probekit import (
        cpu_ticks,
        load1,
        reset_confs,
        steal_pct,
        timed_count,
    )

    load_start = load1()
    ticks_start = cpu_ticks()
    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    for name in BENCH_QUERIES:
        fn = registry[name].fn
        reset_confs(spark)  # canonical session per query, by construction
        timings[name], n, all_runs[name] = timed_count(
            lambda: fn(spark, sf_dir).count()
        )
        print(f"# {name}: {timings[name]}s ({n} rows; runs={all_runs[name]})", flush=True)

    # spread is a NOISE signal, so queries at the 3-decimal rounding floor
    # are excluded (a [0.001, 0.004] pair is quantization, not host noise);
    # 1.0 when nothing qualifies, so the JSON stays well-formed
    spreads = [max(r) / min(r) for r in all_runs.values() if min(r) >= 0.005]
    # spread2: two-best-runs ratio per query — the steady-state jitter the
    # QUIET verdict gates on (see SPREAD2_QUIET)
    spreads2 = [
        sorted(r)[1] / min(r) for r in all_runs.values()
        if len(r) >= 2 and min(r) >= 0.005
    ]
    return {
        "total": round(sum(timings.values()), 3),
        "timings": timings,
        "runs": all_runs,
        "load1_start": load_start,
        "load1_end": load1(),
        # hypervisor steal over the sweep: the host-contention signal the
        # guest load average cannot see
        "steal_pct": steal_pct(ticks_start, cpu_ticks()),
        "spread_max": round(max(spreads), 3) if spreads else 1.0,
        "spread2_max": round(max(spreads2), 3) if spreads2 else 1.0,
    }


def _is_quiet(sitting) -> bool:
    """steal ≤ 0.1% (pre-sample AND sweep; None = unmeasurable, not loud)
    and two-best-runs jitter ≤ 1.4 on every query."""
    for key in ("pre_steal_pct", "steal_pct"):
        v = sitting.get(key)
        if v is not None and v > STEAL_QUIET_PCT:
            return False
    return sitting["spread2_max"] <= SPREAD2_QUIET


def _should_run_sitting(
    i, sittings, max_sittings, overtime_cap, elapsed_s, time_budget_s,
    retry_ceiling_s=0.0,
) -> bool:
    """Sitting-loop admission (r14 VERDICT item 3): the first
    ``max_sittings`` always run (subject to main's quiet-early-exit);
    OVERTIME sittings up to ``overtime_cap`` run only while NO sitting has
    qualified as quiet and the wall-clock budget has room — so a loud box
    gets extra chances at a quiet reading without a permanently-loud box
    overstaying the driver's patience.

    Budget check is ADMISSION-WITH-HEADROOM, not elapsed-only (r15 review
    find): an admitted sitting still runs a full sweep plus up to 4×30 s
    pre-sample retries, so admitting at elapsed=budget-ε would overrun by
    whole minutes exactly on the loud boxes the feature targets.

    r15 ADVICE refinement: a prior sitting's wall time only includes the
    retries IT happened to hit, so the estimate now adds the FIXED retry
    ceiling (``retry_ceiling_s`` = 4 × presample_s, passed by main) on top
    of the worst completed sitting's sweep-only time (``sweep_s``; records
    predating that field fall back to their full ``wall_s``, which
    over-counts retries — conservative). Sittings with no wall record at
    all degrade to elapsed-only admission, as before."""
    if i < max_sittings:
        return True
    worst = max(
        (s.get("sweep_s") or s.get("wall_s") or 0.0 for s in sittings),
        default=0.0,
    )
    headroom = worst + retry_ceiling_s if worst > 0 else 0.0
    return (
        i < overtime_cap
        and not any(s["quiet"] for s in sittings)
        and elapsed_s + headroom <= time_budget_s
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    max_sittings = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_SITTINGS", "4")))
    # run at least 2 sittings even when sitting 1 is quiet: measured on
    # this box (PREFLIGHT_r11), three equally-steal-quiet sittings read
    # 9.75 / 9.01 / 7.74 s — the first sitting is biased high by whatever
    # preceded it (page cache, frequency state), variance steal cannot
    # see. Sitting 1 doubles as the full-pipeline warm pass; the best
    # QUIET sitting is emitted either way.
    min_sittings = max(
        1,
        min(
            max_sittings,
            int(os.environ.get("SPARK_GRAFT_BENCH_MIN_SITTINGS", "2")),
        ),
    )
    presample_s = float(os.environ.get("SPARK_GRAFT_BENCH_PRESAMPLE", "30"))
    from meos_rs_spark.registry import load_registry
    from tools.probekit import bench_session, sample_steal, warm_up

    spark = bench_session("meos-rs-spark-bench")
    registry = load_registry()

    if os.path.isdir("/root/testdata/sf0.001"):
        warm_up(registry, BENCH_QUERIES, spark)
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    # time-budgeted overtime (r14 VERDICT item 3): the r14 driver sitting
    # was loud in all 4 sittings (0/4 quiet, artifact overstated the
    # engine by ~1 s) and today's builder pattern — quiet PRE-samples,
    # loud SWEEPS — shows the noise lands mid-sweep where pre-sampling
    # can't see it. When no sitting has qualified as quiet yet, up to two
    # OVERTIME sittings run beyond max_sittings, gated by a wall-clock
    # budget so a permanently-loud box still finishes well inside the
    # driver's patience (default 900 s for the whole sitting loop).
    overtime_cap = max_sittings + int(
        os.environ.get("SPARK_GRAFT_BENCH_OVERTIME", "2")
    )
    time_budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_TIME_BUDGET", "900"))
    loop_start = time.time()

    sittings = []
    i = -1
    while True:
        i += 1
        if not _should_run_sitting(
            i, sittings, max_sittings, overtime_cap,
            time.time() - loop_start, time_budget_s,
            retry_ceiling_s=4 * presample_s,
        ):
            break
        if i >= max_sittings:
            print(
                f"# overtime sitting {i + 1}: 0 quiet so far, "
                f"{round(time.time() - loop_start)}s elapsed of {time_budget_s:.0f}s budget",
                flush=True,
            )
        # wait-for-quiet: a loud pre-sample costs ~30 s to detect but a
        # loud SWEEP costs a full 16-query × 3-run sitting — so re-sample
        # (up to 4×) before burning one. The last pre-sample is recorded
        # whether or not it went quiet; the sweep runs regardless on the
        # final attempt so a permanently-loud box still yields an honest
        # quiet:false artifact instead of nothing.
        t_sit = time.time()
        pre = None
        for attempt in range(4):
            pre = sample_steal(presample_s) if presample_s > 0 else None
            if pre is None or pre <= STEAL_QUIET_PCT:
                break
            print(
                f"# sitting {i + 1}: pre-sample steal={pre}% — waiting for quiet "
                f"({attempt + 1}/4)",
                flush=True,
            )
        # r12 ADVICE: an unreadable /proc/stat (or presample disabled)
        # reads as None, which _is_quiet treats as quiet-eligible by
        # design — but 'steal=None%' in the artifact is easy to misread
        # as a measured zero. Say 'unmeasured' and flag it in the noise
        # block (steal_measured) so a spread2-only quiet verdict is
        # visibly weaker.
        _fmt = lambda v: "unmeasured" if v is None else f"{v}%"  # noqa: E731
        denom = max_sittings if i < max_sittings else overtime_cap
        print(
            f"# sitting {i + 1}/{denom}: pre-sample steal={_fmt(pre)}",
            flush=True,
        )
        t_sweep = time.time()
        sitting = _sweep(spark, registry, sf_dir)
        sitting["pre_steal_pct"] = pre
        # sweep-only wall time — the overtime admission's headroom base
        # (the retry ceiling is added as a fixed term, r15 ADVICE)
        sitting["sweep_s"] = round(time.time() - t_sweep, 1)
        # full sitting wall time (pre-sample retries + sweep), kept for
        # the artifact and as the fallback for pre-r16 record shapes
        sitting["wall_s"] = round(time.time() - t_sit, 1)
        sitting["quiet"] = _is_quiet(sitting)
        sittings.append(sitting)
        print(
            f"# sitting {i + 1}: total={sitting['total']}s "
            f"steal={_fmt(sitting['steal_pct'])} spread_max={sitting['spread_max']} "
            f"spread2_max={sitting['spread2_max']} quiet={sitting['quiet']}",
            flush=True,
        )
        if sitting["quiet"] and i + 1 >= min_sittings:
            break

    quiet = [s for s in sittings if s["quiet"]]
    best = min(quiet or sittings, key=lambda s: s["total"])
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    suspects = structural_suspects(best["timings"], sf_val)
    # Per-run / per-sitting / suspect DETAIL goes on '#' comment lines
    # (human-auditable in the artifact's stdout tail, driver-ignored): the
    # driver captures only the LAST 2000 chars of stdout and parses the
    # final JSON line, and BENCH_r13's single line — carrying runs + 4
    # sittings + suspects — crossed that window and got head-truncated
    # (parsed: null). The final line stays compact by construction;
    # tests/test_probekit.py pins its worst-case length < 1900.
    if suspects:
        print(f"# structural_suspects (share vs trailing median): {suspects}", flush=True)
    print(f"# runs: {best['runs']}", flush=True)
    print(f"# load1: {best['load1_start']} -> {best['load1_end']}", flush=True)
    print(
        "# sittings: "
        + json.dumps(
            [
                {
                    "total": s["total"],
                    "pre_steal_pct": s["pre_steal_pct"],
                    "steal_pct": s["steal_pct"],
                    "spread_max": s["spread_max"],
                    "spread2_max": s["spread2_max"],
                    "quiet": s["quiet"],
                }
                for s in sittings
            ]
        ),
        flush=True,
    )
    print(render_final_line(best, sittings, sf_val, suspects), flush=True)


def render_final_line(best, sittings, sf_val, suspects) -> str:
    """The ONE driver-parsed JSON line: metric/value/unit/queries/sf plus a
    compact noise summary. Detail (runs, per-sitting records, suspect
    shares) lives on preceding '#' lines — this line must fit the driver's
    2000-char stdout tail whatever the sitting count."""
    return json.dumps(
        {
            "metric": "headline_queries_wall_clock",
            "value": best["total"],
            "unit": "sec",
            "queries": best["timings"],
            "sf": sf_val,
            "noise": {
                "quiet": best["quiet"],
                # false when either steal leg was unmeasurable (off-Linux
                # or presample disabled): quiet then rests on spread2
                # alone — intentional, but the artifact must say so
                "steal_measured": best["steal_pct"] is not None
                and best["pre_steal_pct"] is not None,
                "steal_pct": best["steal_pct"],
                "pre_steal_pct": best["pre_steal_pct"],
                "spread_max": best["spread_max"],
                "spread2_max": best["spread2_max"],
                "sittings": len(sittings),
                "quiet_sittings": sum(1 for s in sittings if s["quiet"]),
                # names only — shares/ratios are on the comment line
                "structural_suspects": sorted(suspects),
            },
        }
    )


if __name__ == "__main__":
    main()
