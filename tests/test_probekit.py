"""The shared probe plumbing (tools/probekit) and its consumers: the
r8 consolidation must be behavior-neutral, so pin the timing contract
(min-of-N, rounded, full run list preserved) and that every consumer
still imports cleanly — an import error in bench.py would take out the
driver's per-round BENCH artifact."""

from __future__ import annotations

from tools.probekit import (
    CONTEST_CONFS,
    WARM_DIR,
    load1,
    reset_confs,
    timed_count,
)


def test_timed_count_returns_min_rows_and_all_runs():
    calls = []

    def fn():
        calls.append(1)
        return 42

    best, n, runs = timed_count(fn, runs=3)
    assert len(calls) == 3
    assert n == 42
    assert len(runs) == 3
    assert best == min(runs)
    # rounded to ms like the inline loops it replaced
    assert all(r == round(r, 3) for r in runs)


def test_timed_count_defaults_to_min_of_three():
    """r8 VERDICT item 3: the committed BENCH artifact must be the
    noise-filtered reading — min-of-2 left ~18% host noise in BENCH_r08."""
    calls = []
    timed_count(lambda: calls.append(1) or 1)
    assert len(calls) == 3


def test_reset_confs_returns_the_session_to_canonical(spark):
    """Conf hygiene by construction (the r8 salt-contest drift class): after
    a leg sets any contest conf, reset_confs must erase it."""
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    reset_confs(spark)
    # contest confs are back to engine defaults (unset → default values)
    assert (
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        != "2m"
    )
    assert (
        spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
        == "true"
    )


def test_contest_conf_list_covers_the_salt_contest_legs():
    """Every conf probe_skew's legs set must be in the shared reset list —
    a key outside it silently escapes the per-leg reset."""
    import inspect

    import tools.probe_skew as ps

    src = inspect.getsource(ps.salt_contest)
    assert "assert set(skew_confs) <= set(CONTEST_CONFS)" in src
    assert "spark.sql.adaptive.coalescePartitions.enabled" in CONTEST_CONFS


def test_load1_reads_the_host():
    v = load1()
    assert v is None or (isinstance(v, float) and v >= 0.0)


def test_steal_pct_math_and_host_read():
    from tools.probekit import cpu_ticks, steal_pct

    assert steal_pct((10, 1000), (20, 2000)) == 1.0
    assert steal_pct(None, (1, 2)) is None
    assert steal_pct((1, 2), (1, 2)) is None  # no elapsed ticks
    t = cpu_ticks()
    assert t is None or (t[1] >= t[0] >= 0)


def test_cpu_ticks_denominator_excludes_guest_fields(tmp_path, monkeypatch):
    """r9 ADVICE: guest/guest_nice (fields 9-10) are already folded into
    user/nice on Linux, so the total must be user..steal only — summing all
    ten fields double-counts guest time and understates steal exactly on
    the guest-heavy hosts the metric exists for."""
    import builtins

    from tools import probekit

    #            user nice sys idle iowait irq softirq steal guest gnice
    line = "cpu  100  10   20  500  5      1   2       50    30    3\n"
    stat = tmp_path / "stat"
    stat.write_text(line)
    real_open = builtins.open
    monkeypatch.setattr(
        builtins,
        "open",
        lambda f, *a, **k: real_open(stat if f == "/proc/stat" else f, *a, **k),
    )
    assert probekit.cpu_ticks() == (50, 100 + 10 + 20 + 500 + 5 + 1 + 2 + 50)


def test_task_share_per_run_semantics():
    """One share definition for every probe artifact: max task bytes over
    the PER-RUN total (a delta spans all N identical runs)."""
    from tools.probekit import task_share

    d = {"shuffle_read": 100, "max_task_read": 30}
    assert task_share(d) == 0.3
    assert task_share(d, runs=2) == 0.6
    assert task_share(None) == 0.0
    assert task_share({"shuffle_read": 0, "max_task_read": 0}) == 0.0


def test_sweep_runner_loop_survives_multiple_queries(spark, monkeypatch, tmp_path):
    """Regression for the r9 `big`-shadowing bug: the skew-flag block
    assigned a bool to the ×10 fixture-dir variable, so every query after
    the FIRST ran against `True` and errored — the sweep must complete
    multiple registry entries against real dirs end to end."""
    import json
    import sys

    import meos_rs_spark.registry as registry_mod
    import tools.run_registry_scale as rrs

    full = registry_mod.load_registry()
    sub = {n: full[n] for n in ("rel_global_metrics", "scalar_strings")}
    monkeypatch.setattr(registry_mod, "load_registry", lambda: sub)
    out = tmp_path / "sweep.json"
    monkeypatch.setattr(
        sys,
        "argv",
        ["run_registry_scale", "/root/testdata/sf0.001", "/root/testdata/sf0.001", str(out)],
    )
    rrs.main()
    got = json.loads(out.read_text())
    assert got["n_queries"] == 2
    assert got["errored"] == []
    for name in sub:
        row = got["queries"][name]
        assert "error" not in row and row["t_base"] > 0


def test_sweep_runner_only_filter_and_advisory_leg(spark, monkeypatch, tmp_path):
    """r9 VERDICT item 5: the advisory=2m re-run is a standing sweep column.
    Forcing the trigger (share > -1 on any shuffle > -1 bytes) must produce
    the adv2m time/share fields and a bool artifact-vs-persists verdict for
    a query with a real shuffle; --only must restrict the sweep to the
    named queries and reject unknown names."""
    import json
    import sys

    import pytest

    import tools.run_registry_scale as rrs

    monkeypatch.setattr(rrs, "ADV_SHARE_TRIGGER", -1.0)
    monkeypatch.setattr(rrs, "NONTRIVIAL_SHUFFLE", -1)
    adv_default = spark.conf.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    )
    out = tmp_path / "sweep.json"
    monkeypatch.setattr(
        sys,
        "argv",
        [
            "run_registry_scale",
            "/root/testdata/sf0.001",
            "/root/testdata/sf0.001",
            str(out),
            "--only=rel_global_metrics",
        ],
    )
    rrs.main()
    got = json.loads(out.read_text())
    assert got["n_queries"] == 1 and got["errored"] == []
    row = got["queries"]["rel_global_metrics"]
    assert row["t_x10_adv2m"] is not None and row["t_x10_adv2m"] > 0
    assert row["max_task_share_x10_adv2m"] is not None
    assert isinstance(row["aqe_artifact"], bool)
    # the leg must leave the session canonical (advisory conf restored)
    assert (
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        == adv_default
    )

    monkeypatch.setattr(
        sys, "argv", ["run_registry_scale", "--only=no_such_query"]
    )
    with pytest.raises(SystemExit, match="no_such_query"):
        rrs.main()


def test_advisory_leg_null_capture_is_not_a_collapse(spark, monkeypatch, tmp_path):
    """Review find (r10): task_share(None) is 0.0, so a failed shuffle
    capture on the advisory leg used to read as an observed share
    collapse — aqe_artifact True, skew flag suppressed, with no
    measurement behind it. A None delta must stay null and must NOT
    classify."""
    import json
    import sys

    import tools.run_registry_scale as rrs

    real_run = rrs._run

    def run_dropping_advisory_capture(fn, spark_, d, capture=False):
        t, n, s = real_run(fn, spark_, d, capture)
        if capture and spark_.conf.get(rrs._ADVISORY, None) == "2m":
            s = None  # simulate an unreachable status store on this leg
        return t, n, s

    monkeypatch.setattr(rrs, "_run", run_dropping_advisory_capture)
    monkeypatch.setattr(rrs, "ADV_SHARE_TRIGGER", -1.0)
    monkeypatch.setattr(rrs, "NONTRIVIAL_SHUFFLE", -1)
    out = tmp_path / "sweep.json"
    monkeypatch.setattr(
        sys,
        "argv",
        [
            "run_registry_scale",
            "/root/testdata/sf0.001",
            "/root/testdata/sf0.001",
            str(out),
            "--only=rel_global_metrics",
        ],
    )
    rrs.main()
    row = json.loads(out.read_text())["queries"]["rel_global_metrics"]
    assert row["max_task_share_x10_adv2m"] is None
    assert row["aqe_artifact"] is False


def test_shuffle_delta_attributes_a_querys_shuffle(spark):
    """The r9 sweep columns: a groupBy's shuffle volume must show up in the
    delta between two stage-set snapshots, with max-task ≤ total."""
    from pyspark.sql import functions as F

    from tools.probekit import shuffle_delta, shuffle_stage_keys

    before = shuffle_stage_keys(spark)
    assert before is not None  # classic local session: store reachable
    df = spark.range(0, 200_000).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("v")
    )
    df.groupBy("k").agg(F.sum("v")).count()
    d = shuffle_delta(spark, before)
    assert d is not None and d["n_stages"] >= 2
    assert d["shuffle_write"] > 0 and d["shuffle_read"] > 0
    assert 0 < d["max_task_read"] <= d["shuffle_read"]
    assert 0 < d["max_task_write"] <= d["shuffle_write"]
    # and a no-op window attributes nothing
    again = shuffle_stage_keys(spark)
    empty = shuffle_delta(spark, again)
    assert empty == {
        "shuffle_read": 0,
        "shuffle_write": 0,
        "max_task_read": 0,
        "max_task_write": 0,
        "n_stages": 0,
    }


def test_warm_dir_is_the_smallest_fixture():
    assert WARM_DIR.endswith("sf0.001")


def test_consumers_import_without_a_session():
    # module import must not build a SparkSession (bench_session is lazy)
    import bench
    import tools.probe_skew
    import tools.run_registry_scale

    assert callable(bench.main)
    assert callable(tools.probe_skew.main)
    assert callable(tools.run_registry_scale.main)


def test_bench_quiet_verdict_gates_on_steal_and_spread2():
    """The r11 noise gate (r10 VERDICT item 3): a sitting is quiet iff
    pre-sample AND sweep steal are <= 0.1% and every query's two best runs
    land within 1.4x. None steal (off-Linux) must read as unmeasurable,
    not loud; spread_max must NOT gate (the r9 gold-standard artifact
    reads spread_max 1.705 on a 0.01%-steal box)."""
    from bench import _is_quiet

    base = {"pre_steal_pct": 0.0, "steal_pct": 0.05, "spread2_max": 1.1,
            "spread_max": 1.705}  # r9-shaped: loud max/min, quiet two-best
    assert _is_quiet(dict(base))
    assert not _is_quiet(dict(base, steal_pct=0.11))
    assert not _is_quiet(dict(base, pre_steal_pct=1.43))
    assert not _is_quiet(dict(base, spread2_max=1.41))
    assert _is_quiet(dict(base, pre_steal_pct=None, steal_pct=None))


def test_bench_structural_gate_catches_the_r12_share_move():
    """r12 VERDICT item 4: the noise block diagnosed sitting-level noise but
    missed a single query's structural share move (the XY envelope tripled
    traj_stbox_z_path's per-row cost and the 1.37x sweep inflation hid it).
    structural_suspects compares each query's share-of-total against its
    trailing-3-artifact median — retro-check: feeding the committed r12
    timings must flag traj_stbox_z_path even with r12 itself polluting the
    trailing window; the share floor must mute rounding-floor queries; an
    off-scale run (no same-sf history) must degrade to no-op."""
    import json
    import os

    from bench import _trailing_shares, structural_suspects

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "BENCH_r12.json"), encoding="utf-8") as fh:
        r12 = json.load(fh)["parsed"]["queries"]
    # pinned r10/r11 shares for traj_stbox_z_path (0.026/0.023) so the
    # retro-check stays valid as future artifacts slide the real window
    hist = {"traj_stbox_z_path": [0.0264, 0.0227]}
    sus = structural_suspects(r12, 0.1, history=hist)
    assert "traj_stbox_z_path" in sus
    assert sus["traj_stbox_z_path"]["ratio"] > 1.5
    # sub-floor timings never flag, whatever their ratio
    tiny = {n: (0.001 if n == "traj_stbox_z_path" else t) for n, t in r12.items()}
    assert "traj_stbox_z_path" not in structural_suspects(tiny, 0.1, history=hist)
    # no same-sf history -> empty, not a crash (live artifact path)
    assert structural_suspects(r12, 123.0) == {}
    # the live reader only admits same-sf artifacts
    assert _trailing_shares(repo, 123.0) == {}
    assert "traj_stbox_z_path" in _trailing_shares(repo, 0.1)


def test_bench_sweep_spread2_is_two_best_runs_ratio():
    """spread2 excludes the cold first run by construction: min-of-3 with
    one slow outlier stays quiet; uniform inflation does not."""
    runs_cold_first = [0.424, 0.26, 0.286]  # r11-observed flagship shape
    runs_jittery = [0.30, 0.26, 0.40]
    two_best = lambda r: sorted(r)[1] / min(r)
    assert two_best(runs_cold_first) < 1.4 < max(runs_cold_first) / min(runs_cold_first)
    assert two_best(runs_jittery) < 1.4
    assert two_best([0.26, 0.40, 0.42]) > 1.4


def test_bench_final_line_fits_the_driver_tail_at_worst_case():
    """r13 VERDICT item 1: the driver keeps only the LAST 2000 chars of
    bench stdout and parses the final JSON line — BENCH_r13's line (runs +
    4 sittings + suspects inline) crossed the window and head-truncated to
    parsed:null. Pin: the final line rendered with 16 worst-width queries,
    the max 4 sittings, and several suspects stays under 1900 chars and
    round-trips through json.loads."""
    import json

    from bench import BENCH_QUERIES, render_final_line

    queries = {n: 9999.999 for n in BENCH_QUERIES}
    sitting = {
        "total": 99999.999,
        "timings": queries,
        "pre_steal_pct": 99.99,
        "steal_pct": 99.99,
        "spread_max": 99.999,
        "spread2_max": 99.999,
        "quiet": False,
    }
    suspects = {n: {"share": 0.1234, "median_share": 0.1234, "ratio": 9.999}
                for n in list(BENCH_QUERIES)[:6]}
    line = render_final_line(sitting, [dict(sitting)] * 4, 0.1, suspects)
    assert "\n" not in line
    assert len(line) < 1900, len(line)
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_wall_clock"
    assert parsed["value"] == sitting["total"]
    assert set(parsed["queries"]) == set(BENCH_QUERIES)
    assert parsed["noise"]["sittings"] == 4
    assert parsed["noise"]["structural_suspects"] == sorted(suspects)


def test_bench_structural_gate_renormalizes_over_the_intersection():
    """r13 ADVICE item 4: shares are relative — one genuinely changed query
    (or a BENCH_QUERIES membership change) shifts every other query's share
    of total. With per-round history the gate renormalizes BOTH sides over
    the common name set, so a single 3x mover no longer mass-flags its
    innocent neighbors, and a name absent from history is skipped rather
    than ratio-judged against a different denominator."""
    from bench import structural_suspects

    # one 3x mover among 8 equal queries shifts the 7 neighbors' shares to
    # ~0.8x their median — inside the band, so only the true mover flags
    hist8 = [{n: 1 / 8 for n in "abcdefgh"}] * 3
    now8 = {n: (3.0 if n == "a" else 1.0) for n in "abcdefgh"}
    sus8 = structural_suspects(now8, 0.1, history=hist8)
    assert set(sus8) == {"a"}
    # membership change: current sitting dropped 'h' and added 'z'; with
    # full-total normalization every survivor's share inflates vs history.
    # Renormalized over the common 7, only the true mover flags, and 'z'
    # (no history) is skipped, not flagged.
    now_m = {n: (3.0 if n == "a" else 1.0) for n in "abcdefg"}
    now_m["z"] = 5.0
    sus_m = structural_suspects(now_m, 0.1, history=hist8)
    assert set(sus_m) == {"a"}
    # legacy aggregated-dict history keeps the old as-is behavior
    agg = {"a": [1 / 8] * 3}
    assert "a" in structural_suspects(now8, 0.1, history=agg)


def test_bench_trailing_reader_salvages_a_decapitated_artifact():
    """BENCH_r13.json is permanently parsed:null (the head-truncated final
    line), but its tail keeps the queries dict and sf intact — the salvage
    path must recover them so the structural gate's trailing window doesn't
    silently lose the first all-envelope round (it would otherwise lean on
    pre-envelope medians through ~r16)."""
    import json
    import os

    from bench import _salvage_tail, _trailing_rounds

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "BENCH_r13.json"), encoding="utf-8") as fh:
        art = json.load(fh)
    assert art["parsed"] is None  # the r13 defect this guards
    got = _salvage_tail(art["tail"])
    assert got["sf"] == 0.1
    assert got["queries"]["traj_assembly"] == 0.731
    assert len(got["queries"]) == 16
    # and the live reader actually ADMITS a salvaged artifact (not just
    # parses it): in a dir where r13 is the only artifact it must fill the
    # window. (The original assertion read the repo's own trailing window,
    # which silently broke the round r13 rotated out of the last-3 slice —
    # r16's artifact landing did exactly that.)
    import shutil
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        shutil.copy(os.path.join(repo, "BENCH_r13.json"), d)
        rounds = _trailing_rounds(d, 0.1)
        assert len(rounds) == 1
        assert abs(rounds[0]["traj_assembly"] - 0.731 / sum(got["queries"].values())) < 1e-9
    # garbage tails degrade to {} (skipped), never a crash
    assert _salvage_tail("") == {}
    assert _salvage_tail('"queries": {"a": "oops"}, "sf": 0.1') == {}


def test_bench_overtime_sittings_run_only_while_loud_and_in_budget():
    """r14 VERDICT item 3: the r14 driver sitting was 0/4 quiet — overtime
    sittings beyond max_sittings buy extra chances at a quiet reading, but
    only while no quiet sitting exists and the wall-clock budget holds."""
    import bench

    q = {"quiet": True, "wall_s": 90.0}
    l = {"quiet": False, "wall_s": 90.0}
    f = bench._should_run_sitting
    # the base allocation always runs
    assert f(0, [], 4, 6, 0.0, 900)
    assert f(3, [l, l, l], 4, 6, 500.0, 900)
    # overtime: runs while all-loud and inside budget…
    assert f(4, [l, l, l, l], 4, 6, 600.0, 900)
    assert f(5, [l, l, l, l, l], 4, 6, 800.0, 900)
    # …but not once a quiet sitting exists, the cap is hit, or time is up
    assert not f(4, [l, q, l, l], 4, 6, 100.0, 900)
    assert not f(6, [l] * 6, 4, 6, 100.0, 900)
    assert not f(4, [l, l, l, l], 4, 6, 901.0, 900)
    # admission-with-headroom (r15 review find): a sitting costs a full
    # sweep + retries, so elapsed alone must not admit at budget-epsilon —
    # the worst completed sitting's wall time must still fit
    slow = {"quiet": False, "wall_s": 200.0}
    assert not f(4, [l, l, l, slow], 4, 6, 750.0, 900)  # 750+200 > 900
    assert f(4, [l, l, l, slow], 4, 6, 650.0, 900)  # 650+200 <= 900
    # sittings without wall_s (older records) degrade to elapsed-only
    assert f(4, [{"quiet": False}] * 4, 4, 6, 899.0, 900)
    # r15 ADVICE: the headroom base is the worst SWEEP-only time plus the
    # FIXED retry ceiling — a prior sitting that happened to skip retries
    # no longer understates the next sitting's worst case
    swept = {"quiet": False, "sweep_s": 150.0, "wall_s": 155.0}
    assert not f(4, [l, l, l, swept], 4, 6, 650.0, 900, retry_ceiling_s=120.0)
    assert f(4, [l, l, l, swept], 4, 6, 600.0, 900, retry_ceiling_s=120.0)
    # wall_s-only records (pre-r16 shape) still get the ceiling on top —
    # conservative double-count of retries they may already include
    assert not f(4, [l, l, l, slow], 4, 6, 650.0, 900, retry_ceiling_s=120.0)
    # no wall record at all stays elapsed-only even with a ceiling set
    assert f(4, [{"quiet": False}] * 4, 4, 6, 899.0, 900, retry_ceiling_s=120.0)
