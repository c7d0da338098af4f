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
    import tools.layer_profile
    import tools.probe_skew
    import tools.run_registry_scale

    assert callable(bench.main)
    assert callable(tools.layer_profile.main)
    assert callable(tools.probe_skew.main)
    assert callable(tools.run_registry_scale.main)


def test_no_tool_script_shadows_a_stdlib_module():
    """``python tools/<name>.py`` puts tools/ first on sys.path, so a
    tools/<stdlib name>.py replaces that stdlib module for everything the
    script imports: a tools/profile.py made ``import pyspark.sql`` fail
    (pyspark imports cProfile, which imports profile)."""
    import pathlib
    import sys

    tools = pathlib.Path(__file__).resolve().parent.parent / "tools"
    stems = [p.stem for p in tools.glob("*.py")]
    assert stems, "tools/ not found"
    assert sorted(set(stems) & sys.stdlib_module_names) == []


def test_bench_final_line_fits_the_driver_tail_at_worst_case():
    """The driver keeps only the LAST 2000 chars of bench stdout and parses
    the final JSON line (BENCH_r13's line once crossed that window and
    head-truncated to parsed:null). Pin: the final line rendered with 16
    worst-width queries stays under 1900 chars and round-trips through
    json.loads."""
    import json

    from bench import BENCH_QUERIES, render_final_line

    assert len(BENCH_QUERIES) == 16
    queries = {n: 9999.999 for n in BENCH_QUERIES}
    result = {"total": 99999.999, "timings": queries, "steal_pct": 99.99}
    line = render_final_line(result, 0.1)
    assert "\n" not in line
    assert len(line) < 1900, len(line)
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_wall_clock"
    assert parsed["value"] == result["total"]
    assert parsed["unit"] == "sec"
    assert parsed["queries"] == queries
    assert parsed["sf"] == 0.1
    assert parsed["noise"] == {"steal_pct": 99.99}


def test_bench_sweep_resets_once_and_times_min_of_three(monkeypatch, capsys):
    """Session-free check of the one bench sweep: per BENCH_QUERIES entry,
    one reset_confs (one unset per contest conf), then the query's name as
    job description around three timed builds+counts, cleared after them;
    queries[name] is the min of its three runs and the headline value is
    their rounded sum."""
    import types

    import bench
    import tools.probekit as probekit

    events = []
    clock = [0.0]
    # per-query run durations: the min is the middle run, never the first
    durations = {
        n: [0.312 + i, 0.123 + i, 0.234 + i] for i, n in enumerate(bench.BENCH_QUERIES)
    }
    calls = {n: 0 for n in bench.BENCH_QUERIES}

    class Rows:
        def __init__(self, name):
            self.name = name

        def count(self):
            events.append(("count", self.name))
            clock[0] += durations[self.name][calls[self.name]]
            calls[self.name] += 1
            return 42

    def entry(name):
        def fn(spark, sf_dir):
            assert sf_dir == "fixture-dir"
            events.append(("build", name))
            return Rows(name)

        return types.SimpleNamespace(fn=fn)

    registry = {n: entry(n) for n in bench.BENCH_QUERIES}
    conf = types.SimpleNamespace(unset=lambda k: events.append(("unset", k)))
    sc = types.SimpleNamespace(setJobDescription=lambda d: events.append(("describe", d)))
    monkeypatch.setattr(
        probekit, "time", types.SimpleNamespace(perf_counter=lambda: clock[0])
    )

    result = bench.sweep(
        types.SimpleNamespace(conf=conf, sparkContext=sc), registry, "fixture-dir"
    )

    resets = [("unset", k) for k in CONTEST_CONFS]
    expected = []
    for n in bench.BENCH_QUERIES:
        expected += (
            resets
            + [("describe", n)]
            + [("build", n), ("count", n)] * 3
            + [("describe", None)]
        )
    assert events == expected
    assert list(result["timings"]) == bench.BENCH_QUERIES
    for n, runs in durations.items():
        assert abs(result["timings"][n] - min(runs)) < 1e-9
    assert result["total"] == round(sum(result["timings"].values()), 3)
    assert "steal_pct" in result
    out = capsys.readouterr().out
    assert out.count("# ") == len(bench.BENCH_QUERIES)
