"""End-to-end and per-layer benchmark of the meos_rs_spark package.

    python3 perfbench/run.py --workload trips --seed 1 --seconds 10 --trace 0

One closed-loop client: this process submits the workload's queries one
after another to a fresh ``local[nproc]`` session. A run

1. generates the workload's inputs from ``--seed`` (``inputs.py``);
2. starts the package's session once in a separate process and once in
   this one, to sample set-up time;
3. computes every query's expected result with its DuckDB oracle;
4. runs the cold pass, the first pass in the fresh session: it collects
   every result to the driver, as a one-shot job or a correctness check
   does, and the results are then compared with the oracle's; its wall
   time is a per-layer figure (``session.cold_pass_s``), not an
   end-to-end one;
5. runs one untimed warm pass, then timed warm passes until
   ``--seconds`` have passed (at least three).

Warm passes write each query's full output to Spark's ``noop`` sink, so
every output column is computed; ``count()`` would skip the output
projection. With ``--trace 1`` warm passes alternate untraced and traced,
starting and ending untraced; spans and Spark's job and stage records are
written to ``.perfbench/trace-<workload>-<seed>.json``, and the last line
carries the per-layer metrics instead of the end-to-end ones.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. Progress and the per-run notes go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import procfs  # noqa: E402
import spans  # noqa: E402

WARM_PASSES = 1  # untimed, after the cold pass
MIN_PASSES = 3
SETUP_PROBES = 1  # set-up samples taken in separate processes
DRIVER_MEM = "2g"
#: Stop starting passes this long after process start, so a run on a slow
#: host still ends inside three minutes.
DEADLINE_S = 140.0
REQUIRED = ("meos_rs_spark", "tools/probekit.py", "tools/gen_scale.py", "tests/oracle.py")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def configure_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and size the session.

    Python workers need the package on their path; the package's staging
    and checkpoint roots follow ``TMPDIR``; the JVM's scratch space follows
    ``SPARK_LOCAL_DIRS`` and ``java.io.tmpdir``."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = os.environ
    env["TMPDIR"] = tmp
    tempfile.tempdir = None
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    jvm_tmp = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"  # no hsperfdata under /tmp
    # the short launcher JVM spark-submit starts first, then the driver JVM
    env["SPARK_LAUNCHER_OPTS"] = jvm_tmp
    env["SPARK_SUBMIT_OPTS"] = " ".join(p for p in (
        env.get("SPARK_SUBMIT_OPTS"),
        jvm_tmp,
        f"-Xms{DRIVER_MEM}",  # a fixed heap: no resizing between runs
        "-Dspark.ui.showConsoleProgress=false",
    ) if p)


def import_stack() -> None:
    """The imports every session start pays; timed as part of set-up."""
    import pyspark.sql  # noqa: F401

    import meos_rs_spark.session  # noqa: F401
    import tools.probekit  # noqa: F401


def setup(fixture: str, tracer: spans.Tracer | None = None):
    """Start the session, load the registry, register the inputs."""
    from meos_rs_spark.registry import load_registry
    from meos_rs_spark.sources.tables import load_all
    from tools.probekit import bench_session

    t0 = time.perf_counter()
    spark = bench_session("perfbench")
    t1 = time.perf_counter()
    if tracer is not None:
        wrap_staging(tracer)  # before the query modules bind it
    registry = load_registry()
    t2 = time.perf_counter()
    load_all(spark, fixture)
    t3 = time.perf_counter()
    return spark, registry, {
        "session.start_s": t1 - t0, "registry.load_s": t2 - t1,
        "inputs.register_s": t3 - t2,
    }


def wrap_staging(tracer: spans.Tracer) -> None:
    """Record a ``staging.stage`` span around every staging write."""
    from meos_rs_spark.functions import staging

    inner = staging.stage

    def stage(*args, **kwargs):
        with tracer.span("staging.stage"):
            return inner(*args, **kwargs)

    staging.stage = stage


def stop(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        proc.wait(timeout=60)


def setup_probe(fixture: str) -> int:
    """One set-up sample in a fresh process, printed as JSON."""
    import_stack()
    spark, _, phases = setup(fixture)
    phases["setup_s"] = procfs.seconds_since_start()
    stop(spark)
    print(json.dumps(phases))
    return 0


def sample_setups(fixture: str) -> list[dict]:
    out = []
    for _ in range(SETUP_PROBES):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--setup-probe", fixture],
            capture_output=True, text=True, timeout=120,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"set-up probe failed:\n{proc.stderr[-2000:]}")
        out.append(json.loads(proc.stdout.strip().splitlines()[-1]))
    return out


def expected_results(fixture: str, registry, names) -> dict:
    from tests.oracle import duck_connection

    con = duck_connection(fixture)
    try:
        return {n: con.sql(registry[n].oracle).df() for n in names}
    finally:
        con.close()


class Collected:
    """A collected result, shaped for ``tests.oracle.compare``."""

    def __init__(self, frame):
        self.frame = frame

    def toPandas(self):
        return self.frame


class Runner:
    """Runs passes over the workload's queries and counts executions."""

    def __init__(self, spark, registry, names, fixture, tracer: spans.Tracer):
        self.spark, self.registry, self.names = spark, registry, names
        self.fixture, self.tracer = fixture, tracer
        self.attempted = self.failed = 0
        self.pid = os.getpid()

    def run_pass(self, sink: str) -> dict:
        """One pass; ``sink`` is ``noop``, ``collect`` or ``count``.

        Returns wall and tree-CPU seconds, per-query walls, and for
        ``collect`` the collected frames."""
        sc = self.spark.sparkContext
        walls, frames = {}, {}
        cpu0 = procfs.tree_cpu_s(self.pid)
        t0 = time.perf_counter()
        with self.tracer.span("pass", sink=sink) as pass_span:
            for name in self.names:
                self.attempted += 1
                q0 = time.perf_counter()
                with self.tracer.span("query", query=name) as qs:
                    if qs is not None:
                        sc.setJobGroup(f"perfbench.{qs.id}", name)
                    try:
                        with self.tracer.span("build"):
                            df = self.registry[name].fn(self.spark, self.fixture)
                        with self.tracer.span("materialize"):
                            if sink == "collect":
                                frames[name] = df.toPandas()
                            elif sink == "count":
                                df.count()
                            else:
                                df.write.format("noop").mode("overwrite").save()
                    except Exception:
                        self.failed += 1
                        log(f"{name} raised:\n{traceback.format_exc()}")
                    finally:
                        if qs is not None:
                            sc.setLocalProperty("spark.jobGroup.id", None)
                            sc.setLocalProperty("spark.job.description", None)
                walls[name] = time.perf_counter() - q0
        wall = time.perf_counter() - t0
        cpu = procfs.tree_cpu_s(self.pid) - cpu0
        return {"wall": wall, "cpu": cpu, "walls": walls, "frames": frames,
                "span": pass_span}

    def check(self, frames: dict, expected: dict) -> int:
        """Compare collected results with the oracle's; count misses."""
        from tests.oracle import compare

        misses = 0
        for name, frame in frames.items():
            issues = compare(Collected(frame), expected[name], name)
            if issues:
                misses += 1
                log(f"{name} differs from its oracle: {issues[:3]}")
        return misses


def layer_metrics(spark, tracer: spans.Tracer, p: dict, before: dict, last_job: int):
    """Per-layer figures of one traced pass from its spans and Spark's
    status store. Returns the figures and the newest job id seen."""
    from tools.probekit import shuffle_delta, task_share

    spans.wait_for_listeners(spark)
    ps = p["span"]
    new_jobs = spans.read_jobs(spark, last_job)
    jobs = spans.jobs_since(new_jobs, ps.start)
    after = spans.read_stages(spark)
    queries = tracer.children(ps.id)
    staging = tracer.descendants(ps.id, "staging.stage")
    stage_ivals = [(s.start, s.end) for s in staging]
    job_ivals = [(j["start"], j["end"]) for j in jobs.values()
                 if j["start"] is not None and j["end"] is not None]

    def in_staging(j):
        return j["start"] is not None and any(a <= j["start"] <= b for a, b in stage_ivals)

    sink_stages = {s for j in jobs.values() if not in_staging(j) for s in j["stages"]}
    tot = spans.stage_delta(before, after)
    owner = spans.assign_jobs(jobs, queries, "perfbench.")
    m = {
        "queries.build_s": sum(s.end - s.start for s in tracer.descendants(ps.id, "build")),
        "materialize_s": sum(s.end - s.start for s in tracer.descendants(ps.id, "materialize")),
        "staging.write_s": sum(b - a for a, b in stage_ivals),
        "staging.calls": len(staging),
        "driver.outside_jobs_s": (ps.end - ps.start) - spans.covered(job_ivals, ps.start, ps.end),
        "spark.jobs": len(jobs),
        "spark.stages": tot["stages"],
        "spark.tasks": tot["tasks"],
        "executor.run_s": tot["run_s"],
        "executor.cpu_s": tot["cpu_s"],
        "executor.gc_s": tot["gc_s"],
        "executor.python_s": tot["run_s"] - tot["cpu_s"],
        "scan.input_mb": tot["input_mb"],
        "scan.input_rows": tot["input_rows"],
        "shuffle.write_mb": tot["shuffle_write_mb"],
        "shuffle.read_mb": tot["shuffle_read_mb"],
        "shuffle.max_task_share": task_share(shuffle_delta(spark, set(before))),
        "spill.disk_mb": tot["spill_mb"],
        "sink.output_mb": spans.stage_delta(before, after, sink_stages)["output_mb"],
    }
    for q in queries:
        m[f"query.{q.attrs['query']}.wall_s"] = q.end - q.start
        q.attrs["jobs"] = sorted(owner[q.id])
        q.attrs["stages"] = spans.stage_delta(
            before, after, {s for j in owner[q.id] for s in jobs[j]["stages"]})
    ps.attrs["layers"] = m
    return m, max(new_jobs, default=last_job)


def per_layer_units() -> dict[str, str]:
    """Per-layer metric names and units, as ``BENCHMARK.json`` lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def timed_passes(runner: Runner, args):
    """Warm passes until ``args.seconds`` have passed.

    Untraced runs make at least ``MIN_PASSES``. Traced runs alternate
    untraced and traced passes, start and end untraced, and make at least
    two traced ones; the figures of each traced pass come from its spans
    and the status store, read after the pass."""
    spark, tracer = runner.spark, runner.tracer
    plain, traced, layers = [], [], []
    last_job = max(spans.read_jobs(spark, -1), default=-1) if args.trace else -1
    start = time.perf_counter()
    while True:
        n = len(plain) + len(traced)
        complete = n % 2 == 1 if args.trace else True
        if complete and n >= (5 if args.trace else MIN_PASSES) \
                and time.perf_counter() - start >= args.seconds:
            break
        if complete and n >= 3 and procfs.seconds_since_start() > DEADLINE_S:
            log("deadline reached; stopping passes early")
            break
        if args.trace and n % 2 == 1:
            # stages of the previous pass must be in the baseline, not in this pass
            spans.wait_for_listeners(spark)
            before = spans.read_stages(spark)
            tracer.enabled = True
            p = runner.run_pass("noop")
            tracer.enabled = False
            m, last_job = layer_metrics(spark, tracer, p, before, last_job)
            traced.append(p)
            layers.append(m)
        else:
            plain.append(runner.run_pass("noop"))
    return plain, traced, layers


def median(xs) -> float:
    return float(statistics.median(xs))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", metavar="FIXTURE", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"the program under test is missing here: {', '.join(missing)}")
        return 2
    if args.setup_probe:
        return setup_probe(args.setup_probe)

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload]
    top = os.path.join(ROOT, ".perfbench")
    work = os.path.join(top, f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work)
    os.chdir(work)  # anything the session writes by relative path lands here
    try:
        return run(args, wl, work, top)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def run(args, wl, work: str, top: str) -> int:
    import_stack()
    import_s = procfs.seconds_since_start()
    import inputs
    from tools.probekit import cpu_ticks, steal_pct

    ticks0 = cpu_ticks()
    phase_t = {"start": time.perf_counter()}
    fixture = inputs.generate(work, args.seed, wl.sizes)
    rows = inputs.table_rows(fixture)
    phase_t["inputs"] = time.perf_counter()
    setups = sample_setups(fixture)
    phase_t["probes"] = time.perf_counter()

    tracer = spans.Tracer()
    t0 = time.perf_counter()
    spark, registry, phases = setup(fixture, tracer if args.trace else None)
    phases["setup_s"] = import_s + (time.perf_counter() - t0)
    setups.append(phases)
    phase_t["setup"] = time.perf_counter()
    try:
        expected = expected_results(fixture, registry, wl.queries)
        phase_t["oracle"] = time.perf_counter()
        runner = Runner(spark, registry, wl.queries, fixture, tracer)
        cold = runner.run_pass("collect")
        runner.failed += runner.check(cold.pop("frames"), expected)
        phase_t["cold"] = time.perf_counter()
        warm = [runner.run_pass("noop")["wall"] for _ in range(WARM_PASSES)]
        phase_t["warm"] = time.perf_counter()
        plain, traced, layers = timed_passes(runner, args)
        peak_rss_mb = procfs.tree_peak_rss_mb(os.getpid())
        phase_t["timed"] = time.perf_counter()
    finally:
        stop(spark)
    phase_t["stop"] = time.perf_counter()
    steal = steal_pct(ticks0, cpu_ticks())

    log(f"workload={args.workload} seed={args.seed} inputs={rows} "
        f"setup_s={[round(s['setup_s'], 3) for s in setups]} "
        f"cold_pass_s={cold['wall']:.3f} warm={[round(w, 3) for w in warm]} "
        f"passes={[round(p['wall'], 3) for p in plain]} "
        f"cold_cpu_s={cold['cpu']:.2f} cpu={[round(p['cpu'], 2) for p in plain]} "
        f"traced={[round(p['wall'], 3) for p in traced]} steal_pct={steal}")
    names = list(phase_t)
    log("phases " + " ".join(f"{b}={phase_t[b] - phase_t[a]:.1f}" for a, b in zip(names, names[1:])))
    for name in wl.queries:
        log(f"  {name}: {median(p['walls'][name] for p in plain):.3f} s")

    if args.trace:
        units = per_layer_units()
        metrics = {}
        for name in units:
            vals = [m.get(name, 0.0) for m in layers]
            if name in ("session.start_s", "registry.load_s"):
                vals = [s[name] for s in setups]
            elif name == "session.cold_pass_s":
                vals = [cold["wall"]]
            elif name == "tracing.overhead_s":
                # each traced pass against the untraced passes either side
                vals = [t["wall"] - (plain[i]["wall"] + plain[i + 1]["wall"]) / 2
                        for i, t in enumerate(traced) if i + 1 < len(plain)]
            metrics[name] = median(vals)
        out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
        path = os.path.join(top, f"trace-{args.workload}-{args.seed}.json")
        tracer.write(path, {"workload": args.workload, "seed": args.seed, "inputs": rows,
                            "setups": setups, "metrics": metrics})
        log(f"spans written to {path}")
    else:
        out = {
            "wall_s": {"value": median(p["wall"] for p in plain), "unit": "s"},
            "cpu_s": {"value": median(p["cpu"] for p in plain), "unit": "s"},
            "setup_s": {"value": median(s["setup_s"] for s in setups), "unit": "s"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
            "ok_frac": {"value": 1.0 - runner.failed / runner.attempted, "unit": "fraction"},
        }
    print(json.dumps({"correct": runner.failed == 0, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
