"""Engine benchmark: end-to-end latency distributions per workload, and a
per-layer trace taken from outside the engine.

    python3 perfbench/run.py --workload headline8_sf0.1 --seed 1 --seconds 20 --trace 0

Run from the repository root. Each run is one process driving one workload
as a closed loop with one client on ``local[4]``:

1. ``setup_s`` is sampled twice, in a fresh child process and in this one,
   each time ``session.get_spark`` + ``catalog.load_all``.
2. Inputs are generated inside ``.perfbench_work/`` (cached tables, the
   seeded I94 month); generation is not timed.
3. One warm-up pass runs and checks every output (excluded from timings).
4. Measured passes run in a seed-shuffled order: at least ``MIN_PASSES``,
   then more while another pass still fits in ``--seconds``. The last
   pass's outputs are checked again, untimed.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics instead: on one session
with Spark's event log on, the run makes an untimed pass, then untraced
and traced passes (spans, streaming listener, Catalyst phase times) in
ABBA order, then two passes on ``local[1]``. Everything written goes
under ``.perfbench_work/`` next to ``perfbench/``. See README.md for the
workloads, the metrics and what each layer metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "data_engineering_capstone_spark"
CORES = 4
DRIVER_MEMORY = "2g"
SETUP_CHILDREN = 1
MIN_PASSES = 2  # the first warm pass still runs partly cold code
RUN_LIMIT_S = 150  # no new pass starts after this much of a run has gone


def _session_conf(event_log_dir: str | None = None) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _prepare_env() -> None:
    for d in ("tmp", "spark-local", "data"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _setup(conf: dict[str, str]):
    """Fresh session plus loaded catalog: the span ``setup_s`` times."""
    t0 = time.perf_counter()
    from data_engineering_capstone_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    from data_engineering_capstone_spark.catalog import load_all

    catalog = load_all()
    return spark, catalog, time.perf_counter() - t0


def _jvm_pid():
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _descendants(pid: int) -> list[int]:
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _shutdown() -> None:
    """Stop the session, then the JVM, and wait for it and the Python
    workers it started to exit. Does nothing when no JVM is running."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    if SparkSession._instantiatedSession is not None:
        SparkSession._instantiatedSession.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while kids and time.time() < deadline:
        kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
        if kids:
            time.sleep(0.05)


def _peak_rss_mb() -> dict[str, float]:
    """Peak RSS (VmHWM) of this Python driver and of its JVM, in MB."""
    out = {}
    for name, pid in (("python", "self"), ("jvm", _jvm_pid())):
        with open(f"/proc/{pid}/status") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        out[name] = kb / 1024.0
    return out


def _setup_probe() -> int:
    """Child mode: time one setup, print it, shut down."""
    _prepare_env()
    _, _, seconds = _setup(_session_conf())
    _shutdown()
    print(f"SETUP_S {seconds!r}")
    return 0


def _child_setup() -> float:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--setup-probe"],
        cwd=ROOT, capture_output=True, text=True, timeout=120,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("SETUP_S "):
            return float(line.split()[1])
    raise RuntimeError(f"setup probe failed ({proc.returncode}):\n{proc.stderr[-3000:]}")


def _env(spark, load1_start: float) -> dict:
    return {
        "cpus": os.cpu_count(),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "load1_start": load1_start,
        "load1_end": os.getloadavg()[0],
    }


def _order(workload, rng) -> list[str]:
    order = list(workload.ops)
    if workload.shuffle_order:
        rng.shuffle(order)
    return order


def _measure(workload, spark, catalog, rng, seconds, budget_start=None):
    """Passes in shuffled order until ``seconds`` are used."""
    passes = []
    t0 = time.perf_counter()
    budget_start = budget_start or t0
    while True:
        passes.append(workload.run_pass(spark, catalog, _order(workload, rng)))
        now = time.perf_counter()
        if len(passes) < MIN_PASSES and now - budget_start < RUN_LIMIT_S:
            continue
        if now - t0 + passes[-1].wall > seconds or now - budget_start > RUN_LIMIT_S:
            return passes


def _line(name, value, unit, extra="") -> None:
    print(f"{name:<34} {value:>14.6g} {unit:<8} {extra}")


def _report(correct, attempted, failures, metrics) -> None:
    for f in failures:
        print(f"FAIL {f}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def run_plain(workload, seed: int, seconds: float) -> int:
    from perfbench.stats import TooFewSamples, percentile, summary

    t_run = time.perf_counter()
    marks = [("start", t_run)]

    def mark(name):
        marks.append((name, time.perf_counter()))

    load1_start = os.getloadavg()[0]
    setups = [_child_setup() for _ in range(SETUP_CHILDREN)]
    mark("setup_children")
    spark, catalog, setup_main = _setup(_session_conf())
    setups.append(setup_main)
    mark("setup")
    try:
        workload.prepare(WORK, seed)
        mark("inputs")
        rng = random.Random(seed)
        warm = workload.warmup(spark, catalog, list(workload.ops))
        mark("warmup")
        passes = _measure(workload, spark, catalog, rng, seconds, budget_start=t_run)
        mark("measure")
        rss = _peak_rss_mb()  # before the check run, which is not the program's work
        workload.recheck(passes[-1])
        mark("recheck")
        env = _env(spark, load1_start)
    finally:
        _shutdown()
    mark("shutdown")

    failures = warm.failures + [f for p in passes for f in p.failures]
    attempted = warm.attempted + sum(p.attempted for p in passes)
    walls = [p.wall for p in passes]
    ops = [s.seconds for p in passes for s in p.samples]
    pass_s = statistics.median(walls)
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "pass_s": (pass_s, "s"),
        "query_p50_s": (percentile(ops, 50), "s"),
        "input_rows_per_s": (workload.rows_per_pass / pass_s, "rows/s"),
        "peak_rss_mb": (sum(rss.values()), "MB"),
    }
    print("env " + json.dumps(env))
    print("peak_rss_mb_by_process " + json.dumps(rss))
    print("run_phases_s " + json.dumps(
        {b[0]: round(b[1] - a[1], 3) for a, b in zip(marks, marks[1:])}))
    print(f"workload {workload.name} seed {seed} passes {len(passes)} "
          f"operations {len(ops)} input_rows_per_pass {workload.rows_per_pass} "
          f"input_bytes {workload.input_bytes}")
    for name, xs in (("setup_s", setups), ("pass_s", walls), ("query_s", ops)):
        s = summary(xs)
        _line(name, s["median"], "s", f"n={s['n']} q1={s['q1']:.4f} q3={s['q3']:.4f}")
    by_op: dict[str, list[float]] = {}
    for p in passes:
        for smp in p.samples:
            by_op.setdefault(smp.op, []).append(smp.seconds)
    for op, xs in by_op.items():
        s = summary(xs)
        _line(f"  op {op}", s["median"], "s", f"n={s['n']} q1={s['q1']:.4f} q3={s['q3']:.4f}")
    try:
        _line("query_p90_s", percentile(ops, 90), "s")
    except TooFewSamples as exc:
        print(f"query_p90_s not reported: {exc}")
    for name, (value, unit) in metrics.items():
        _line(name, value, unit)
    _line("failed_ratio", len(failures) / attempted, "ratio")
    if workload.name == "capstone_etl_write":
        written = statistics.median(p.bytes_written for p in passes)
        _line("bytes_written_per_input_byte", written / workload.input_bytes, "ratio")
    _report(not failures, attempted, failures, metrics)
    return 0


def run_traced(workload, seed: int, seconds: float) -> int:
    from perfbench import instruments as trace

    t_run = time.perf_counter()
    # one session, with the event log on from the start: untraced and traced
    # passes differ only in the spans and the streaming listener
    shutil.rmtree(os.path.join(WORK, "eventlog"), ignore_errors=True)
    log_dir = os.path.join(WORK, "eventlog", f"{workload.name}-{seed}")
    os.makedirs(log_dir)
    tracer = trace.Tracer()
    tracer.install()  # before load_all imports the query modules
    tracer.active = True
    spark, catalog, _ = _setup(_session_conf(log_dir))
    tracer.active = False
    setup_spans = list(tracer.spans)

    workload.prepare(WORK, seed)
    rng = random.Random(seed)
    warm = workload.warmup(spark, catalog, list(workload.ops))

    listener = trace.StreamListener()
    spark.streams.addListener(listener.listener)
    # the first pass after the warm-up still runs partly cold code
    settle = workload.run_pass(spark, catalog, _order(workload, rng))
    # untraced and traced passes in blocks of four, ABBA, so that warming up
    # and drifting host speed weigh on both alike
    untraced, traced = [], []
    t0 = time.perf_counter()
    while not traced or (time.perf_counter() - t0) * (1 + 2 / len(traced)) <= seconds:
        for on in (False, True, True, False):
            tracer.active = on
            p = workload.run_pass(spark, catalog, _order(workload, rng), tracer if on else None)
            tracer.active = False
            (traced if on else untraced).append(p)
    workload.recheck(traced[-1])
    app_id = spark.sparkContext.applicationId
    phases: dict[str, float] = {}
    for s in traced[-1].samples:
        if s.df is not None:
            for k, v in trace.catalyst_phases(spark, s.df).items():
                phases[k] = phases.get(k, 0.0) + v
    n_progress = -1
    for _ in range(30):  # listener events arrive asynchronously
        if len(listener.progress) == n_progress:
            break
        n_progress = len(listener.progress)
        time.sleep(0.2)

    # single-threaded baseline: same JVM, a local[1] session, timed on its
    # second pass like the local[4] passes it is compared with
    from data_engineering_capstone_spark.session import get_spark

    spark.stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    spark = get_spark("perfbench-local1", extra_conf=_session_conf())
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    single_warm = workload.run_pass(spark, catalog, list(workload.ops))
    single = workload.run_pass(spark, catalog, list(workload.ops))
    workload.recheck(single)
    _shutdown()

    # the timed part of each traced pass: untraced passes and the untimed
    # output checks that follow each pass stay out of the figures
    windows = [p.window for p in traced]
    ev = trace.reduce_event_log(
        os.path.join(log_dir, app_id), [(a * 1000, b * 1000) for a, b in windows])
    spans = [s for s in tracer.spans[len(setup_spans):] if s["end"] is not None]
    n = len(traced)
    traced_pass = statistics.median(p.wall for p in traced)
    untraced_pass = statistics.median(p.wall for p in untraced)
    builds = [(s["start"] * 1000, s["end"] * 1000) for s in spans if s["name"] == "build.query_fn"]
    eager = sum(1 for t in ev["job_submit_ms"] if any(a <= t <= b for a, b in builds))
    progress = [p for p in listener.progress
                if any(a <= _epoch(p["timestamp"]) <= b for a, b in windows)]

    def total(prefix):
        return trace.span_total(spans, prefix)

    def first(name):
        return next(s["end"] - s["start"] for s in setup_spans if s["name"] == name)

    def per_pass(x):
        return x / n

    layer_self = trace.self_times(spans, _layer)
    checked = [settle] + untraced + traced + [single_warm, single]
    failures = warm.failures + [f for p in checked for f in p.failures]
    attempted = warm.attempted + sum(p.attempted for p in checked)
    written = sum(p.bytes_written for p in traced)
    m = {
        "session.get_spark_s": (first("session.get_spark"), "s"),
        "catalog.load_all_s": (first("catalog.load_all"), "s"),
        "build.query_fn_s": (per_pass(total("build.query_fn")[0]), "s"),
        "build.eager_jobs": (per_pass(eager), "count"),
        "sources.load_table_s": (per_pass(total("sources.load_table")[0]), "s"),
        "sources.load_table_calls": (per_pass(total("sources.load_table")[1]), "count"),
        "sources.pqmeta_s": (per_pass(total("sources.pqmeta.")[0]), "s"),
        "sources.pqmeta_calls": (per_pass(total("sources.pqmeta.")[1]), "count"),
        "sources.write_s": (per_pass(total("sources.write.")[0]), "s"),
        "sources.files_written": (per_pass(sum(p.files_written for p in traced)), "count"),
        "sources.bytes_written": (per_pass(written), "bytes"),
        "sources.bytes_written_per_input_byte": (per_pass(written) / workload.input_bytes, "ratio"),
        "catalyst.analysis_s": (phases.get("analysis", 0.0), "s"),
        "catalyst.optimization_s": (phases.get("optimization", 0.0), "s"),
        "catalyst.planning_s": (phases.get("planning", 0.0), "s"),
        "exec.jobs": (per_pass(ev["jobs"]), "count"),
        "exec.stages": (per_pass(ev["stages"]), "count"),
        "exec.tasks": (per_pass(ev["tasks"]), "count"),
        "exec.task_run_s": (per_pass(ev["task_run_ms"] / 1000), "s"),
        "exec.task_cpu_s": (per_pass(ev["task_cpu_ns"] / 1e9), "s"),
        "exec.gc_s": (per_pass(ev["gc_ms"] / 1000), "s"),
        "exec.input_bytes": (per_pass(ev["input_bytes"]), "bytes"),
        "exec.shuffle_write_bytes": (per_pass(ev["shuffle_write_bytes"]), "bytes"),
        "exec.shuffle_read_bytes": (per_pass(ev["shuffle_read_bytes"]), "bytes"),
        "exec.spill_bytes": (per_pass(ev["spill_bytes"]), "bytes"),
        "exec.peak_exec_memory_bytes": (ev["peak_exec_memory_bytes"], "bytes"),
        "exec.busy_ratio": (
            ev["task_run_ms"] / 1000 / (sum(b - a for a, b in windows) * CORES), "ratio"),
        "exec.task_retry_ratio": (ev["task_attempts_wasted"] / max(ev["tasks"], 1), "ratio"),
        "exec.speedup_4v1": (single.wall / untraced_pass, "ratio"),
        "llm.py_worker_boot_s": (per_pass(ev["py_worker_boot_ms"] / 1000), "s"),
        "llm.bytes_to_python": (per_pass(ev["bytes_to_python"]), "bytes"),
        "llm.bytes_from_python": (per_pass(ev["bytes_from_python"]), "bytes"),
        "streaming.drain_s": (per_pass(total("streaming.run_available_now")[0]), "s"),
        "streaming.batches": (per_pass(len(progress)), "count"),
        "streaming.snapshot_write_s": (per_pass(total("streaming.snapshot_write")[0]), "s"),
        "streaming.snapshot_read_s": (per_pass(total("streaming.read_snapshot")[0]), "s"),
        "streaming.add_batch_ms": (per_pass(_phase_sum(progress, "addBatch")), "ms"),
        "streaming.wal_commit_ms": (per_pass(_phase_sum(progress, "walCommit")), "ms"),
        "streaming.query_planning_ms": (per_pass(_phase_sum(progress, "queryPlanning")), "ms"),
        "etl.stage_s": (per_pass(total("etl.stage_op")[0]), "s"),
        "etl.quality_s": (per_pass(total("etl.quality_op")[0]), "s"),
        "etl.quality_checks_failed": (
            sum(1 for f in failures if f.startswith("quality:")), "count"),
        "trace.pass_s_traced": (traced_pass, "s"),
        "trace.pass_s_untraced": (untraced_pass, "s"),
        "trace.overhead_ratio": (traced_pass / untraced_pass - 1.0, "ratio"),
    }
    for layer in LAYERS:
        m[f"self.{layer}_s"] = (per_pass(layer_self.get(layer, 0.0)), "s")

    trace_path = os.path.join(WORK, f"trace_{workload.name}_{seed}.json")
    with open(trace_path, "w") as f:
        json.dump({"setup_spans": setup_spans, "spans": spans, "event_log": ev,
                   "streaming_progress": progress, "catalyst": phases}, f)
    print(f"workload {workload.name} seed {seed} untraced_passes {len(untraced)} "
          f"traced_passes {n} local1_pass_s {single.wall:.3f} trace {trace_path}")
    for name, (value, unit) in m.items():
        _line(name, value, unit)
    _report(not failures, attempted, failures, m)
    return 0


LAYERS = ("bench", "build", "sources", "streaming", "etl", "exec")


def _layer(span_name: str) -> str:
    head = span_name.split(".", 1)[0]
    return "bench" if head == "op" else head


def _phase_sum(progress, key) -> float:
    return float(sum(p["duration_ms"].get(key, 0) for p in progress))


def _epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    if args.setup_probe:
        return _setup_probe()
    _prepare_env()
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]()
    try:
        if args.trace:
            return run_traced(workload, args.seed, args.seconds)
        return run_plain(workload, args.seed, args.seconds)
    finally:
        _shutdown()


if __name__ == "__main__":
    sys.exit(main())
