"""The traced run's instruments, all attached from outside the engine.

* ``Tracer`` records spans (name, start, end, parent) in memory. It wraps
  public functions of the engine's modules by replacing the module
  attribute, so it must be installed before ``catalog.load_all()`` imports
  the query modules: their ``from ... import`` bindings then see the
  wrappers.
* ``reduce_event_log`` folds Spark's own uncompressed JSON event log into
  job, stage and task counters for a time window.
* ``StreamListener`` collects ``StreamingQueryListener`` progress events.
* ``catalyst_phases`` reads ``QueryExecution.tracker()`` phase times.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import threading
import time
from collections import defaultdict

# module -> public functions whose calls become spans named
# "<layer>.<function>"; the layer is the repo module they belong to
WRAPPED = {
    "data_engineering_capstone_spark.session": ("session", ["get_spark"]),
    "data_engineering_capstone_spark.catalog": ("catalog", ["load_all"]),
    "data_engineering_capstone_spark.sources.testdata": ("sources", ["load_table"]),
    "data_engineering_capstone_spark.sources.pqmeta": ("sources.pqmeta", [
        "parquet_row_count", "parquet_total_bytes", "scaled_width", "fact_width",
        "parquet_row_groups", "row_groups_at_least", "fanout_starved_scan",
    ]),
    "data_engineering_capstone_spark.sources.writers": ("sources.write", [
        "write_parquet", "write_partitioned_sized", "write_bucketed_table",
        "compact_parquet", "write_zordered",
    ]),
    "data_engineering_capstone_spark.streaming.windows": ("streaming", [
        "run_available_now", "read_snapshot", "snapshot_sink", "stream_events",
    ]),
    "data_engineering_capstone_spark.etl.pipeline": ("etl", [
        "clean", "convert_dates", "join_dims", "build_date_dim", "aggregate_arrivals",
    ]),
    "data_engineering_capstone_spark.etl.quality": ("etl.quality", [
        "check_suite_single_pass", "check_completeness",
    ]),
}


class Tracer:
    """In-memory span recorder. Inactive spans cost one attribute test."""

    def __init__(self):
        self.active = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _Span(self, name)

    def _open(self, name) -> dict:
        stack = self._stack()
        # a callback thread (foreachBatch, listener) nests under whatever
        # the main thread has open
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        rec = {"id": next(self._ids), "parent": parent, "name": name,
               "start": time.time(), "end": None}
        stack.append(rec["id"])
        self.spans.append(rec)  # list.append is atomic across threads
        return rec

    def _close(self, rec) -> None:
        rec["end"] = time.time()
        stack = self._stack()
        if stack and stack[-1] == rec["id"]:
            stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                out = fn(*args, **kwargs)
            if name == "streaming.snapshot_sink":
                # the returned foreachBatch function runs once per
                # micro-batch: time those writes too
                snap_dir, write_batch = out
                return snap_dir, self.wrap("streaming.snapshot_write", write_batch)
            return out

        return traced

    def install(self) -> None:
        """Replace the public functions listed in ``WRAPPED`` by spans."""
        for mod_name, (layer, fns) in WRAPPED.items():
            mod = importlib.import_module(mod_name)
            for fn_name in fns:
                setattr(mod, fn_name, self.wrap(f"{layer}.{fn_name}", getattr(mod, fn_name)))


class _Span:
    def __init__(self, tracer, name):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.rec = self.tracer._open(self.name)
        return self.rec

    def __exit__(self, *exc):
        self.tracer._close(self.rec)
        return False


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict], layer_of) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of it its
    child spans cover, summed by ``layer_of(span name)``."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        dur = s["end"] - s["start"]
        kids = [(max(a, s["start"]), min(b, s["end"])) for a, b in children[s["id"]]]
        out[layer_of(s["name"])] += dur - _covered([k for k in kids if k[1] > k[0]])
    return dict(out)


def span_total(spans: list[dict], prefix: str) -> tuple[float, int]:
    """(summed duration, count) of spans whose name starts with ``prefix``,
    counting a span nested in a same-prefix span once."""
    ids = {s["id"]: s for s in spans}
    total, calls = 0.0, 0
    for s in spans:
        if not s["name"].startswith(prefix):
            continue
        calls += 1
        p = ids.get(s["parent"])
        nested = False
        while p is not None:
            if p["name"].startswith(prefix):
                nested = True
                break
            p = ids.get(p["parent"])
        if not nested:
            total += s["end"] - s["start"]
    return total, calls


# --- Spark event log ------------------------------------------------------

PYTHON_METRICS = {
    "time to start Python workers": "py_worker_boot_ms",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}


def reduce_event_log(path: str, windows=((0, float("inf")),)) -> dict:
    """Job, stage and task counters for work that ran inside one of the
    ``(start_ms, end_ms)`` windows (epoch milliseconds), from one
    uncompressed Spark event log file."""
    acc = defaultdict(float)
    for k in ("jobs", "stages", "tasks", "task_attempts_wasted", "task_run_ms",
              "task_cpu_ns", "gc_ms", "input_bytes", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes",
              "peak_exec_memory_bytes", *PYTHON_METRICS.values()):
        acc[k] = 0
    job_submit: list[float] = []

    def inside(t0, t1):
        return t0 is not None and t1 is not None and any(
            a <= t0 and t1 <= b for a, b in windows)

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                t = ev.get("Submission Time")
                if inside(t, t):
                    acc["jobs"] += 1
                    job_submit.append(t)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if inside(info.get("Submission Time"), info.get("Completion Time")):
                    acc["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                if not inside(info.get("Launch Time"), info.get("Finish Time")):
                    continue
                acc["tasks"] += 1
                failed = info.get("Failed") or info.get("Killed")
                if failed or ev.get("Task End Reason", {}).get("Reason") != "Success":
                    acc["task_attempts_wasted"] += 1
                m = ev.get("Task Metrics") or {}
                acc["task_run_ms"] += m.get("Executor Run Time", 0)
                acc["task_cpu_ns"] += m.get("Executor CPU Time", 0)
                acc["gc_ms"] += m.get("JVM GC Time", 0)
                acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0)
                acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
                acc["peak_exec_memory_bytes"] = max(
                    acc["peak_exec_memory_bytes"], m.get("Peak Execution Memory", 0))
                for a in info.get("Accumulables", []):
                    key = PYTHON_METRICS.get(a.get("Name"))
                    if key is not None:
                        acc[key] += float(a.get("Update") or 0)
    out = dict(acc)
    out["job_submit_ms"] = job_submit
    return out


class StreamListener:
    """Collects streaming progress (batch count and ``durationMs`` phases)
    through PySpark's ``StreamingQueryListener``."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.progress: list[dict] = []  # appended from the listener thread

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                outer.progress.append({
                    "timestamp": p.timestamp,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()


def catalyst_phases(spark, df) -> dict[str, float]:
    """Catalyst phase seconds for ``df``'s plan, from a fresh
    QueryExecution forced through physical planning (an action's own
    tracker is shared with the write command and spans the build)."""
    jss = spark._jsparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.CommandExecutionMode.SKIP()
    qe = jss.sessionState().executePlan(df._jdf.queryExecution().logical(), mode)
    qe.executedPlan()
    phases = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
    return {k: phases.get(k).durationMs() / 1000.0 for k in phases.keySet().toArray()}
