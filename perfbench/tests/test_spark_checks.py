"""Benchmark logic that needs Spark: the event-log reducer on a log this
test generates, and the per-execution output check."""

from __future__ import annotations

import os
import time
from types import SimpleNamespace

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from perfbench.instruments import reduce_event_log, self_times, span_total
from perfbench.workloads import Headline


@pytest.fixture(scope="module")
def logged_spark(tmp_path_factory):
    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    yield spark, str(log_dir)
    spark.stop()


def _log_file(log_dir: str) -> str:
    (name,) = os.listdir(log_dir)
    return os.path.join(log_dir, name)


def _wait_for_job_end(path: str, n_jobs: int) -> None:
    deadline = time.time() + 30
    while time.time() < deadline:
        with open(path) as f:
            if sum('"SparkListenerJobEnd"' in line for line in f) >= n_jobs:
                return
        time.sleep(0.1)
    raise AssertionError("event log never recorded the job's end")


def test_event_log_reducer_counts_one_shuffled_job(logged_spark):
    spark, log_dir = logged_spark
    t0 = time.time() * 1000
    df = spark.range(0, 20_000, numPartitions=2).groupBy((F.col("id") % 7).alias("k")).count()
    assert df.count() == 7
    t1 = time.time() * 1000
    path = _log_file(log_dir)
    _wait_for_job_end(path, 1)

    ev = reduce_event_log(path, [(t0, t1)])
    assert ev["jobs"] >= 1
    assert ev["stages"] >= 2  # map side and reduce side of the shuffle
    assert ev["tasks"] >= 3
    assert ev["shuffle_write_bytes"] > 0
    assert ev["shuffle_read_bytes"] == ev["shuffle_write_bytes"]
    assert ev["task_run_ms"] >= 0 and ev["task_cpu_ns"] > 0
    assert ev["task_attempts_wasted"] == 0
    assert all(t0 <= t <= t1 for t in ev["job_submit_ms"])

    outside = reduce_event_log(path, [(0, t0 - 1), (t1 + 1, t1 + 2)])
    assert outside["tasks"] == 0 and outside["jobs"] == 0
    both = reduce_event_log(path, [(0, t0 - 1), (t0, t1)])
    assert both["tasks"] == ev["tasks"] and both["jobs"] == ev["jobs"]


def test_wrong_expected_digest_counts_as_failure(logged_spark):
    spark, _ = logged_spark
    catalog = {
        "q_ok": SimpleNamespace(fn=lambda s, d: s.range(10).select((F.col("id") * 2).alias("x"))),
        "q_bad": SimpleNamespace(fn=lambda s, d: s.range(10).select((F.col("id") * 3).alias("x"))),
    }
    w = Headline()
    w.tables = "unused"
    w.baseline = {}
    first = w.run_pass(spark, catalog, ["q_ok", "q_bad"])
    assert first.failures == ["q_ok: no checked warm-up result", "q_bad: no checked warm-up result"]

    # digests of a correct execution, as the warm-up records them
    from perfbench.workloads import _digest_of

    for name in catalog:
        obs, df = _digest_of(catalog[name].fn(spark, None))
        df.collect()
        w.baseline[name] = obs.get
    ok = w.run_pass(spark, catalog, ["q_ok", "q_bad"])
    w.recheck(ok)
    assert ok.failures == [] and ok.attempted == 2 and len(ok.samples) == 2

    w.baseline["q_bad"] = {"n": 10, "h": w.baseline["q_bad"]["h"] + 1}
    bad = w.run_pass(spark, catalog, ["q_ok", "q_bad"])
    assert bad.failures == []  # the timed pass observes nothing
    w.recheck(bad)
    assert bad.attempted == 2
    assert len(bad.failures) == 1 and bad.failures[0].startswith("q_bad: digest")


def test_self_time_subtracts_children_once():
    spans = [
        {"id": 1, "parent": None, "name": "op", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "name": "build.query_fn", "start": 1.0, "end": 5.0},
        {"id": 3, "parent": 2, "name": "sources.load_table", "start": 2.0, "end": 3.0},
        {"id": 4, "parent": 2, "name": "sources.load_table", "start": 2.5, "end": 4.0},
        {"id": 5, "parent": 1, "name": "exec.action", "start": 5.0, "end": 9.0},
    ]
    layer = lambda n: "bench" if n == "op" else n.split(".")[0]  # noqa: E731
    st = self_times(spans, layer)
    assert st == pytest.approx({"bench": 2.0, "build": 2.0, "sources": 2.5, "exec": 4.0})
    assert span_total(spans, "sources.load_table") == (2.5, 2)
    assert span_total(spans, "build.") == (4.0, 1)
