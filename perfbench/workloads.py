"""The benchmark's workloads: what one pass runs and how its outputs are
checked.

A workload is a list of named operations run in one process as a closed
loop with one client. An operation is one catalog query (build plus
execution into the ``noop`` sink) or one stage of the I94 pipeline. Every
output is checked outside the timed region:

* a catalog query's first (warm-up) execution is compared with its DuckDB
  oracle through ``tools/parity.py``'s comparison; ``recheck`` runs every
  DataFrame a measured pass built once more, untimed, and each must
  reproduce the warm-up's row count and order-insensitive digest;
* a pipeline pass must pass every quality check, write as many rows as it
  staged, and write an ``aggregate_arrivals`` table equal to a DuckDB
  rollup of the generated raw fact.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass, field

from . import datagen
from .stats import digest_mismatch

# Eight of the fourteen bench.py HEADLINE queries, pinned here so the
# benchmark does not change when bench.py does. They keep one query per
# layer the trace splits out: multi-table driver build (q5), scan and
# aggregate (q1), window (window_running_orders), JSON functions
# (json_props_agg), an eager materialization in the build (minhash), the
# footer probe (llm_text_stats), the Arrow hop into Python workers
# (mm_feature_extract) and a streaming drain (stream_tumbling_counts).
HEADLINE8 = (
    "q1_pricing_summary",
    "q5_revenue_by_nation",
    "window_running_orders",
    "json_props_agg",
    "llm_minhash_near_dup",
    "llm_text_stats",
    "mm_feature_extract",
    "stream_tumbling_counts",
)

# tables each query reads (input rows per pass)
HEADLINE8_TABLES = {
    "q1_pricing_summary": ("lineitem",),
    "q5_revenue_by_nation": ("lineitem", "orders", "customer", "nation", "region"),
    "window_running_orders": ("orders",),
    "json_props_agg": ("events",),
    "llm_minhash_near_dup": ("documents",),
    "llm_text_stats": ("documents",),
    "mm_feature_extract": ("documents",),
    "stream_tumbling_counts": ("events",),
}

WARMUP_THREADS = 2
I94_TARGET_ROWS_PER_FILE = 30_000
I94_NO_NULL_COLS = ("cicid", "i94yr", "i94mon", "arrival_date")
# pipeline operations that are an ETL layer of their own in the trace
OP_SPANS = {"transform": "etl.stage_op", "quality": "etl.quality_op"}


@dataclass
class Sample:
    op: str
    seconds: float
    df: object = None  # the operation's DataFrame, for Catalyst timing


@dataclass
class PassResult:
    wall: float
    samples: list[Sample]
    failures: list[str] = field(default_factory=list)
    attempted: int = 0
    files_written: int = 0
    bytes_written: int = 0
    window: tuple[float, float] = (0.0, 0.0)  # epoch seconds of the timed part


def _digest_of(df):
    """``df`` with an order-insensitive digest observed as it executes."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    cols = [F.col(f"`{c}`") for c in df.columns]
    return obs, df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(2**31 - 1))).alias("h"),
    )


def _tracked(tracer, name):
    if name is not None and tracer is not None and tracer.active:
        return tracer.span(name)
    return contextlib.nullcontext()


def _dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


class Headline:
    """Catalog queries on the sf0.1 test data, each into the ``noop``
    sink."""

    name = "headline8_sf0.1"
    ops = HEADLINE8
    shuffle_order = True

    def prepare(self, work: str, seed: int) -> None:
        import pyarrow.parquet as pq

        self.tables = datagen.tpch_tables(os.path.join(work, "data"))
        rows = {
            t: pq.ParquetFile(os.path.join(self.tables, f"{t}.parquet")).metadata.num_rows
            for t in datagen.TPCH_ROWS
        }
        self.rows_per_pass = sum(rows[t] for q in HEADLINE8 for t in HEADLINE8_TABLES[q])
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.tables, f"{t}.parquet")) for t in rows
        )
        self.baseline: dict[str, dict] = {}

    def warmup(self, spark, catalog, order) -> PassResult:
        """First execution of every query, checked against its oracle;
        its digest becomes the reference for the check runs (``recheck``).

        Two queries run at a time: this pass is excluded from every timing
        and the cold first executions are most of a run's fixed cost. No
        query in the set changes a session setting another one reads.
        """
        from concurrent.futures import ThreadPoolExecutor

        res = PassResult(wall=0.0, samples=[])
        t_start = time.perf_counter()
        with ThreadPoolExecutor(max_workers=WARMUP_THREADS) as pool:
            outcomes = list(pool.map(lambda n: self._first_run(spark, catalog[n], n), order))
        for name, (digest, failure) in zip(order, outcomes):
            res.attempted += 1
            if digest is not None:
                self.baseline[name] = digest
            if failure:
                res.failures.append(failure)
        res.wall = time.perf_counter() - t_start
        return res

    def _first_run(self, spark, spec, name):
        """(digest, failure) of one checked execution."""
        import duckdb

        from tools.parity import compare, typeclass_problems
        from data_engineering_capstone_spark.sources.testdata import TABLES

        try:
            obs, df = _digest_of(spec.fn(spark, self.tables))
            pdf = df.toPandas()
            digest = obs.get
            if spec.oracle is None:
                return digest, None
            with duckdb.connect() as con:
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
                problems = typeclass_problems(df.schema, con.sql(spec.oracle))
                problems += compare(name, pdf, con.execute(spec.oracle).df())
            if problems:
                return digest, f"{name}: oracle mismatch: {'; '.join(problems)}"
            return digest, None
        except Exception as exc:  # noqa: BLE001 -- reported, run goes on
            return None, f"{name}: raised {type(exc).__name__}: {exc}"

    def run_pass(self, spark, catalog, order, tracer=None) -> PassResult:
        res = PassResult(wall=0.0, samples=[])
        w_start = time.time()
        t_start = time.perf_counter()
        for name in order:
            res.attempted += 1
            if name not in self.baseline:
                res.failures.append(f"{name}: no checked warm-up result")
                continue
            fn = catalog[name].fn
            try:
                with _tracked(tracer, "op"):
                    t0 = time.perf_counter()
                    with _tracked(tracer, "build.query_fn"):
                        df = fn(spark, self.tables)
                    with _tracked(tracer, "exec.action"):
                        df.write.format("noop").mode("overwrite").save()
                    t1 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 -- reported, run goes on
                res.failures.append(f"{name}: raised {type(exc).__name__}: {exc}")
                continue
            res.samples.append(Sample(name, t1 - t0, df))
        res.wall = time.perf_counter() - t_start
        res.window = (w_start, w_start + res.wall)
        return res

    def recheck(self, res: PassResult) -> None:
        """Run each DataFrame of pass ``res`` once more, untimed, and add a
        failure for every digest that differs from the warm-up's."""
        for smp in res.samples:
            try:
                obs, observed = _digest_of(smp.df)
                observed.write.format("noop").mode("overwrite").save()
                bad = digest_mismatch(self.baseline[smp.op], obs.get)
            except Exception as exc:  # noqa: BLE001 -- reported, run goes on
                bad = f"check run raised {type(exc).__name__}: {exc}"
            if bad:
                res.failures.append(f"{smp.op}: {bad}")


class CapstoneEtl:
    """The reference's own job on one seeded I94 month: clean → dates →
    dimension joins → partitioned fact write → date dimension and arrivals
    rollup written → quality checks."""

    name = "capstone_etl_write"
    ops = ("transform", "load", "quality")
    shuffle_order = False  # each stage reads what the one before wrote

    def prepare(self, work: str, seed: int) -> None:
        import pyarrow.parquet as pq

        self.inputs = datagen.i94_inputs(os.path.join(work, "data"), seed)
        self.out_root = os.path.join(work, "out")
        with open(self.inputs["labels"]) as f:
            self.labels = f.read()
        self.rows_per_pass = pq.ParquetFile(self.inputs["raw"]).metadata.num_rows
        self.input_bytes = os.path.getsize(self.inputs["raw"]) + os.path.getsize(
            self.inputs["labels"]
        )
        self.expected_arrivals, self.expected_dates = self._oracle()
        self._passes = 0

    def _oracle(self):
        """DuckDB rollup of the raw fact under the pipeline's rules: drop
        null keys, collapse full-row duplicates, name port and visa codes."""
        import duckdb
        import pandas as pd

        con = duckdb.connect()
        con.register("ports", pd.DataFrame({
            "code": list(datagen.PORT_NAMES), "name": list(datagen.PORT_NAMES.values()),
        }))
        con.register("visas", pd.DataFrame({
            "code": [int(k) for k in datagen.VISAS], "name": list(datagen.VISAS.values()),
        }))
        cleaned = f"""
            SELECT DISTINCT * FROM read_parquet('{self.inputs["raw"]}')
            WHERE cicid IS NOT NULL AND i94yr IS NOT NULL AND i94mon IS NOT NULL"""
        arrivals = con.execute(f"""
            SELECT p.name AS port_name, v.name AS visa_category,
                   CAST(c.i94yr AS BIGINT) AS i94yr, CAST(c.i94mon AS BIGINT) AS i94mon,
                   CAST(SUM(c.count) AS BIGINT) AS arrivals,
                   CAST(COUNT(*) AS BIGINT) AS n_records
            FROM ({cleaned}) c
            LEFT JOIN ports p ON c.i94port = p.code
            LEFT JOIN visas v ON CAST(c.i94visa AS BIGINT) = v.code
            GROUP BY ALL""").df()
        n_dates = con.execute(
            f"SELECT COUNT(DISTINCT arrdate) FROM ({cleaned})"
        ).fetchone()[0]
        con.close()
        return arrivals, n_dates

    def warmup(self, spark, catalog, order) -> PassResult:
        return self.run_pass(spark, catalog, order)

    def run_pass(self, spark, catalog, order, tracer=None) -> PassResult:
        from pyspark.sql import types as T

        from data_engineering_capstone_spark.etl import pipeline, quality
        from data_engineering_capstone_spark.etl.sas_labels import (
            dim_from_map,
            parse_comment_value_map,
            parse_sas_value_maps,
        )
        from data_engineering_capstone_spark.sources import pqmeta, writers

        self._passes += 1
        out = os.path.join(self.out_root, f"pass{self._passes}")
        shutil.rmtree(out, ignore_errors=True)
        paths = {k: os.path.join(out, k) for k in ("fact", "date_dim", "arrivals")}
        res = PassResult(wall=0.0, samples=[])
        state: dict = {}

        def transform():
            with _tracked(tracer, "build.query_fn"):  # driver-side plan build
                raw = spark.read.parquet(self.inputs["raw"])
                maps = parse_sas_value_maps(self.labels)
                visa = parse_comment_value_map(self.labels, "I94VISA")
                long_t = T.LongType()
                dims = {
                    "country": dim_from_map(spark, maps["i94cntyl"], "code", "name", long_t),
                    "port": dim_from_map(spark, maps["i94prtl"], "code", "name"),
                    "mode": dim_from_map(spark, maps["i94model"], "code", "name", long_t),
                    "state": dim_from_map(spark, maps["i94addrl"], "code", "name"),
                    "visa": dim_from_map(spark, visa, "code", "name", long_t),
                }
                staged = pipeline.join_dims(
                    pipeline.convert_dates(pipeline.clean(raw)), dims
                )
            with _tracked(tracer, "exec.action"):
                state["n"] = staged.count()
            state["staged"] = staged
            return staged

        def load():
            writers.write_partitioned_sized(
                state["staged"], paths["fact"], ["i94yr", "i94mon"],
                I94_TARGET_ROWS_PER_FILE, n_rows=state["n"],
            )
            state["fact"] = spark.read.parquet(paths["fact"])
            writers.write_parquet(pipeline.build_date_dim(state["fact"]), paths["date_dim"])
            arrivals = pipeline.aggregate_arrivals(state["fact"])
            writers.write_parquet(arrivals, paths["arrivals"])
            return arrivals

        def validate():
            checks = quality.check_suite_single_pass(
                state["fact"], ["cicid"], no_null_cols=I94_NO_NULL_COLS
            )
            checks.append(quality.check_completeness(
                state["n"], pqmeta.parquet_row_count(paths["fact"])
            ))
            state["checks"] = checks

        steps = {"transform": transform, "load": load, "quality": validate}
        w_start = time.time()
        t_start = time.perf_counter()
        for name in order:
            res.attempted += 1
            try:
                with _tracked(tracer, "op"), _tracked(tracer, OP_SPANS.get(name)):
                    t0 = time.perf_counter()
                    df = steps[name]()
                    t1 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 -- reported, run goes on
                res.failures.append(f"{name}: raised {type(exc).__name__}: {exc}")
                break  # later stages read what this one should have written
            res.samples.append(Sample(name, t1 - t0, df))
        res.wall = time.perf_counter() - t_start
        res.window = (w_start, w_start + res.wall)
        res.failures += self._check(state, paths)
        res.files_written, res.bytes_written = _dir_usage(out)
        shutil.rmtree(out, ignore_errors=True)
        return res

    def recheck(self, res: PassResult) -> None:
        """Nothing to add: ``run_pass`` checks every pass it runs, reading
        the outputs back with pyarrow, which costs no Spark work."""

    def _check(self, state, paths) -> list[str]:
        import pyarrow.parquet as pq

        from tools.parity import compare

        bad = []
        if state.get("n") != self.inputs["expected_rows"]:
            bad.append(f"transform: staged {state.get('n')} rows, "
                       f"expected {self.inputs['expected_rows']}")
        for c in state.get("checks", []):
            if not c.passed:
                bad.append(f"quality: {c.check} failed: {c.observed} (expected {c.expected})")
        if "checks" in state:
            try:
                got = pq.read_table(paths["arrivals"]).to_pandas()
                problems = compare("aggregate_arrivals", got, self.expected_arrivals)
                if problems:
                    bad.append(f"load: aggregate_arrivals oracle mismatch: {'; '.join(problems)}")
                n_dates = pq.read_table(paths["date_dim"]).num_rows
                if n_dates != self.expected_dates:
                    bad.append(f"load: date dimension has {n_dates} dates, expected {self.expected_dates}")
            except OSError as exc:
                bad.append(f"outputs unreadable: {exc}")
        return bad


WORKLOADS = {w.name: w for w in (Headline, CapstoneEtl)}
