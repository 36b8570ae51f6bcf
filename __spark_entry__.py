"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over ``data_engineering_capstone_spark.catalog`` — the query
registry where every implemented operator from SURVEY.md §2 lives as a
(PySpark function, DuckDB oracle SQL) pair.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_engineering_capstone_spark.catalog import load_all  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    TPC-H Q5 shape: 5-table star join (two broadcast dims) → revenue by
    nation — the Spark-first re-expression of the reference's star-schema
    spec (reference: notebook cells 9-10).
    """
    catalog = load_all()
    return catalog["q5_revenue_by_nation"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.fn for name, spec in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return {name: spec.oracle for name, spec in load_all().items() if spec.oracle is not None}
