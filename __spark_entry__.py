"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The real surface lives in ``loan_default_prediction_app_big_data_spark.plans.registry``;
this module is a thin adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from loan_default_prediction_app_big_data_spark.plans import registry as _registry  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    TPC-H Q5-shaped star join: lineitem ⋈ orders shuffled on orderkey,
    every dimension broadcast, then a small hash aggregate — the plan
    shape the engine uses for 100 TB fact-dimension analytics.
    """
    return _registry.REGISTRY["q5_region_revenue"].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL for each SQL-expressible query."""
    return _registry.oracle_sql()
