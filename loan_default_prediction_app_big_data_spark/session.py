"""SparkSession factory.

Replaces the reference's legacy setup (reference spark.py:15-26:
SparkConf → SparkContext → SQLContext) with a modern SparkSession and a
config tuned for both the local test harness and a large cluster:

- AQE on (runtime re-planning: post-shuffle coalescing, skew-join
  splitting, dynamic broadcast) — essential at 100 TB where static
  partition counts are always wrong somewhere.
- Arrow on for every Python↔JVM crossing (toPandas / pandas_udf /
  applyInPandas).
- shuffle.partitions sized from the env (local runs want ~#cores, a
  real cluster wants AQE's coalescing from a higher initial number).
- the fixture-read confs (``sources.readers.FIXTURE_READ_CONF``: UTC
  session timezone so timestamp semantics match the DuckDB oracle,
  parquet timestamps read as TIMESTAMP), so the first table read never
  has to change the session conf.

``scoped_conf`` is the one sanctioned way for a query to change a
session conf: every change is undone on exit, so a query leaves the
session conf exactly as it found it.
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Iterator, Mapping

from pyspark.sql import SparkSession

from .sources.readers import FIXTURE_READ_CONF


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "loan_default_prediction_app_big_data_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    On a real cluster, drop ``master`` and submit with spark-submit;
    everything below except master/driver-memory is cluster-appropriate
    as-is.
    """
    cpus = cpu_count()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # The Python data sources (sources/pydatasource.py, sqlite_py.py)
        # push filters down; their registration enables this for good,
        # and building it in keeps that registration from changing conf.
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    for k, v in {**FIXTURE_READ_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, conf: Mapping[str, str]) -> Iterator[None]:
    """Set ``conf`` on the session for the body only.

    On exit, even when the body raises, each key gets back its prior
    explicit value, or is unset if it had none. Restoring the value
    read through ``conf.get(key, default)`` instead would leave the
    default behind as an explicit setting.
    """
    prior = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
