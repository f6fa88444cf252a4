"""The query-run protocol shared by ``bench.py`` and ``scripts/``.

A timed run of a registered query is ``fn(spark, sf_dir)`` plus a save
to a ``noop`` sink: the full plan executes distributed with zero
driver-side materialization, so the time is the operator's cost, not
``collect()``'s. The returned plan's ``localCheckpoint`` pins are then
released off the clock; left to the GC -> ContextCleaner path they lag
whole query batches behind, and r9 measured 16 accumulated pins
degrading fpgrowth 2-4x in one session.

A session is warmed once before any timed run, so one-time JVM,
codegen, Arrow-worker and Python-DataSource spin-up is not billed to
whichever query happens to run first.
"""

from __future__ import annotations

import os
import sqlite3
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession

from .pinning import release_local_checkpoints
from .plans.registry import REGISTRY
from .sources.sqlite_py import HAVE_DATASOURCE_API, register_sqlite_source


def _save_noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_session(spark: SparkSession, sf_dir: str) -> None:
    """JVM + codegen + parquet footer caches (``count_rows``), one
    Arrow/Python-worker round trip, and one 1-row Python-DataSource
    read. The DataSource workers spin up on their own path (~12 s once
    per session in the r7 retimes; VERDICT r7 item 4 found
    ``sqlite_cdc_streaming_tail`` carrying it at 9.2 s steady)."""
    _save_noop(REGISTRY["count_rows"].fn(spark, sf_dir))
    _save_noop(spark.range(8).mapInPandas(lambda it: it, schema="id long"))
    if not HAVE_DATASOURCE_API:
        return
    with tempfile.TemporaryDirectory(prefix="warm_ds_") as d:
        conn = sqlite3.connect(os.path.join(d, "shard-00000.db"))
        conn.execute("CREATE TABLE warm (k INTEGER)")
        conn.execute("INSERT INTO warm VALUES (1)")
        conn.commit()
        conn.close()
        register_sqlite_source(spark)
        _save_noop(
            spark.read.format("sqlite_py").option("path", d).option("table", "warm").load()
        )


def run_query(spark: SparkSession, name: str, sf_dir: str) -> float:
    """Seconds for ``REGISTRY[name].fn`` plus its noop save; the
    returned frame's pins are released after the clock stops."""
    start = time.perf_counter()
    df = REGISTRY[name].fn(spark, sf_dir)
    _save_noop(df)
    sec = time.perf_counter() - start
    release_local_checkpoints(df)
    return sec
