"""pin_local: driver-held pinning with the max-rows guard."""

from __future__ import annotations

import pytest

from loan_default_prediction_app_big_data_spark.pinning import pin_local


def test_pin_local_roundtrips_rows_and_schema(spark):
    df = spark.range(5).selectExpr("id", "id * 2 AS twice")
    pinned = pin_local(spark, df)
    assert pinned.schema == df.schema
    assert sorted(r.twice for r in pinned.collect()) == [0, 2, 4, 6, 8]
    # Pinned frame depends only on driver-held rows (local relation /
    # existing RDD) — no file scan left to recompute from.
    plan = pinned._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan or "ExistingRDD" in plan
    assert "FileScan" not in plan


def test_pin_local_refuses_data_scale_frames(spark):
    with pytest.raises(ValueError, match="metadata-scale"):
        pin_local(spark, spark.range(50), max_rows=10)


def test_pin_local_accepts_exact_boundary(spark):
    assert pin_local(spark, spark.range(10), max_rows=10).count() == 10
