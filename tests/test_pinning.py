"""pin_local: driver-held pinning with the max-rows guard."""

from __future__ import annotations

import datetime
import decimal

import pytest
from pyspark.sql import types as T

from loan_default_prediction_app_big_data_spark.pinning import pin_local


def _typed_frame(spark):
    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("dec", T.DecimalType(18, 2)),
        T.StructField("arr", T.ArrayType(T.LongType())),
        T.StructField("m", T.MapType(T.StringType(), T.LongType())),
        T.StructField("st", T.StructType([
            T.StructField("a", T.LongType()), T.StructField("b", T.StringType()),
        ])),
        T.StructField("bin", T.BinaryType()),
        T.StructField("s", T.StringType()),
        T.StructField("d", T.DoubleType()),
    ])
    rows = [
        (datetime.datetime(2024, 1, 2, 3, 4, 5, 123456), decimal.Decimal("12.34"),
         [1, 2], {"k": 1}, (1, "x"), b"\x00\x01", "a", float("nan")),
        (datetime.datetime(1999, 12, 31, 23, 59, 59), None,
         [], {}, (None, None), b"", None, 1.5),
    ]
    return spark.createDataFrame(rows, schema)


def test_pin_local_roundtrips_rows_and_schema(spark):
    frames = [spark.range(5).selectExpr("id", "id * 2 AS twice"), _typed_frame(spark)]
    for df in frames:
        pinned = pin_local(spark, df)
        assert pinned.schema == df.schema
        # repr compares NaN equal to itself; row order must survive too.
        assert [repr(r) for r in pinned.collect()] == [repr(r) for r in df.collect()]
        # The rows live in the plan: a LocalRelation, no RDD (Python or
        # checkpointed) and no file scan left to recompute from.
        plan = pinned._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan
        assert "ExistingRDD" not in plan
        assert "FileScan" not in plan


def test_pin_local_refuses_data_scale_frames(spark):
    with pytest.raises(ValueError, match="metadata-scale"):
        pin_local(spark, spark.range(50), max_rows=10)


def test_pin_local_accepts_exact_boundary(spark):
    assert pin_local(spark, spark.range(10), max_rows=10).count() == 10
