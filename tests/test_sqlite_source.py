"""SQLite (JDBC-tier) connector tests — sources/sqlite_py.py.

Pins the three JDBC-shaped behaviors end-to-end: per-partition writer
connections, rowid-range partition planning from bounded metadata, and
filter pushdown into the sqlite WHERE clause (not a post-hoc Python
filter).
"""

from __future__ import annotations

import os
import sqlite3

import pytest
from pyspark.sql import functions as F

from loan_default_prediction_app_big_data_spark.sources.sqlite_py import (
    _SQLiteReader,
    list_shard_files,
    merge_sqlite_shards,
    register_sqlite_source,
    table_schema_ddl,
    write_sqlite_shards,
)


@pytest.fixture()
def shard_dir(tmp_path, spark):
    out = str(tmp_path / "shards")
    df = spark.range(0, 500, 1, 4).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
        F.concat(F.lit("row-"), F.col("id")).alias("name"),
        F.when(F.col("id") % 5 == 0, F.lit(None))
        .otherwise(F.col("id").cast("double") * 1.5)
        .alias("maybe"),
    )
    meta = write_sqlite_shards(df, out, "t").collect()
    assert sum(m.n_rows for m in meta) == 500
    return out


def test_writer_one_shard_per_partition(shard_dir):
    files = list_shard_files(shard_dir)
    assert len(files) == 4  # one connection/file per Spark partition
    # each shard is a self-contained sqlite database
    with sqlite3.connect(files[0]) as conn:
        (n,) = conn.execute("SELECT count(*) FROM t").fetchone()
    assert n > 0


def test_schema_introspection(shard_dir):
    ddl = table_schema_ddl(shard_dir, "t")
    assert ddl == "k bigint, v double, name string, maybe double"


def test_roundtrip_with_nulls(spark, shard_dir):
    register_sqlite_source(spark)
    back = (
        spark.read.format("sqlite_py")
        .option("path", shard_dir)
        .option("table", "t")
        .load()
    )
    rows = back.orderBy("k").collect()
    assert len(rows) == 500
    assert rows[0].k == 0 and rows[0].maybe is None  # 0 % 5 == 0 -> NULL
    assert rows[3].maybe == pytest.approx(4.5)
    assert sum(1 for r in rows if r.maybe is None) == 100


def test_rowid_range_partition_planning(shard_dir):
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(table_schema_ddl(shard_dir, "t"))
    reader = _SQLiteReader(
        schema, {"path": shard_dir, "table": "t", "rows_per_partition": 40}
    )
    parts = reader.partitions()
    # 4 shards x ~125 rows / 40 -> 4 ranges per shard
    assert len(parts) == 16
    total = 0
    for p in parts:
        total += sum(1 for _ in reader.read(p))
    assert total == 500


def test_filter_pushdown_into_where_clause(shard_dir):
    from pyspark.sql.datasource import EqualTo, GreaterThan, StringContains
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(table_schema_ddl(shard_dir, "t"))
    reader = _SQLiteReader(schema, {"path": shard_dir, "table": "t"})
    remaining = list(
        reader.pushFilters(
            [
                GreaterThan(("k",), 100),
                EqualTo(("v",), 3.0),
                StringContains(("name",), "row"),  # not pushable
            ]
        )
    )
    # compares absorbed; the string filter stays with Spark
    assert len(reader.accepted) == 2
    assert len(remaining) == 1 and isinstance(remaining[0], StringContains)
    rows = [r for p in reader.partitions() for r in reader.read(p)]
    # sqlite applied k > 100 AND v = 3.0 before rows reached Python
    assert all(r[0] > 100 and r[1] == 3.0 for r in rows)
    assert len(rows) == len([k for k in range(101, 500) if k % 7 == 3])


def test_spark_filter_returns_pushed_result(spark, shard_dir):
    register_sqlite_source(spark)
    got = (
        spark.read.format("sqlite_py")
        .option("path", shard_dir)
        .option("table", "t")
        .option("rows_per_partition", 100)
        .load()
        .filter((F.col("k") >= 450) & F.col("maybe").isNotNull())
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
        )
        .collect()[0]
    )
    keys = [k for k in range(450, 500) if k % 5 != 0]
    assert got.n == len(keys)
    assert got.sum_k == sum(keys)


def test_merge_shards_single_artifact(tmp_path, shard_dir):
    dest = str(tmp_path / "merged.db")
    n = merge_sqlite_shards(shard_dir, dest, "t")
    assert n == 500
    with sqlite3.connect(dest) as conn:
        (cnt,) = conn.execute("SELECT count(*) FROM t").fetchone()
        (s,) = conn.execute("SELECT sum(k) FROM t").fetchone()
    assert cnt == 500 and s == sum(range(500))


def test_writer_rejects_unsupported_types(spark):
    df = spark.range(3).select(F.current_timestamp().alias("ts"))
    with pytest.raises(ValueError, match="unsupported column type"):
        write_sqlite_shards(df, "/tmp/never", "t")


# ------------------------------------------------------ streaming CDC


def test_stream_reader_offset_advances_by_rate_limit(shard_dir):
    from pyspark.sql.types import StructType

    from loan_default_prediction_app_big_data_spark.sources.sqlite_py import (
        _SQLiteStreamReader,
    )

    schema = StructType.fromDDL(table_schema_ddl(shard_dir, "t"))
    r = _SQLiteStreamReader(
        schema, {"path": shard_dir, "table": "t", "rows_per_batch": 50}
    )
    start = r.initialOffset()
    assert set(start.values()) == {0}
    o1 = r.latestOffset()
    assert all(v <= 50 for v in o1.values())  # rate limit respected
    o2 = r.latestOffset()
    assert all(o2[k] >= o1[k] for k in o1)  # monotone high-water marks
    # draining: offsets eventually reach the true max and stop moving
    for _ in range(10):
        last = r.latestOffset()
    assert r.latestOffset() == last


def test_stream_reader_ranges_are_exactly_once(shard_dir):
    from pyspark.sql.types import StructType

    from loan_default_prediction_app_big_data_spark.sources.sqlite_py import (
        _SQLiteStreamReader,
    )

    schema = StructType.fromDDL(table_schema_ddl(shard_dir, "t"))
    r = _SQLiteStreamReader(
        schema, {"path": shard_dir, "table": "t", "rows_per_batch": 40}
    )
    seen: list[int] = []
    prev = r.initialOffset()
    for _ in range(20):
        nxt = r.latestOffset()
        for p in r.partitions(prev, nxt):
            seen.extend(row[0] for row in r.read(p))
        prev = nxt
    # every key exactly once across all micro-batches
    assert sorted(seen) == list(range(500))


def test_stream_picks_up_rows_appended_after_first_drain(spark, tmp_path):
    import uuid

    from pyspark.sql import functions as FF

    from loan_default_prediction_app_big_data_spark.sources.sqlite_py import (
        write_sqlite_shards,
    )

    out = str(tmp_path / "cdc")
    df = spark.range(0, 100, 1, 2).select(
        F.col("id").alias("k"), (F.col("id") * 2).cast("double").alias("v")
    )
    write_sqlite_shards(df, out, "t").collect()

    register_sqlite_source(spark)
    name = f"cdctest_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("sqlite_py_cdc")
        .option("path", out)
        .option("table", "t")
        .option("rows_per_batch", 30)
        .load()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table(name).count() == 100
        # live append: new rows written AFTER the first drain are
        # picked up by the tail - the CDC contract
        shard = sorted(
            f for f in os.listdir(out) if f.endswith(".db")
        )[0]
        with sqlite3.connect(os.path.join(out, shard)) as conn:
            conn.executemany(
                "INSERT INTO t VALUES (?, ?)",
                [(1000 + i, float(i)) for i in range(25)],
            )
            conn.commit()
        q.processAllAvailable()
        got = spark.table(name)
        assert got.count() == 125
        assert (
            got.filter(FF.col("k") >= 1000).count() == 25
        )
    finally:
        q.stop()


# ------------------------------------------------- streaming sink


def test_sink_commit_is_idempotent_per_batch(spark, tmp_path):
    """A replayed batchId must overwrite, not duplicate (the
    exactly-once contract of the rename-on-commit protocol)."""
    from pyspark.sql.types import StructType

    from loan_default_prediction_app_big_data_spark.sources.sqlite_py import (
        _ShardCommit,
        _SQLiteStreamWriter,
    )

    out = str(tmp_path / "sink")
    os.makedirs(out)
    schema = StructType.fromDDL("k bigint, v double")
    w = _SQLiteStreamWriter(schema, {"path": out, "table": "t"})

    def stage(n):
        p = os.path.join(out, f"stage-test-{n}.db.tmp")
        with sqlite3.connect(p) as conn:
            conn.execute("CREATE TABLE t (k BIGINT, v DOUBLE)")
            conn.executemany(
                "INSERT INTO t VALUES (?, ?)", [(i, 0.0) for i in range(n)]
            )
            conn.commit()
        return _ShardCommit(os.path.basename(p), n)

    w.commit([stage(5), stage(7)], batchId=3)
    first = sorted(f for f in os.listdir(out) if f.endswith(".db"))
    assert first == ["batch0000000003-00000.db", "batch0000000003-00001.db"]
    # replay of the same batch with different content: old files gone
    w.commit([stage(9)], batchId=3)
    again = sorted(f for f in os.listdir(out) if f.endswith(".db"))
    assert again == ["batch0000000003-00000.db"]
    with sqlite3.connect(os.path.join(out, again[0])) as conn:
        (n,) = conn.execute("SELECT count(*) FROM t").fetchone()
    assert n == 9
    # no staged leftovers
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]


def test_sink_abort_removes_staged_files(spark, tmp_path):
    from pyspark.sql.types import StructType

    from loan_default_prediction_app_big_data_spark.sources.sqlite_py import (
        _ShardCommit,
        _SQLiteStreamWriter,
    )

    out = str(tmp_path / "sink")
    os.makedirs(out)
    schema = StructType.fromDDL("k bigint")
    w = _SQLiteStreamWriter(schema, {"path": out, "table": "t"})
    p = os.path.join(out, "stage-x.db.tmp")
    open(p, "wb").close()
    w.abort([_ShardCommit("stage-x.db.tmp", 1), None], batchId=0)
    assert not os.listdir(out)


def test_sink_rejects_unsupported_types(spark, tmp_path):
    from pyspark.sql.types import StructType

    from loan_default_prediction_app_big_data_spark.sources.sqlite_py import (
        _SQLiteStreamWriter,
    )

    with pytest.raises(ValueError, match="unsupported column type"):
        _SQLiteStreamWriter(
            StructType.fromDDL("ts timestamp"), {"path": str(tmp_path)}
        )


def test_batch_writer_roundtrip_and_overwrite(spark, tmp_path):
    out = str(tmp_path / "bw")
    register_sqlite_source(spark)
    df = spark.range(0, 200, 1, 3).select(
        F.col("id").alias("k"), (F.col("id") % 9).cast("double").alias("v")
    )
    (
        df.write.format("sqlite_py_sink")
        .option("path", out)
        .option("table", "t")
        .mode("append")
        .save()
    )
    def back():
        # file listing is plan-time metadata (like a parquet listing):
        # re-load after each write
        return (
            spark.read.format("sqlite_py")
            .option("path", out)
            .option("table", "t")
            .load()
        )

    assert back().count() == 200
    # append mode adds a second commit generation
    df.limit(0).union(spark.range(200, 250).select(
        F.col("id").alias("k"), F.lit(0.0).alias("v")
    )).write.format("sqlite_py_sink").option("path", out).option(
        "table", "t"
    ).mode("append").save()
    assert back().count() == 250
    # overwrite clears every committed generation
    (
        spark.range(0, 10)
        .select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
        .write.format("sqlite_py_sink")
        .option("path", out)
        .option("table", "t")
        .mode("overwrite")
        .save()
    )
    assert back().count() == 10
