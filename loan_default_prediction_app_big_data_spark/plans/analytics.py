"""Analytics queries: window functions, time series, event sequences,
graphs, sketches and iterative algorithms.
"""

from __future__ import annotations

from ..operators import joins as J
from ..pinning import pin_local
from ._core import DataFrame, F, SparkSession, W, register, t


# =====================================================================
# Window functions (SURVEY.md §2.B "Window functions")
# =====================================================================
@register(
    "window_topk_per_group",
    """
    WITH per_part AS (
        SELECT l_suppkey, l_partkey,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem
        GROUP BY l_suppkey, l_partkey
    )
    SELECT l_suppkey, l_partkey, revenue, rk FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY l_suppkey
                   ORDER BY revenue DESC, l_partkey) AS rk
        FROM per_part
    ) WHERE rk <= 3
    """,
    "Top-k per group: pre-aggregate to unique (suppkey, partkey) rows "
    "(deterministic tie-break), then row_number window. At 100 TB the "
    "pre-agg shuffle doubles as the window's partitioning — one "
    "exchange, reused.",
    tags=("window",),
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_suppkey", "l_partkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue")
    )
    w = W.partitionBy("l_suppkey").orderBy(F.desc("revenue"), F.asc("l_partkey"))
    return (
        per_part.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("l_suppkey", "l_partkey", "revenue", "rk")
    )


@register(
    "window_running_sum",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
           row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS order_seq
    FROM orders
    """,
    "Running aggregate over a rows frame with a unique-order tie-break "
    "(orderdate, orderkey) so the cumulative float sum is order-stable "
    "across engines.",
    tags=("window",),
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, 0)), 2
        ).alias("running_spend"),
        F.row_number().over(w).alias("order_seq"),
    )


@register(
    "window_lag_lead",
    """
    SELECT user_id, event_id,
           lag(event_type)  OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next_type,
           round(value - lag(value) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id), 4) AS value_delta
    FROM events
    """,
    "Analytic lag/lead over event time with a unique tie-break "
    "(ts, event_id). One shuffle on user_id; sort within partitions.",
    tags=("window",),
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("value_delta"),
    )


@register(
    "window_ntile_rank",
    """
    SELECT c_custkey,
           ntile(4)     OVER (ORDER BY c_acctbal DESC, c_custkey) AS balance_quartile,
           rank()       OVER (ORDER BY c_nationkey)               AS nation_rank,
           dense_rank() OVER (ORDER BY c_nationkey)               AS nation_dense_rank
    FROM customer
    """,
    "Ranking family (ntile/rank/dense_rank) over a global order — a "
    "single-partition window; at 100 TB restrict global windows to "
    "pre-aggregated or dimension-sized inputs (customer here).",
    tags=("window",),
)
def window_ntile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    w_bal = W.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    w_nat = W.orderBy("c_nationkey")
    return cust.select(
        "c_custkey",
        F.ntile(4).over(w_bal).alias("balance_quartile"),
        F.rank().over(w_nat).alias("nation_rank"),
        F.dense_rank().over(w_nat).alias("nation_dense_rank"),
    )


# =====================================================================
# Sessionization (event-time gap sessions — window composition)
# =====================================================================
@register(
    "sessionization",
    """
    WITH flagged AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                        > 1800000000
                         OR lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, event_id, ts_us,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM flagged
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           count(*) AS n_events,
           (max(ts_us) - min(ts_us)) // 1000000 AS duration_s
    FROM sessions
    GROUP BY user_id, session_seq
    """,
    "Gap-based sessionization (30-min inactivity): lag + cumulative-sum "
    "windows then per-session agg. One shuffle on user_id reused by "
    "both windows and the final agg — Catalyst collapses the exchanges.",
    tags=("window", "events"),
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").withColumn("ts_us", F.unix_micros("ts"))
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    prev_us = F.lag("ts_us").over(w)
    new_session = F.when(
        prev_us.isNull() | (F.col("ts_us") - prev_us > 1_800_000_000), 1
    ).otherwise(0)
    sessions = ev.withColumn("new_session", new_session).withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return (
        sessions.groupBy("user_id", F.col("session_seq").cast("long").alias("session_seq"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.floor((F.max("ts_us") - F.min("ts_us")) / 1_000_000).alias("duration_s"),
        )
    )


# =====================================================================
# Time-window aggregation (batch twin of the streaming query)
# =====================================================================
TUMBLING_ORACLE = """
    SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS window_start,
           event_type,
           count(*)              AS n_events,
           round(sum(value), 4)  AS total_value
    FROM events
    GROUP BY 1, 2
"""


@register(
    "tumbling_window_agg",
    TUMBLING_ORACLE,
    "Tumbling 1-hour event-time windows (batch form). The streaming "
    "variant (streaming_tumbling_window) runs the same plan via "
    "readStream and must produce identical results.",
    tags=("events", "window"),
)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "window_range_frame",
    """
    SELECT user_id, event_id,
           round(sum(value) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 4) AS rolling_1h_value,
           count(*) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)     AS rolling_1h_events
    FROM events
    """,
    "RANGE frame over event time (trailing 1-hour rolling sum/count "
    "per user) — the windowed form of the range join; one shuffle on "
    "user_id, sorted within partitions.",
    tags=("window",),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").withColumn("ts_us", F.unix_micros("ts"))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 4).alias("rolling_1h_value"),
        F.count(F.lit(1)).over(w).alias("rolling_1h_events"),
    )


@register(
    "window_first_last_value",
    """
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey)  OVER w AS latest_order,
           nth_value(o_orderkey, 2) OVER w AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    "first/last/nth value over an unbounded frame — per-customer "
    "first/latest order ids; one shuffle on the partition key.",
    tags=("window",),
)
def window_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("latest_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    )


@register(
    "window_distribution",
    """
    SELECT c_custkey,
           round(percent_rank() OVER (ORDER BY c_acctbal, c_custkey), 6) AS bal_pct_rank,
           round(cume_dist()    OVER (ORDER BY c_acctbal, c_custkey), 6) AS bal_cume_dist
    FROM customer
    """,
    "Distribution window functions (percent_rank / cume_dist) over a "
    "unique total order — a global single-partition window by "
    "construction; at 100 TB restrict to pre-aggregated or "
    "dimension-sized inputs (customer here) or swap for "
    "approx_percentile rank lookup, same as window_ntile_rank.",
    tags=("window",),
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    w = W.orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        F.round(F.percent_rank().over(w), 6).alias("bal_pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("bal_cume_dist"),
    )


@register(
    "asof_join_events",
    """
    WITH tagged AS (
        SELECT user_id, epoch_us(ts) AS t_us, 1 AS side,
               event_id, NULL::DOUBLE AS r_value
        FROM events WHERE event_type = 'click'
        UNION ALL BY NAME
        SELECT user_id, epoch_us(ts) AS t_us, 0 AS side,
               NULL::BIGINT AS event_id, value AS r_value
        FROM events WHERE event_type = 'view'
    ),
    carried AS (
        SELECT user_id, t_us, side, event_id,
               last_value(r_value IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY t_us, side
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_value
        FROM tagged
    )
    SELECT user_id, event_id,
           round(asof_value, 4) AS asof_value
    FROM carried WHERE side = 1
    """,
    "As-of join (Spark has no native one): for every click, the value "
    "of that user's most recent prior-or-simultaneous view. Composed "
    "as union + tagged window + last(ignorenulls) — ONE shuffle on the "
    "key, no range explosion; the canonical scalable as-of shape.",
    tags=("join", "events"),
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").withColumn("t_us", F.unix_micros("ts"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "t_us", "event_id"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "t_us", "value"
    )
    out = J.asof_join(
        clicks, views, key="user_id", time_col="t_us",
        right_value_cols=["value"], left_cols=["event_id"],
    )
    return out.select(
        "user_id", "event_id", F.round("asof_value", 4).alias("asof_value")
    )


@register(
    "funnel_analysis",
    """
    WITH per_user AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view'     THEN epoch_us(ts) END) AS t0,
               min(CASE WHEN event_type = 'click'    THEN epoch_us(ts) END) AS t1,
               min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t2
        FROM events GROUP BY user_id
    )
    SELECT CAST(sum(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(sum(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(sum(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
                         AND t2 IS NOT NULL AND t2 >= t1
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase
    FROM per_user
    """,
    "Ordered funnel (view -> click -> purchase) on first occurrences — "
    "one groupBy per user, no self-joins; the standard product-"
    "analytics primitive at any scale.",
    tags=("agg", "events"),
)
def funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return J.funnel_counts(ev, "user_id", "event_type", "ts", ["view", "click", "purchase"])


@register(
    "session_window_native",
    """
    WITH flagged AS (
        SELECT user_id, epoch_us(ts) AS ts_us,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY epoch_us(ts))
                        > 1800000000
                         OR lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY epoch_us(ts)) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts_us,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
        FROM flagged
    )
    SELECT user_id,
           min(ts_us) // 1000000 AS session_start_s,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id, seq
    """,
    "Native session_window (gap-merged event-time sessions, built-in "
    "since Spark 3.2) — one groupBy, the state-store-backed form that "
    "also works in Structured Streaming. Oracle: the equivalent "
    "lag+cumsum window SQL (same sessions, different machinery).",
    tags=("window", "events"),
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.floor(F.unix_micros(F.col("w.start")) / 1_000_000).alias(
                "session_start_s"
            ),
            "n_events",
        )
    )


@register(
    "time_bucket_gapfill",
    """
    WITH b AS (
      SELECT event_type,
             (epoch_us(ts) // 900000000) * 900000000 AS bucket_us,
             count(*) AS n_raw, round(avg(value), 4) AS avg_raw
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT (min(epoch_us(ts)) // 900000000) * 900000000 AS mn,
             (max(epoch_us(ts)) // 900000000) * 900000000 AS mx
      FROM events
    ), grid AS (
      SELECT et.event_type, g.bucket_us
      FROM (SELECT DISTINCT event_type FROM events) et,
           (SELECT unnest(generate_series(mn, mx, 900000000)) AS bucket_us
            FROM bounds) g
    )
    SELECT grid.event_type, grid.bucket_us,
           CAST(coalesce(b.n_raw, 0) AS BIGINT) AS n_events,
           last_value(b.avg_raw IGNORE NULLS) OVER (
             PARTITION BY grid.event_type ORDER BY grid.bucket_us
           ) AS avg_value_ffill
    FROM grid LEFT JOIN b USING (event_type, bucket_us)
    """,
    "Hypertable-style time-bucket rollup WITH GAP FILL: events land in "
    "15-min buckets (integer µs math so both engines share the grid), "
    "a dense per-type bucket spine is generated from the observed span, "
    "missing buckets zero-fill counts and forward-fill the last known "
    "avg (last_value IGNORE NULLS). The resample primitive every "
    "time-series feature pipeline needs. Scale shape: the agg is one "
    "shuffle on (type, bucket); the spine is sequence+explode from a "
    "1-row bounds broadcast (at 100 TB spans, generate day-level first "
    "and explode twice to bound array sizes); the fill is a window "
    "partitioned BY TYPE — state is one scalar per partition, and with "
    "high-cardinality keys it stays fully parallel.",
    tags=("events", "window", "timeseries"),
)
def time_bucket_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    bucket = (F.expr("unix_micros(ts) div 900000000") * 900000000).alias("bucket_us")
    b = ev.groupBy("event_type", bucket).agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.round(F.avg("value"), 4).alias("avg_raw"),
    )
    bounds = ev.agg(
        (F.expr("unix_micros(min(ts)) div 900000000") * 900000000).alias("mn"),
        (F.expr("unix_micros(max(ts)) div 900000000") * 900000000).alias("mx"),
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("mn", "mx", F.lit(900000000).cast("long"))).alias(
                "bucket_us"
            ),
        )
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("bucket_us")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return grid.join(b, ["event_type", "bucket_us"], "left").select(
        "event_type",
        "bucket_us",
        F.coalesce("n_raw", F.lit(0)).cast("long").alias("n_events"),
        F.last("avg_raw", ignorenulls=True).over(w).alias("avg_value_ffill"),
    )


@register(
    "window_ignore_nulls",
    """
    SELECT o_orderkey,
           first_value(v IGNORE NULLS) OVER w AS first_nn,
           last_value(v IGNORE NULLS) OVER w AS last_nn,
           nth_value(v, 2 IGNORE NULLS) OVER w AS second_nn
    FROM (SELECT o_orderkey, o_custkey,
                 CASE WHEN o_orderkey % 3 = 0 THEN NULL
                      ELSE round(o_totalprice, 2) END AS v
          FROM orders) t
    WINDOW w AS (PARTITION BY o_custkey % 100 ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    "IGNORE NULLS analytic windows: first/last/nth non-null value over "
    "a running frame (every third order's price nulled to exercise "
    "the skip) — the sparse-sensor carry-forward primitive that plain "
    "first/last can't express. Same frame/partitioning as the ANSI "
    "WINDOW clause in the oracle. Scale: one shuffle on the partition "
    "key (bounded at 100 mod-classes here; real keys are "
    "high-cardinality), running frame evaluated incrementally.",
    tags=("window",),
)
def window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 100).alias("grp"),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(None)).otherwise(
            F.round("o_totalprice", 2)
        ).alias("v"),
    )
    w = (
        W.partitionBy("grp")
        .orderBy("o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_orderkey",
        F.first("v", ignorenulls=True).over(w).alias("first_nn"),
        F.last("v", ignorenulls=True).over(w).alias("last_nn"),
        F.nth_value("v", 2, ignoreNulls=True).over(w).alias("second_nn"),
    )


@register(
    "hll_distinct_sketch_merge",
    """
    SELECT r_name, count(DISTINCT o_custkey) AS distinct_customers,
           TRUE AS within_bound
    FROM orders, customer, nation, region
    WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    "Mergeable distinct-count sketches (Apache DataSketches HLL, "
    "lgK=14): per-NATION sketches of ordering customers are built in "
    "one pass, then UNIONED up to region level and estimated — the "
    "two-level partial-aggregate shape that lets a 1000-executor "
    "cluster count distincts with fixed-size state instead of "
    "re-shuffling raw keys per rollup level. The query emits the "
    "EXACT distinct per region plus a boolean asserting the sketch "
    "estimate lands within 0.05 of it (lgK=14 -> rsd ~0.8%), so the "
    "oracle checks the sketch's actual guarantee, hash-exactly.",
    tags=("agg", "sketch", "approx"),
)
def hll_distinct_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select("o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    facts = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("o_custkey", "n_nationkey", "r_name")
    )
    per_nation = facts.groupBy("n_nationkey", "r_name").agg(
        F.expr("hll_sketch_agg(o_custkey, 14)").alias("sk")
    )
    merged = per_nation.groupBy("r_name").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    )
    exact = facts.groupBy("r_name").agg(
        F.count_distinct("o_custkey").alias("distinct_customers")
    )
    return exact.join(merged, "r_name").select(
        "r_name",
        "distinct_customers",
        (
            F.abs(F.col("est") - F.col("distinct_customers"))
            <= 0.05 * F.col("distinct_customers")
        ).alias("within_bound"),
    )


@register(
    "distributed_row_number",
    """
    SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) AS rn
    FROM orders
    """,
    "Global row numbering WITHOUT the single-partition window trap: "
    "repartitionByRange on the order key (the sort-shuffle any global "
    "ordering pays), per-partition counts prefix-summed into broadcast "
    "offsets (metadata scale: one row per partition), then global rn = "
    "local row_number + offset. Every data-touching stage is "
    "partition-parallel; the oracle is the naive single-window form, "
    "which only an engine at fixture scale can afford to run.",
    tags=("window", "scale"),
)
def distributed_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import global_row_number

    return global_row_number(
        t(spark, sf_dir, "orders").select("o_orderkey"), "o_orderkey"
    ).select("o_orderkey", "rn")


# One SQL text, two engines: both Spark 4 and DuckDB run ANSI
# WITH RECURSIVE, so the query body IS its own oracle (formatted with
# the plain table name; Spark gets the table as a DataFrame argument).
_RECURSIVE_TREE_SQL = """
    WITH RECURSIVE tree AS (
        SELECT s_suppkey AS node, 0 AS depth FROM {supplier} WHERE s_suppkey = 0
        UNION ALL
        SELECT s.s_suppkey AS node, tree.depth + 1 AS depth
        FROM {supplier} s
        JOIN tree ON CAST(FLOOR(s.s_suppkey / 2.0) AS BIGINT) = tree.node
        WHERE s.s_suppkey > 0
    )
    SELECT CAST(depth AS INT)          AS depth,
           CAST(count(*) AS BIGINT)    AS n_nodes,
           CAST(min(node) AS BIGINT)   AS min_key,
           CAST(max(node) AS BIGINT)   AS max_key
    FROM tree GROUP BY depth
"""


@register(
    "recursive_cte_hierarchy",
    _RECURSIVE_TREE_SQL.format(supplier="supplier"),
    "Recursive CTE (ANSI WITH RECURSIVE, Spark 4): per-level rollup of "
    "an implicit binary hierarchy parent(k)=floor(k/2) over supplier "
    "keys — the transitive-closure / org-chart walk shape. Spark "
    "executes each recursion step as a join against the previous "
    "frontier, so total work is O(edges x depth) with depth bounded by "
    "log2(n) here; at 100 TB the frontier join shuffles on the parent "
    "key and each level is a separate AQE-planned stage. The SAME SQL "
    "text is the DuckDB oracle.",
    tags=("sql", "iterative"),
)
def recursive_cte_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_RECURSIVE_TREE_SQL, supplier=t(spark, sf_dir, "supplier"))


@register(
    "pagerank_nation_trade",
    """
    WITH edges AS (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
               CAST(count(*) AS DOUBLE) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey
        GROUP BY 1, 2
    ),
    trans AS (
        SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS p_edge
        FROM edges
    ),
    nodes AS (SELECT n_nationkey AS node FROM nation),
    r0 AS (
        SELECT node, 1.0 / (SELECT count(*) FROM nation) AS p FROM nodes
    ),
    r1 AS (
        SELECT nd.node,
               0.15 / (SELECT count(*) FROM nation)
               + 0.85 * coalesce((SELECT sum(pr.p * t.p_edge)
                                  FROM trans t JOIN r0 pr ON pr.node = t.src
                                  WHERE t.dst = nd.node), 0) AS p
        FROM nodes nd
    ),
    r2 AS (
        SELECT nd.node,
               0.15 / (SELECT count(*) FROM nation)
               + 0.85 * coalesce((SELECT sum(pr.p * t.p_edge)
                                  FROM trans t JOIN r1 pr ON pr.node = t.src
                                  WHERE t.dst = nd.node), 0) AS p
        FROM nodes nd
    ),
    r3 AS (
        SELECT nd.node,
               0.15 / (SELECT count(*) FROM nation)
               + 0.85 * coalesce((SELECT sum(pr.p * t.p_edge)
                                  FROM trans t JOIN r2 pr ON pr.node = t.src
                                  WHERE t.dst = nd.node), 0) AS p
        FROM nodes nd
    )
    SELECT CAST(node AS BIGINT) AS nationkey,
           CAST(FLOOR(p * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS pagerank
    FROM r3
    """,
    "Iterative PageRank (3 synchronous iterations, damping 0.85) over "
    "the nation-level trade graph: edge weights come from the HEAVY "
    "part — lineitem shuffle-joined to orders, customer/supplier/"
    "nation broadcast — collapsed to a <=|nations|^2 transition table, "
    "so every iteration is a metadata-scale broadcast join + "
    "aggregation (the BSP shape GraphX/Pregel uses, expressed as "
    "plain DataFrames). At 100 TB only the one-time edge extraction "
    "touches the fact table; iteration cost is independent of corpus "
    "size. Oracle: the same three iterations as chained CTEs.",
    tags=("iterative", "join", "agg"),
)
def pagerank_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey")

    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    trans = edges.withColumn(
        "p_edge", F.col("w") / F.sum("w").over(W.partitionBy("src"))
    ).select("src", "dst", "p_edge")
    # The transition table is <= |nations|^2 rows — pin it so the 4-way
    # fact join runs once, not once per iteration.
    trans = pin_local(spark, trans)

    n_nodes = n.count()  # |nation| — metadata-scale driver scalar
    ranks = n.select(
        F.col("n_nationkey").alias("node"), F.lit(1.0 / n_nodes).alias("p")
    )
    for _ in range(3):
        contrib = (
            trans.join(F.broadcast(ranks), trans.src == F.col("node"))
            .groupBy("dst")
            .agg(F.sum(F.col("p") * F.col("p_edge")).alias("c"))
        )
        ranks = (
            n.join(contrib, n.n_nationkey == contrib.dst, "left")
            .select(
                F.col("n_nationkey").alias("node"),
                (
                    F.lit(0.15 / n_nodes)
                    + F.lit(0.85) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("p"),
            )
        )
    return ranks.select(
        F.col("node").cast("bigint").alias("nationkey"),
        (F.floor(F.col("p") * 1000000.0 + 0.5) / 1000000.0)
        .cast("double")
        .alias("pagerank"),
    )


@register(
    "attribution_touchpoints",
    """
    WITH e AS (
        SELECT user_id, event_type, ts,
               CAST(epoch_us(ts) AS BIGINT) // 1000000 AS t_s
        FROM events
    ),
    w AS (
        SELECT user_id, event_type, t_s,
               min(CASE WHEN event_type = 'view' THEN t_s END) OVER (
                   PARTITION BY user_id ORDER BY t_s
                   RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW
               ) AS first_touch_s,
               max(CASE WHEN event_type = 'view' THEN t_s END) OVER (
                   PARTITION BY user_id ORDER BY t_s
                   RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW
               ) AS last_touch_s
        FROM e
    )
    SELECT user_id, t_s AS purchase_s, first_touch_s, last_touch_s
    FROM w WHERE event_type = 'purchase'
    """,
    "First-touch / last-touch attribution: for every purchase, the "
    "earliest and latest preceding 'view' of the SAME user inside a "
    "24-hour RANGE window frame — conditional aggregates over an "
    "event-time range frame, one shuffle on user_id. The range-frame "
    "form never materializes candidate pairs (the interval-join "
    "formulation of the same question does — see range_join_events), "
    "so per-user cost is O(events in frame), the shape that survives "
    "100 TB of events. Epoch seconds via integer division for "
    "engine-identical bucketing.",
    tags=("events", "window"),
)
def attribution_touchpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("unix_micros(ts) div 1000000").alias("t_s"),
    )
    frame = (
        W.partitionBy("user_id").orderBy("t_s").rangeBetween(-86400, 0)
    )
    view_t = F.when(F.col("event_type") == "view", F.col("t_s"))
    w = ev.select(
        "user_id",
        "event_type",
        "t_s",
        F.min(view_t).over(frame).alias("first_touch_s"),
        F.max(view_t).over(frame).alias("last_touch_s"),
    )
    return w.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("t_s").alias("purchase_s"),
        "first_touch_s",
        "last_touch_s",
    )


@register(
    "linear_interpolation_fill",
    """
    WITH b AS (
      SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS bucket_us,
             round(avg(value), 4) AS avg_raw
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
    ), bounds AS (
      SELECT (min(epoch_us(ts)) // 3600000000) * 3600000000 AS mn,
             (max(epoch_us(ts)) // 3600000000) * 3600000000 AS mx
      FROM events WHERE event_type = 'purchase'
    ), grid AS (
      SELECT unnest(generate_series(mn, mx, 3600000000)) AS bucket_us FROM bounds
    ), w AS (
      SELECT grid.bucket_us, b.avg_raw,
             last_value(b.avg_raw IGNORE NULLS) OVER (
               ORDER BY grid.bucket_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN b.avg_raw IS NOT NULL THEN grid.bucket_us END
                        IGNORE NULLS) OVER (
               ORDER BY grid.bucket_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
             first_value(b.avg_raw IGNORE NULLS) OVER (
               ORDER BY grid.bucket_us
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN b.avg_raw IS NOT NULL THEN grid.bucket_us END
                         IGNORE NULLS) OVER (
               ORDER BY grid.bucket_us
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
      FROM grid LEFT JOIN b USING (bucket_us)
    )
    SELECT bucket_us,
           CAST(avg_raw IS NULL AS INT) AS filled,
           round(CASE
             WHEN avg_raw IS NOT NULL THEN avg_raw
             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
               pv + (nv - pv) * (CAST(bucket_us - pb AS DOUBLE)
                                 / CAST(nb - pb AS DOUBLE))
             ELSE coalesce(pv, nv) END, 6) AS value_interp
    FROM w
    """,
    "Time-series LINEAR interpolation over a dense hourly spine: gaps "
    "between observed buckets are filled with the straight line between "
    "the previous and next observation (IGNORE NULLS window lookups for "
    "the bracketing values + their bucket positions), edges fall back "
    "to nearest-observation. Complements time_bucket_gapfill's LOCF — "
    "together they are the resample/fill pair every feature pipeline "
    "needs. Scale shape: the bucket agg is one shuffle; the four fill "
    "windows share ONE sort (same ordering key, Spark plans a single "
    "Window node pair); partitioned by series key at 100 TB (here one "
    "global series, the sf-fixture degenerate case). Identical IEEE "
    "expression `pv + (nv-pv)*(Δ/span)` on both engines; inputs are "
    "4dp-rounded bucket means so summation-order noise never reaches "
    "the interpolation arithmetic.",
    tags=("events", "window", "timeseries"),
)
def linear_interpolation_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    bucket = (F.expr("unix_micros(ts) div 3600000000") * 3600000000).alias(
        "bucket_us"
    )
    b = ev.groupBy(bucket).agg(F.round(F.avg("value"), 4).alias("avg_raw"))
    bounds = ev.agg(
        (F.expr("min(unix_micros(ts)) div 3600000000") * 3600000000).alias("mn"),
        (F.expr("max(unix_micros(ts)) div 3600000000") * 3600000000).alias("mx"),
    )
    grid = bounds.select(
        F.explode(F.sequence("mn", "mx", F.lit(3600000000))).alias("bucket_us")
    )
    back = W.orderBy("bucket_us").rowsBetween(W.unboundedPreceding, 0)
    fwd = W.orderBy("bucket_us").rowsBetween(0, W.unboundedFollowing)
    obs_bucket = F.when(F.col("avg_raw").isNotNull(), F.col("bucket_us"))
    w = (
        grid.join(b, "bucket_us", "left")
        .withColumn("pv", F.last("avg_raw", ignorenulls=True).over(back))
        .withColumn("pb", F.last(obs_bucket, ignorenulls=True).over(back))
        .withColumn("nv", F.first("avg_raw", ignorenulls=True).over(fwd))
        .withColumn("nb", F.first(obs_bucket, ignorenulls=True).over(fwd))
    )
    frac = (F.col("bucket_us") - F.col("pb")).cast("double") / (
        F.col("nb") - F.col("pb")
    ).cast("double")
    interp = (
        F.when(F.col("avg_raw").isNotNull(), F.col("avg_raw"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv") + (F.col("nv") - F.col("pv")) * frac,
        )
        .otherwise(F.coalesce("pv", "nv"))
    )
    return w.select(
        "bucket_us",
        F.col("avg_raw").isNull().cast("int").alias("filled"),
        F.round(interp, 6).alias("value_interp"),
    )


@register(
    "cohort_retention",
    """
    WITH ua AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk
      FROM events
    ), firstwk AS (
      SELECT user_id, min(wk) AS cohort_wk FROM ua GROUP BY 1
    ), coh AS (
      SELECT cohort_wk, count(*) AS cohort_n FROM firstwk GROUP BY 1
    )
    SELECT f.cohort_wk,
           CAST(ua.wk - f.cohort_wk AS BIGINT)     AS weeks_since,
           count(*)                                 AS n_active,
           round(count(*) / CAST(any_value(c.cohort_n) AS DOUBLE), 6)
                                                    AS retention
    FROM ua
    JOIN firstwk f USING (user_id)
    JOIN coh c ON c.cohort_wk = f.cohort_wk
    GROUP BY 1, 2
    """,
    "Cohort retention matrix: users grouped by first-seen week, "
    "retention = share of each cohort active N weeks later. The "
    "product-analytics staple. Three aggregations, all partial-combined "
    "before their shuffles; firstwk/coh collapse to one tiny row per "
    "cohort and broadcast back onto the user-week fact. Epoch-µs "
    "integer division gives both engines the same week bucketing "
    "(no session-timezone week-truncation semantics to disagree on). "
    "At 100 TB the DISTINCT user-week projection is the only "
    "fact-sized shuffle; everything downstream is cohort-cardinality.",
    tags=("events", "agg", "analytics"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    ua = ev.select(
        "user_id", F.expr("unix_micros(ts) div 604800000000").alias("wk")
    ).distinct()
    firstwk = ua.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    coh = firstwk.groupBy("cohort_wk").agg(F.count(F.lit(1)).alias("cohort_n"))
    return (
        ua.join(firstwk, "user_id")
        .join(F.broadcast(coh), "cohort_wk")
        .groupBy("cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("weeks_since"))
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.round(
                F.count(F.lit(1)) / F.any_value("cohort_n").cast("double"), 6
            ).alias("retention"),
        )
    )


@register(
    "rollup_cascade_daily",
    """
    SELECT event_type,
           epoch_us(ts) // 86400000000 AS day_bucket,
           count(*)                    AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 6)        AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
    "Hypertable-style continuous-aggregate cascade: 15-min partials "
    "(count, sum) merge into hourly partials, hourly into daily, and "
    "avg is derived only at the final grain — the oracle computes the "
    "same daily rows DIRECTLY from raw events, proving the cascade's "
    "merge algebra is exact. This is how a 100 TB metrics store "
    "actually serves daily queries: each refresh touches only new "
    "15-min partials (fact-sized work happens once, at the finest "
    "grain), and every coarser grain is cardinality-of-buckets work — "
    "three shuffles whose sizes DROP by 4× then 24×. Mergeable "
    "partials (count/sum, like the HLL sketches in "
    "hll_distinct_sketch_merge) are the requirement; avg itself is "
    "not mergeable and must be derived at read time. Partials sum "
    "DECIMAL(18,6), not DOUBLE: decimal addition is exactly "
    "associative, so the merged totals are bit-identical no matter how "
    "partitioning splits the partials — float sums are order-dependent "
    "and flip rounding boundaries between runs (observed 1-ulp flip "
    "between local[8] and local[32] layouts).",
    tags=("agg", "events", "timeseries"),
)
def rollup_cascade_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    q15 = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 900000000").alias("b15"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
    )
    hourly = q15.groupBy(
        "event_type", F.expr("b15 div 4").alias("bh")
    ).agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
    daily = hourly.groupBy(
        "event_type", F.expr("bh div 24").alias("day_bucket")
    ).agg(F.sum("n").alias("n_events"), F.sum("s").alias("s"))
    s_dbl = F.col("s").cast("double")
    return daily.select(
        "event_type",
        "day_bucket",
        "n_events",
        s_dbl.alias("sum_value"),
        F.round(s_dbl / F.col("n_events"), 6).alias("avg_value"),
    )


@register(
    "triangle_count_trade_graph",
    """
    WITH d AS (
        SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey
        WHERE s.s_nationkey <> c.c_nationkey
    ), e AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM d
    ), tri AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ), membership AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    ), deg AS (
        SELECT node, count(*) AS degree FROM (
            SELECT a AS node, b FROM e UNION ALL SELECT b, a FROM e
        ) GROUP BY 1
    )
    SELECT CAST(d.node AS BIGINT)  AS nationkey,
           CAST(d.degree AS BIGINT) AS degree,
           CAST(coalesce(m.n_tri, 0) AS BIGINT) AS n_triangles,
           round(coalesce(m.n_tri, 0) * 2.0
                 / (d.degree * (d.degree - 1)), 6) AS clustering_coeff
    FROM deg d
    LEFT JOIN (SELECT node, count(*) AS n_tri FROM membership GROUP BY 1) m
           ON m.node = d.node
    """,
    "Distributed triangle counting + local clustering coefficient over "
    "the undirected nation trade graph (nations that traded, from the "
    "same heavy edge extraction as pagerank_nation_trade). The "
    "canonical-orientation trick (each edge stored once as a<b, "
    "triangles enumerated a<b<c) makes the join tree enumerate every "
    "triangle EXACTLY once with two equi-joins and no post-hoc dedup — "
    "the standard MapReduce triangle algorithm. At 100 TB graphs the "
    "same plan holds with edges hash-partitioned on the join key; "
    "orientation by degree (low-degree node first) bounds the skew of "
    "the e1.b = e2.a shuffle, the known fix for power-law graphs. "
    "Everything after the one-time fact-table edge extraction is "
    "edge-cardinality work.",
    tags=("iterative", "join", "graph"),
)
def triangle_count_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")

    directed = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .distinct()
    )
    e = directed.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    # Edge table is <= |nations|^2 — pin it so the fact join runs once
    # across the three self-join arms (same rationale as pagerank's
    # transition table).
    e = pin_local(spark, e)

    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = e1.join(e2, F.col("e2.a") == F.col("e1.b")).join(
        e3,
        (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
    )
    membership = (
        tri.select(F.col("e1.a").alias("node"))
        .unionAll(tri.select(F.col("e1.b").alias("node")))
        .unionAll(tri.select(F.col("e2.b").alias("node")))
    )
    n_tri = membership.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))
    deg = (
        e.select(F.col("a").alias("node"), "b")
        .unionAll(e.select(F.col("b").alias("node"), F.col("a")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.join(n_tri, "node", "left").select(
        F.col("node").cast("bigint").alias("nationkey"),
        F.col("degree").cast("bigint").alias("degree"),
        F.coalesce("n_tri", F.lit(0)).cast("bigint").alias("n_triangles"),
        F.round(
            F.coalesce("n_tri", F.lit(0)) * 2.0
            / (F.col("degree") * (F.col("degree") - 1)),
            6,
        ).alias("clustering_coeff"),
    )


@register(
    "event_transition_matrix",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    ), c AS (
        SELECT event_type, next_type, count(*) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT event_type, next_type, CAST(n AS BIGINT) AS n,
           round(n / CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE), 6)
               AS p_transition
    FROM c
    """,
    "First-order Markov transition matrix over per-user event "
    "sequences: P(next event type | current), from a lead() window on "
    "(ts, event_id) — the tiebreaker makes same-timestamp ordering "
    "deterministic on both engines. The behavioral-model complement "
    "of funnel_analysis (which fixes the path; this learns the "
    "transition structure). One shuffle on user_id for the sequence "
    "window, then transition-cardinality work: the count aggregate is "
    "partial-combined and the normalizing window runs over "
    "|event_types|^2 rows.",
    tags=("events", "window", "analytics"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    seq = ev.select(
        "event_type",
        F.lead("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("next_type"),
    )
    c = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return c.select(
        "event_type",
        "next_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(
            F.col("n")
            / F.sum("n").over(W.partitionBy("event_type")).cast("double"),
            6,
        ).alias("p_transition"),
    )


@register(
    "contribution_analysis",
    """
    WITH rev AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                        AS DECIMAL(18,6))) AS revenue
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    )
    SELECT region, nation,
           CAST(revenue AS DOUBLE) AS revenue,
           round(CAST(revenue AS DOUBLE)
                 / CAST(sum(revenue) OVER (PARTITION BY region) AS DOUBLE),
                 6) AS pct_of_region,
           round(CAST(revenue AS DOUBLE)
                 / CAST(sum(revenue) OVER () AS DOUBLE), 6) AS pct_of_total
    FROM rev
    """,
    "Contribution analysis (share-of-group at two grains): per-nation "
    "revenue with its share of region and share of grand total — the "
    "BI drill-down staple. The fact-sized work is one star join + one "
    "aggregation; both window normalizations run over the 25-row "
    "aggregate, so the empty-frame global window is metadata-scale by "
    "construction (the anti-pattern is windowing the FACT table). "
    "Revenue sums DECIMAL(18,6) partials — associative, so the "
    "round(,6) shares are bit-identical under any partition layout.",
    tags=("agg", "window", "analytics"),
)
def contribution_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            ).alias("rev_dec")
        )
    )
    rev_d = F.col("rev_dec").cast("double")
    by_region = F.sum("rev_dec").over(W.partitionBy("region")).cast("double")
    total = F.sum("rev_dec").over(W.partitionBy()).cast("double")
    return rev.select(
        "region",
        "nation",
        rev_d.alias("revenue"),
        F.round(rev_d / by_region, 6).alias("pct_of_region"),
        F.round(rev_d / total, 6).alias("pct_of_total"),
    )


@register(
    "pareto_customers",
    """
    WITH rev AS (
        SELECT o_custkey,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders GROUP BY 1
    ), top AS (
        SELECT o_custkey, revenue
        FROM rev ORDER BY revenue DESC, o_custkey LIMIT 100
    ), tot AS (SELECT sum(revenue) AS total FROM rev)
    SELECT CAST(row_number() OVER (ORDER BY t.revenue DESC, t.o_custkey)
                AS BIGINT)                          AS rnk,
           t.o_custkey,
           CAST(t.revenue AS DOUBLE)                AS revenue,
           round(CAST(sum(t.revenue) OVER (ORDER BY t.revenue DESC, t.o_custkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS DOUBLE)
                 / CAST(tot.total AS DOUBLE), 6)    AS cum_share
    FROM top t, tot
    """,
    "Pareto / concentration analysis: top-100 customers by revenue "
    "with each one's CUMULATIVE share of TOTAL revenue (the 80/20 "
    "readout). Fact-sized work is one aggregation; the top-100 cut is "
    "TakeOrderedAndProject (per-partition heaps, no global sort); the "
    "running share windows over 100 rows with a broadcast 1-row total "
    "— at 100 TB the full-population cumulative variant uses the "
    "two-pass per-partition-offset pattern (distributed_row_number). "
    "Revenue sums DECIMAL(18,2) partials: associative, so ranking "
    "ties, the top-100 cut, and the round(,6) shares are identical "
    "under any partition layout.",
    tags=("agg", "window", "analytics"),
)
def pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue")
    )
    top = rev.orderBy(F.desc("revenue"), F.asc("o_custkey")).limit(100)
    total = rev.agg(F.sum("revenue").alias("total"))
    w = W.orderBy(F.desc("revenue"), F.asc("o_custkey"))
    run = w.rowsBetween(W.unboundedPreceding, 0)
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.row_number().over(w).cast("bigint").alias("rnk"),
            "o_custkey",
            F.col("revenue").cast("double").alias("revenue"),
            F.round(
                F.sum("revenue").over(run).cast("double")
                / F.col("total").cast("double"),
                6,
            ).alias("cum_share"),
        )
    )


@register(
    "rolling_active_users",
    """
    WITH ud AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        FROM events
    ), dau AS (
        SELECT day, count(*) AS dau FROM ud GROUP BY 1
    ), contrib AS (
        SELECT ud.user_id, ud.day + o.off AS day_target
        FROM ud, LATERAL (SELECT unnest(generate_series(0, 6)) AS off) o
    ), wau AS (
        SELECT day_target AS day, count(DISTINCT user_id) AS wau
        FROM contrib GROUP BY 1
    )
    SELECT d.day, CAST(d.dau AS BIGINT) AS dau, CAST(w.wau AS BIGINT) AS wau,
           round(d.dau / CAST(w.wau AS DOUBLE), 6) AS stickiness
    FROM dau d JOIN wau w USING (day)
    """,
    "Rolling 7-day active users + DAU/WAU stickiness — the product "
    "health metric. Distinct-count-over-sliding-window can't use a "
    "plain window frame (COUNT DISTINCT isn't frameable), so each "
    "user-day is exploded to the 7 target days it keeps the user "
    "active for, and WAU is a plain distinct count per target day — "
    "exact, one extra 7× map-side fanout, everything "
    "partial-aggregated before its shuffle. The join back to DAU "
    "restricts output to observed days (leading partial windows "
    "included, same on both engines). At 100 TB the fanout factor is "
    "the window length — for 30/90-day windows switch the distinct "
    "count to mergeable HLL sketches per day and union the window "
    "(hll_distinct_sketch_merge is that primitive).",
    tags=("events", "agg", "analytics"),
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day")
    ).distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = ud.select(
        "user_id", "day", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off")
    ).select("user_id", (F.col("day") + F.col("off")).alias("day_target"))
    wau = contrib.groupBy(F.col("day_target").alias("day")).agg(
        F.count_distinct("user_id").alias("wau")
    )
    return dau.join(wau, "day").select(
        "day",
        F.col("dau").cast("bigint").alias("dau"),
        F.col("wau").cast("bigint").alias("wau"),
        F.round(F.col("dau") / F.col("wau").cast("double"), 6).alias("stickiness"),
    )


@register(
    "seasonality_dow_profile",
    """
    WITH d AS (
        SELECT (epoch_us(o_orderdate) // 86400000000 + 4) % 7 AS dow,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price
        FROM orders
    ), g AS (
        SELECT dow,
               CAST(count(*) AS BIGINT)              AS n_orders,
               sum(price)                            AS revenue
        FROM d GROUP BY 1
    )
    SELECT CAST(dow AS BIGINT) AS dow,
           n_orders,
           CAST(revenue AS DOUBLE) AS revenue,
           round(CAST(revenue AS DOUBLE)
                 / CAST(sum(revenue) OVER () AS DOUBLE), 6) AS revenue_share,
           round((CAST(revenue AS DOUBLE)
                  / CAST(sum(revenue) OVER () AS DOUBLE)) * 7.0, 6)
                                                            AS seasonal_index
    FROM g
    """,
    "Day-of-week seasonality profile: order count, revenue, revenue "
    "share, and a seasonal index (share x 7; 1.0 = flat) — the "
    "companion readout to autocorrelation_daily_revenue's lag-7 ACF. "
    "Day-of-week from pure integer epoch arithmetic ((days+4) % 7, "
    "Monday=0 — identical on both engines, no locale-dependent "
    "dayofweek()); revenue sums DECIMAL partials. One "
    "partial-combined groupBy on a 7-value key; windows over 7 rows.",
    tags=("agg", "window", "analytics", "timeseries"),
)
def seasonality_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    d = o.select(
        ((F.expr("unix_micros(o_orderdate) div 86400000000") + 4) % 7).alias(
            "dow"
        ),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    g = d.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("price").alias("revenue"),
    )
    share = F.col("revenue").cast("double") / F.sum("revenue").over(
        W.partitionBy()
    ).cast("double")
    return g.select(
        F.col("dow").cast("bigint").alias("dow"),
        "n_orders",
        F.col("revenue").cast("double").alias("revenue"),
        F.round(share, 6).alias("revenue_share"),
        F.round(share * F.lit(7.0), 6).alias("seasonal_index"),
    )


@register(
    "domain_mix_rebalance",
    """
    WITH g AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1
    ), c AS (
        SELECT source, n,
               CAST(sum(n) OVER () AS BIGINT)   AS tot,
               CAST(count(*) OVER () AS BIGINT) AS k
        FROM g
    )
    SELECT source, n,
           round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6)  AS natural_share,
           round(1.0 / CAST(k AS DOUBLE), 6)                  AS target_share,
           round(CAST(tot AS DOUBLE) / (CAST(k AS DOUBLE) * CAST(n AS DOUBLE)),
                 6)                                           AS sample_weight,
           round(least(CAST(tot AS DOUBLE)
                       / (CAST(k AS DOUBLE) * CAST(n AS DOUBLE)), 4.0), 6)
                                                              AS capped_weight,
           CAST(round(least(CAST(tot AS DOUBLE)
                            / (CAST(k AS DOUBLE) * CAST(n AS DOUBLE)), 4.0)
                      * CAST(n AS DOUBLE)) AS BIGINT)         AS expected_docs
    FROM c
    """,
    "Domain-mixture rebalancing: per-source sampling weights that move "
    "the corpus from its natural source distribution toward a uniform "
    "target mix, with upsampling capped at 4 epochs (the "
    "data-curation step between dedup and training — what mixture "
    "tuning ablations sweep). Counts are exact BIGINT; every share "
    "and weight is one IEEE division chain of exact integers; "
    "least() is exact. One groupBy on the source key; the weight "
    "table then broadcast-joins back onto documents for the actual "
    "weighted_doc_sample draw (that operator exists separately).",
    tags=("agg", "window", "llm-data", "documents"),
)
def domain_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    g = d.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    c = g.select(
        "source",
        "n",
        F.sum("n").over(W.partitionBy()).cast("bigint").alias("tot"),
        F.count(F.lit(1)).over(W.partitionBy()).cast("bigint").alias("k"),
    )
    weight = F.col("tot").cast("double") / (
        F.col("k").cast("double") * F.col("n").cast("double")
    )
    capped = F.least(weight, F.lit(4.0))
    return c.select(
        "source",
        "n",
        F.round(F.col("n").cast("double") / F.col("tot").cast("double"), 6).alias(
            "natural_share"
        ),
        F.round(F.lit(1.0) / F.col("k").cast("double"), 6).alias("target_share"),
        F.round(weight, 6).alias("sample_weight"),
        F.round(capped, 6).alias("capped_weight"),
        F.round(capped * F.col("n").cast("double"), 0)
        .cast("bigint")
        .alias("expected_docs"),
    )


@register(
    "max_concurrent_sessions",
    """
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
    ), marked AS (
        SELECT user_id, ts_us,
               CASE WHEN prev IS NULL OR ts_us - prev > 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM (SELECT user_id, ts_us, event_id,
                     lag(ts_us) OVER (PARTITION BY user_id
                                      ORDER BY ts_us, event_id) AS prev
              FROM e)
    ), g AS (
        SELECT user_id, ts_us,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
        FROM (SELECT user_id, ts_us, new_s FROM marked)
    ), iv AS (
        SELECT user_id, seq,
               CAST(min(ts_us) AS BIGINT) AS s_us,
               CAST(max(ts_us) AS BIGINT) AS e_us
        FROM g GROUP BY 1, 2
    ), pts AS (
        SELECT s_us AS t, 1 AS delta FROM iv
        UNION ALL
        SELECT e_us AS t, -1 AS delta FROM iv
    ), c AS (
        SELECT t, delta,
               CAST(sum(delta) OVER (ORDER BY t, delta DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS conc
        FROM pts
    ), mx AS (
        SELECT t, conc, max(conc) OVER () AS peak,
               CAST(count(*) OVER () AS BIGINT) / 2 AS n_sessions
        FROM c
    )
    SELECT CAST(max(peak) AS BIGINT)       AS peak_concurrency,
           CAST(min(t) AS BIGINT)          AS peak_time_us,
           CAST(max(n_sessions) AS BIGINT) AS n_sessions
    FROM mx WHERE conc = peak
    """,
    "Peak concurrency via the sweep-line pattern: rebuild 30-minute-"
    "gap sessions (same definition as `sessionization`), explode each "
    "interval into (+1 at start, -1 at end) endpoint deltas, and take "
    "the running sum over time — the classic 'maximum overlapping "
    "intervals' computed as sort + prefix sum, which at 100 TB is a "
    "range-partitioned sort plus the two-pass per-partition-offset "
    "cumulative (distributed_row_number pattern) — never a self-join "
    "of intervals. Inclusive-boundary tie rule is pinned (delta DESC: "
    "starts before ends at the same microsecond) so the peak is "
    "deterministic; all arithmetic is BIGINT.",
    tags=("events", "window", "analytics", "sessions"),
)
def max_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import global_prefix_sum

    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    w_user = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    marked = ev.select(
        "user_id",
        "ts_us",
        F.when(
            F.lag("ts_us").over(w_user).isNull()
            | (F.col("ts_us") - F.lag("ts_us").over(w_user) > 1_800_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    w_seq = W.partitionBy("user_id").orderBy("ts_us").rowsBetween(
        W.unboundedPreceding, 0
    )
    g = marked.select(
        "user_id", "ts_us", F.sum("new_s").over(w_seq).alias("seq")
    )
    iv = g.groupBy("user_id", "seq").agg(
        F.min("ts_us").cast("bigint").alias("s_us"),
        F.max("ts_us").cast("bigint").alias("e_us"),
    )
    pts = iv.select(F.col("s_us").alias("t"), F.lit(1).alias("delta")).unionAll(
        iv.select(F.col("e_us").alias("t"), F.lit(-1).alias("delta"))
    )
    # Sweep order (t ASC, delta DESC) == (t, -delta) ascending; the
    # running concurrency is a DISTRIBUTED two-pass prefix sum (range
    # repartition + per-partition cumsum + broadcast offsets), never a
    # single-partition window over the endpoint stream.
    swept = global_prefix_sum(
        pts.withColumn("neg_delta", -F.col("delta")),
        order_cols=["t", "neg_delta"],
        value_col="delta",
        out_col="conc",
    )
    stats = swept.agg(
        F.max("conc").cast("bigint").alias("peak"),
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_sessions"),
    )
    return (
        swept.join(F.broadcast(stats), swept.conc == stats.peak)
        .agg(
            F.max("peak").cast("bigint").alias("peak_concurrency"),
            F.min("t").cast("bigint").alias("peak_time_us"),
            F.max("n_sessions").cast("bigint").alias("n_sessions"),
        )
    )


@register(
    "event_trigram_topk",
    """
    WITH seqs AS (
        SELECT event_type AS e1,
               lead(event_type, 1) OVER (PARTITION BY user_id
                    ORDER BY epoch_us(ts), event_id) AS e2,
               lead(event_type, 2) OVER (PARTITION BY user_id
                    ORDER BY epoch_us(ts), event_id) AS e3
        FROM events
    ), g AS (
        SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
        FROM seqs WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        GROUP BY 1, 2, 3
    )
    SELECT e1 || '>' || e2 || '>' || e3 AS trigram, n
    FROM g ORDER BY n DESC, trigram LIMIT 10
    """,
    "Sequential-pattern mining: top-10 most frequent 3-step event "
    "sequences (trigrams) across all user journeys — the exploratory "
    "companion to event_transition_matrix's first-order Markov view "
    "(trigrams expose second-order structure funnels miss). Per-user "
    "lead() windows run partitioned on the natural user key with a "
    "deterministic (ts, event_id) order; trigram counting is one "
    "partial-combined groupBy; the top-10 cut is "
    "TakeOrderedAndProject with a total (count DESC, trigram) order "
    "— per-partition heaps, no global sort.",
    tags=("events", "window", "agg", "analytics"),
)
def event_trigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w_user = W.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), F.col("event_id")
    )
    seqs = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w_user).alias("e2"),
        F.lead("event_type", 2).over(w_user).alias("e3"),
    )
    g = (
        seqs.filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return (
        g.select(
            F.concat_ws(">", "e1", "e2", "e3").alias("trigram"), "n"
        )
        .orderBy(F.desc("n"), F.asc("trigram"))
        .limit(10)
    )


@register(
    "seasonal_naive_backtest",
    """
    WITH daily AS (
        SELECT epoch_us(o_orderdate) // 86400000000 AS day,
               CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
                    AS BIGINT) AS x
        FROM orders GROUP BY 1
    ), paired AS (
        SELECT a.day, a.x, b.x AS f
        FROM daily a JOIN daily b ON b.day = a.day - 7
    ), err AS (
        SELECT day, x, f,
               abs(x - f) AS ae,
               CAST(round(round(CAST(abs(x - f) AS DOUBLE)
                                / CAST(x AS DOUBLE), 6) * 1000000.0)
                    AS BIGINT) AS ape_micro,
               CAST(round(round(2.0 * CAST(abs(x - f) AS DOUBLE)
                                / CAST(x + f AS DOUBLE), 6) * 1000000.0)
                    AS BIGINT) AS sape_micro
        FROM paired WHERE x > 0
    )
    SELECT CAST(count(*) AS BIGINT)                       AS n_days,
           round(CAST(CAST(sum(ae) AS BIGINT) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 2)           AS mae,
           round(CAST(CAST(sum(ape_micro) AS BIGINT) AS DOUBLE)
                 / (CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS mape,
           round(CAST(CAST(sum(sape_micro) AS BIGINT) AS DOUBLE)
                 / (CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS smape
    FROM err
    """,
    "Seasonal-naive forecast backtest: predict each day's revenue "
    "with the value 7 days earlier and score MAE / MAPE / SMAPE — "
    "the baseline every forecasting model (the reference domain's "
    "loss-projection models included) must beat, and the natural "
    "consumer of autocorrelation_daily_revenue's lag-7 signal. "
    "Absolute errors are exact BIGINT on floor-dollar daily sums; "
    "per-day percentage errors are exact-integer IEEE divisions "
    "rounded to micro-units and summed as BIGINT (associative, "
    "layout-independent); each mean is one final division. Lag "
    "alignment is an equi-join on day-7 (calendar-correct across "
    "gaps, unlike positional lag). One groupBy(day) is the only "
    "fact-sized work.",
    tags=("agg", "join", "analytics", "timeseries"),
)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("unix_micros(o_orderdate) div 86400000000").alias("day")
    ).agg(
        F.floor(F.sum(F.col("o_totalprice").cast("decimal(18,2)")))
        .cast("bigint")
        .alias("x")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    paired = a.join(b, F.col("b.day") == F.col("a.day") - 7).select(
        F.col("a.day").alias("day"), F.col("a.x").alias("x"), F.col("b.x").alias("f")
    )
    err = paired.filter(F.col("x") > 0).select(
        "day",
        "x",
        "f",
        F.abs(F.col("x") - F.col("f")).alias("ae"),
        F.round(
            F.round(
                F.abs(F.col("x") - F.col("f")).cast("double")
                / F.col("x").cast("double"),
                6,
            )
            * 1000000.0,
            0,
        )
        .cast("bigint")
        .alias("ape_micro"),
        F.round(
            F.round(
                F.lit(2.0)
                * F.abs(F.col("x") - F.col("f")).cast("double")
                / (F.col("x") + F.col("f")).cast("double"),
                6,
            )
            * 1000000.0,
            0,
        )
        .cast("bigint")
        .alias("sape_micro"),
    )
    return err.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(
            F.sum("ae").cast("bigint").cast("double")
            / F.count(F.lit(1)).cast("double"),
            2,
        ).alias("mae"),
        F.round(
            F.sum("ape_micro").cast("bigint").cast("double")
            / (F.count(F.lit(1)).cast("double") * 1000000.0),
            6,
        ).alias("mape"),
        F.round(
            F.sum("sape_micro").cast("bigint").cast("double")
            / (F.count(F.lit(1)).cast("double") * 1000000.0),
            6,
        ).alias("smape"),
    )


@register(
    "growth_accounting_weekly",
    """
    WITH uw AS (
        SELECT DISTINCT user_id,
               epoch_us(ts) // 86400000000 // 7 AS week
        FROM events
    ), marked AS (
        SELECT user_id, week,
               min(week) OVER (PARTITION BY user_id)           AS first_week,
               lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_week
        FROM uw
    ), cls AS (
        SELECT week,
               CAST(count(*) AS BIGINT) AS n_active,
               CAST(sum(CASE WHEN week = first_week THEN 1 ELSE 0 END)
                    AS BIGINT)          AS n_new,
               CAST(sum(CASE WHEN prev_week = week - 1 THEN 1 ELSE 0 END)
                    AS BIGINT)          AS n_retained,
               CAST(sum(CASE WHEN week > first_week
                             AND (prev_week IS NULL OR prev_week < week - 1)
                             THEN 1 ELSE 0 END)
                    AS BIGINT)          AS n_resurrected
        FROM marked GROUP BY 1
    )
    SELECT c.week, c.n_active, c.n_new, c.n_retained, c.n_resurrected,
           coalesce(p.n_active, 0) - c.n_retained AS n_churned,
           CASE WHEN coalesce(p.n_active, 0) - c.n_retained > 0
                THEN round(CAST(c.n_new + c.n_resurrected AS DOUBLE)
                           / CAST(coalesce(p.n_active, 0) - c.n_retained
                                  AS DOUBLE), 6)
           END AS quick_ratio
    FROM cls c LEFT JOIN cls p ON p.week = c.week - 1
    """,
    "Growth accounting: every week's active users decomposed into "
    "new / retained / resurrected, churn derived as last week's "
    "actives minus this week's retained, and the quick ratio "
    "((new+resurrected)/churned) — the canonical product-growth "
    "readout (Social Capital's framework). Per-user state needs only "
    "a lag over that user's distinct active weeks (partitioned on the "
    "natural key) and a broadcast-sized week-over-week self-join of "
    "the 350-row weekly aggregate. All counts exact BIGINT; the one "
    "fact-sized pass is the DISTINCT (user, week) projection.",
    tags=("events", "window", "agg", "analytics"),
)
def growth_accounting_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.expr("unix_micros(ts) div 86400000000 div 7").alias("week")
    ).distinct()
    w_user = W.partitionBy("user_id")
    w_ord = W.partitionBy("user_id").orderBy("week")
    marked = uw.select(
        "user_id",
        "week",
        F.min("week").over(w_user).alias("first_week"),
        F.lag("week").over(w_ord).alias("prev_week"),
    )
    cls = marked.groupBy("week").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active"),
        F.sum(F.when(F.col("week") == F.col("first_week"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum(F.when(F.col("prev_week") == F.col("week") - 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_retained"),
        F.sum(
            F.when(
                (F.col("week") > F.col("first_week"))
                & (
                    F.col("prev_week").isNull()
                    | (F.col("prev_week") < F.col("week") - 1)
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_resurrected"),
    )
    c = cls.alias("c")
    p = cls.alias("p")
    churned = F.coalesce(F.col("p.n_active"), F.lit(0)) - F.col("c.n_retained")
    return c.join(
        F.broadcast(p), F.col("p.week") == F.col("c.week") - 1, "left"
    ).select(
        F.col("c.week").alias("week"),
        F.col("c.n_active").alias("n_active"),
        F.col("c.n_new").alias("n_new"),
        F.col("c.n_retained").alias("n_retained"),
        F.col("c.n_resurrected").alias("n_resurrected"),
        churned.alias("n_churned"),
        F.when(
            churned > 0,
            F.round(
                (F.col("c.n_new") + F.col("c.n_resurrected")).cast("double")
                / churned.cast("double"),
                6,
            ),
        ).alias("quick_ratio"),
    )


@register(
    "cohort_ltv",
    """
    WITH uw AS (
        SELECT user_id,
               epoch_us(ts) // 86400000000 // 7 AS week,
               CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                   AS rev_cents
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2
    ), fw AS (
        SELECT user_id, min(week) AS cohort FROM uw GROUP BY 1
    ), sized AS (
        SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users FROM fw GROUP BY 1
    ), aged AS (
        SELECT f.cohort, u.week - f.cohort AS age_weeks,
               CAST(sum(u.rev_cents) AS BIGINT) AS rev_cents
        FROM uw u JOIN fw f ON u.user_id = f.user_id
        GROUP BY 1, 2
    )
    SELECT a.cohort, a.age_weeks, s.cohort_users, a.rev_cents,
           round(CAST(CAST(sum(a.rev_cents) OVER (PARTITION BY a.cohort
                           ORDER BY a.age_weeks
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS DOUBLE)
                 / (CAST(s.cohort_users AS DOUBLE) * 100.0), 4)
               AS cum_ltv_per_user
    FROM aged a JOIN sized s USING (cohort)
    WHERE a.cohort >= 0
    """,
    "Cohort LTV curves: purchasers grouped by first-purchase week, "
    "cumulative revenue per cohort member by weeks-since-first — the "
    "monetization companion to cohort_retention's activity matrix "
    "(does later revenue make up for churn?). Revenue integerizes to "
    "floor-cents BIGINT at the row level, so per-(user,week) partials, "
    "cohort-age sums, and the running cumulative are ALL exact "
    "integer arithmetic; the single division per output row happens "
    "last. Fact-sized work: one groupBy(user, week) on purchases; "
    "the LTV windows run over the cohort x age aggregate.",
    tags=("events", "window", "agg", "analytics"),
)
def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    uw = ev.groupBy(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000 div 7").alias("week"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents")
    )
    fw = uw.groupBy("user_id").agg(F.min("week").alias("cohort"))
    sized = fw.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_users")
    )
    aged = (
        uw.join(fw, "user_id")
        .groupBy("cohort", (F.col("week") - F.col("cohort")).alias("age_weeks"))
        .agg(F.sum("rev_cents").cast("bigint").alias("rev_cents"))
    )
    w_cum = (
        W.partitionBy("cohort")
        .orderBy("age_weeks")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        aged.join(F.broadcast(sized), "cohort")
        .filter(F.col("cohort") >= 0)
        .select(
            "cohort",
            "age_weeks",
            "cohort_users",
            "rev_cents",
            F.round(
                F.sum("rev_cents").over(w_cum).cast("bigint").cast("double")
                / (F.col("cohort_users").cast("double") * F.lit(100.0)),
                4,
            ).alias("cum_ltv_per_user"),
        )
    )


@register(
    "market_basket_lift",
    """
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), tot AS (
        SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM op
    ), pa AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_a FROM op GROUP BY 1
    ), pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT part_a, part_b, n_ab,
           round(CAST(n_ab AS DOUBLE) / CAST(t.n AS DOUBLE), 6)     AS support,
           round(CAST(n_ab AS DOUBLE) / CAST(x.n_a AS DOUBLE), 6)   AS confidence,
           round(CAST(n_ab * t.n AS DOUBLE)
                 / CAST(x.n_a * y.n_a AS DOUBLE), 6)                AS lift
    FROM pairs
    JOIN pa x ON part_a = x.l_partkey
    JOIN pa y ON part_b = y.l_partkey
    CROSS JOIN tot t
    ORDER BY lift DESC, part_a, part_b
    LIMIT 20
    """,
    "Market-basket affinity: support / confidence / lift for part "
    "pairs co-purchased in the same order, top-20 by lift — the "
    "association-rules readout behind every recommender baseline. "
    "Pair generation is a self-equi-join ON the order key with a "
    "canonical part_a < part_b orientation (pairs per order are "
    "bounded by basket size squared — never a global cross product); "
    "item frequencies broadcast back onto the pair aggregate; every "
    "measure is one IEEE division of exact BIGINT counts, and the "
    "top-20 cut is TakeOrderedAndProject on (lift, part_a, part_b) — "
    "a total order, so the cut is deterministic.",
    tags=("agg", "join", "analytics"),
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    tot = op.agg(F.count_distinct("l_orderkey").cast("bigint").alias("n"))
    pa = op.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_a")
    )
    a = op.alias("a")
    b = op.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    x = pa.alias("x")
    y = pa.alias("y")
    return (
        pairs.join(F.broadcast(x), F.col("part_a") == F.col("x.l_partkey"))
        .join(F.broadcast(y), F.col("part_b") == F.col("y.l_partkey"))
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(
                F.col("n_ab").cast("double") / F.col("n").cast("double"), 6
            ).alias("support"),
            F.round(
                F.col("n_ab").cast("double") / F.col("x.n_a").cast("double"), 6
            ).alias("confidence"),
            F.round(
                (F.col("n_ab") * F.col("n")).cast("double")
                / (F.col("x.n_a") * F.col("y.n_a")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


@register(
    "scd2_asof_fact_join",
    """
    WITH dim AS (
        SELECT c_custkey, c_mktsegment AS segment,
               TIMESTAMP '1990-01-01' AS valid_from,
               TIMESTAMP '1998-01-01' AS valid_to
        FROM customer
        UNION ALL
        SELECT c_custkey,
               CASE WHEN c_custkey % 3 = 0
                    THEN 'MIGRATED-' || c_mktsegment
                    ELSE c_mktsegment END,
               TIMESTAMP '1998-01-01',
               TIMESTAMP '2999-01-01'
        FROM customer
    )
    SELECT d.segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                                    AS revenue
    FROM orders o
    JOIN dim d
      ON d.c_custkey = o.o_custkey
     AND o.o_orderdate >= d.valid_from
     AND o.o_orderdate < d.valid_to
    GROUP BY 1
    """,
    "Temporal (SCD2 as-of) dimension join: each fact row joins the "
    "dimension VERSION that was valid at the fact's event time — the "
    "point-in-time-correct attribution every warehouse needs once "
    "dimensions change (operators/upsert.py builds these validity "
    "windows; here a deterministic two-version dimension is "
    "synthesized identically on both engines so the oracle can check "
    "the join). Plan shape: equi-join ON the surrogate key with the "
    "validity-range predicate as a post-join filter — Catalyst keeps "
    "the hash join on c_custkey (never a range-only join), the "
    "dimension broadcasts, and each fact row matches exactly one "
    "version. Revenue sums DECIMAL partials.",
    tags=("join", "agg", "timeseries"),
)
def scd2_asof_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    v1 = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1990-01-01").cast("timestamp").alias("valid_from"),
        F.lit("1998-01-01").cast("timestamp").alias("valid_to"),
    )
    v2 = c.select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(F.lit("MIGRATED-"), F.col("c_mktsegment")),
        )
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        F.lit("1998-01-01").cast("timestamp").alias("valid_from"),
        F.lit("2999-01-01").cast("timestamp").alias("valid_to"),
    )
    dim = v1.unionAll(v2)
    o = t(spark, sf_dir, "orders")
    return (
        o.join(
            F.broadcast(dim),
            (dim.c_custkey == o.o_custkey)
            & (o.o_orderdate >= dim.valid_from)
            & (o.o_orderdate < dim.valid_to),
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("revenue"),
        )
    )


@register(
    "rfm_segmentation",
    """
    WITH base AS (
        SELECT o_custkey,
               CAST((SELECT max(epoch_us(o_orderdate)) FROM orders)
                    // 86400000000
                    - max(epoch_us(o_orderdate)) // 86400000000 AS BIGINT)
                   AS recency_days,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
                    AS BIGINT)          AS monetary
        FROM orders GROUP BY 1
    ), scored AS (
        SELECT *,
               CASE WHEN recency_days <= 180 THEN 3
                    WHEN recency_days <= 540 THEN 2 ELSE 1 END AS r_score,
               CASE WHEN frequency >= 15 THEN 3
                    WHEN frequency >= 8 THEN 2 ELSE 1 END      AS f_score,
               CASE WHEN monetary >= 2000000 THEN 3
                    WHEN monetary >= 1000000 THEN 2 ELSE 1 END AS m_score
        FROM base
    )
    SELECT CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(monetary) AS BIGINT) AS segment_revenue,
           round(CAST(sum(monetary) AS DOUBLE)
                 / CAST(sum(sum(monetary)) OVER () AS DOUBLE), 6)
                                    AS revenue_share
    FROM scored GROUP BY 1, 2, 3
    """,
    "RFM segmentation: every customer scored on Recency (days since "
    "last order, vs the dataset's anchor date), Frequency (order "
    "count), and Monetary (floor-dollar lifetime revenue), bucketed "
    "into fixed 3x3x3 policy bands and rolled up to segment sizes "
    "and revenue share — the CRM workhorse for collections and "
    "cross-sell targeting in a lending book. Fixed band edges (not "
    "quantile cuts) are how production RFM policies are actually "
    "written, and they keep every boundary exact-integer. One "
    "groupBy(custkey) is the fact-sized pass; the anchor date is a "
    "broadcast scalar subquery; segment rollup runs on ~1,500 rows.",
    tags=("agg", "window", "analytics"),
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    anchor = o.agg(
        F.expr("max(unix_micros(o_orderdate)) div 86400000000").alias("anchor")
    )
    base = (
        o.groupBy("o_custkey")
        .agg(
            F.expr("max(unix_micros(o_orderdate)) div 86400000000").alias(
                "last_day"
            ),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.floor(F.sum(F.col("o_totalprice").cast("decimal(18,2)")))
            .cast("bigint")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            (F.col("anchor") - F.col("last_day"))
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    scored = base.select(
        "monetary",
        F.when(F.col("recency_days") <= 180, 3)
        .when(F.col("recency_days") <= 540, 2)
        .otherwise(1)
        .alias("r_score"),
        F.when(F.col("frequency") >= 15, 3)
        .when(F.col("frequency") >= 8, 2)
        .otherwise(1)
        .alias("f_score"),
        F.when(F.col("monetary") >= 2_000_000, 3)
        .when(F.col("monetary") >= 1_000_000, 2)
        .otherwise(1)
        .alias("m_score"),
    )
    seg = scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("monetary").cast("bigint").alias("segment_revenue"),
    )
    return seg.select(
        F.col("r_score").cast("bigint").alias("r_score"),
        F.col("f_score").cast("bigint").alias("f_score"),
        F.col("m_score").cast("bigint").alias("m_score"),
        "n_customers",
        "segment_revenue",
        F.round(
            F.col("segment_revenue").cast("double")
            / F.sum("segment_revenue").over(W.partitionBy()).cast("double"),
            6,
        ).alias("revenue_share"),
    )


@register(
    "basket_size_distribution",
    """
    WITH b AS (
        SELECT l_orderkey, CAST(count(*) AS BIGINT) AS items
        FROM lineitem GROUP BY 1
    ), g AS (
        SELECT items, CAST(count(*) AS BIGINT) AS n_orders FROM b GROUP BY 1
    )
    SELECT items, n_orders,
           round(CAST(n_orders AS DOUBLE)
                 / CAST(sum(n_orders) OVER () AS DOUBLE), 6) AS share,
           round(CAST(sum(n_orders) OVER (ORDER BY items
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS DOUBLE)
                 / CAST(sum(n_orders) OVER () AS DOUBLE), 6) AS cum_share
    FROM g
    """,
    "Basket-size distribution: how many line items per order, with "
    "per-size share and cumulative share — the order-shape profile "
    "that sizes market_basket_lift's pair blow-up (pairs per order "
    "grow with basket² — this query is the denominator evidence "
    "that the self-join stays bounded). Two partial-combined "
    "groupBys (orderkey, then the ≤7-value size key); every share "
    "divides exact BIGINT counts; windows run over the size "
    "histogram.",
    tags=("agg", "window", "analytics"),
)
def basket_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    b = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("items")
    )
    g = b.groupBy("items").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    w_all = W.partitionBy()
    w_cum = W.orderBy("items").rowsBetween(W.unboundedPreceding, 0)
    return g.select(
        "items",
        "n_orders",
        F.round(
            F.col("n_orders").cast("double")
            / F.sum("n_orders").over(w_all).cast("double"),
            6,
        ).alias("share"),
        F.round(
            F.sum("n_orders").over(w_cum).cast("double")
            / F.sum("n_orders").over(w_all).cast("double"),
            6,
        ).alias("cum_share"),
    )


@register(
    "skyline_price_size",
    """
    WITH p AS (
        SELECT p_partkey, p_size,
               CAST(floor(p_retailprice * 100) AS BIGINT) AS price_cents
        FROM part
    ), swept AS (
        SELECT p_partkey, p_size, price_cents,
               max(p_size) OVER (ORDER BY price_cents
                    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS best_cheaper,
               max(p_size) OVER (PARTITION BY price_cents) AS best_same
        FROM p
    )
    SELECT p_partkey,
           CAST(p_size AS BIGINT) AS p_size,
           price_cents
    FROM swept
    WHERE (best_cheaper IS NULL OR p_size > best_cheaper)
      AND p_size = best_same
    ORDER BY price_cents, p_partkey
    """,
    "Skyline (Pareto-frontier) query: parts not dominated on "
    "(cheaper-or-equal price, larger-or-equal size, strict "
    "somewhere) — the preference-query operator class (the "
    "sort-filter-skyline algorithm) without the naive O(n^2) "
    "dominance self-join: one sort by exact integer cents, a "
    "running max over the STRICTLY-cheaper prefix (RANGE frame "
    "excludes price peers), and a per-price-group max for the "
    "equal-price dominance case. Floor-cents pricing makes sort and "
    "maxima integer-deterministic. At 100 TB: range-partition by "
    "price + per-partition sweep + broadcast partition maxima — the "
    "global_prefix_sum shape with max as the monoid.",
    tags=("window", "analytics"),
)
def skyline_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_size",
        F.floor(F.col("p_retailprice") * 100).cast("bigint").alias("price_cents"),
    )
    w_cheaper = W.orderBy("price_cents").rangeBetween(W.unboundedPreceding, -1)
    swept = p.select(
        "p_partkey",
        "p_size",
        "price_cents",
        F.max("p_size").over(w_cheaper).alias("best_cheaper"),
        F.max("p_size").over(W.partitionBy("price_cents")).alias("best_same"),
    )
    return (
        swept.filter(
            (
                F.col("best_cheaper").isNull()
                | (F.col("p_size") > F.col("best_cheaper"))
            )
            & (F.col("p_size") == F.col("best_same"))
        )
        .select(
            "p_partkey",
            F.col("p_size").cast("bigint").alias("p_size"),
            "price_cents",
        )
        .orderBy("price_cents", "p_partkey")
    )


@register(
    "shortest_path_trade_cost",
    """
    WITH d AS (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
               count(*) AS n_trades
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey
        WHERE s.s_nationkey <> c.c_nationkey
        GROUP BY 1, 2
    ), e AS (
        SELECT src, dst, 1 + (n_trades % 3) AS w FROM d
    ), r AS (
        WITH RECURSIVE reach(node, dist) AS (
            SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
            UNION
            SELECT CAST(e.dst AS BIGINT), CAST(reach.dist + e.w AS BIGINT)
            FROM reach JOIN e ON e.src = reach.node
            WHERE reach.dist + e.w <= 30
        )
        SELECT node, min(dist) AS min_cost FROM reach GROUP BY 1
    )
    SELECT n.n_name                    AS nation,
           CAST(r.node AS BIGINT)      AS nationkey,
           CAST(r.min_cost AS BIGINT)  AS min_cost
    FROM r JOIN nation n ON n.n_nationkey = r.node
    ORDER BY min_cost, nationkey
    """,
    "Weighted single-source shortest path (Bellman-Ford) over the "
    "directed nation trade graph: edge weight derived from trade "
    "volume (small exact integers, so min-plus relaxation is exact "
    "arithmetic with no float ties), source = nation 0. The Spark "
    "side runs distributed Bellman-Ford — per iteration one "
    "edges-join + groupBy(node).min relaxation, lineage truncated "
    "per round, early exit when an iteration improves nothing (the "
    "same iterate-to-fixpoint harness as neardup_clusters' connected "
    "components). Iterations are bounded by path diameter, not edge "
    "count; the fact-sized work is the one-time edge extraction, "
    "after which relaxations run on the node-scale frontier. The "
    "oracle's bounded recursive CTE enumerates (node, dist) pairs "
    "distinctly with a cost cap, which terminates on cyclic graphs.",
    tags=("graph", "join", "iterative"),
)
def shortest_path_trade_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = t(spark, sf_dir, "nation")

    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("n_trades"))
        .select("src", "dst", (1 + F.col("n_trades") % 3).alias("w"))
    )
    edges = pin_local(spark, edges)  # <= |nations|^2 rows, extracted once

    dist = edges.sparkSession.createDataFrame(
        [(0, 0)], "node bigint, dist bigint"
    )
    for _ in range(24):  # |V| - 1 relaxation rounds max; early exit below
        relaxed = (
            dist.join(edges, dist.node == edges.src)
            .select(
                F.col("dst").cast("bigint").alias("node"),
                (F.col("dist") + F.col("w")).cast("bigint").alias("dist"),
            )
            .unionByName(dist)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        relaxed = pin_local(spark, relaxed)  # the node-scale frontier
        improved = (
            relaxed.alias("r")
            .join(dist.alias("d"), F.col("r.node") == F.col("d.node"), "left")
            .filter(
                F.col("d.dist").isNull() | (F.col("r.dist") < F.col("d.dist"))
            )
            .count()
        )
        dist = relaxed
        if improved == 0:
            break

    return (
        dist.filter(F.col("dist") <= 30)
        .join(F.broadcast(nation), F.col("node") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.col("node").cast("bigint").alias("nationkey"),
            F.col("dist").cast("bigint").alias("min_cost"),
        )
        .orderBy("min_cost", "nationkey")
    )


@register(
    "bitmap_distinct_count",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_distinct_supps
    FROM lineitem
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "Exact distinct counting through bitmap indexes (Spark "
    "bitmap_construct_agg / bitmap_or_agg / bitmap_count): keys hash "
    "to (bucket, bit-position), per-bucket bitmaps build map-side, "
    "and the final count is the sum of per-bucket popcounts. This is "
    "the re-aggregatable exact-distinct pattern for 100 TB: partial "
    "bitmap OR is associative and bounded (one ~4 KB bitmap per "
    "bucket) where count(DISTINCT) expands every key through the "
    "shuffle, and the bitmaps can persist as an incremental-refresh "
    "distinct sketch with NO approximation (vs HLL's error bound). "
    "The oracle is plain count(DISTINCT) — the bitmap path must be "
    "exactly equal, not approximately.",
    tags=("agg", "sketch", "functions"),
)
def bitmap_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")

    def two_level(key: str, out: str) -> DataFrame:
        # level 1: one bitmap per (group, bucket) — map-side partials OR
        # together; level 2: popcount-sum over buckets. Each key needs
        # its OWN bucket grouping (sharing one would split a key's
        # bitmap across the other key's buckets and double-count).
        per_bucket = li.groupBy(
            "l_returnflag",
            "l_linestatus",
            F.expr(f"bitmap_bucket_number({key})").alias("bkt"),
        ).agg(
            F.expr(f"bitmap_construct_agg(bitmap_bit_position({key}))").alias("bm")
        )
        return per_bucket.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias(out)
        )

    parts = two_level("l_partkey", "n_distinct_parts")
    supps = two_level("l_suppkey", "n_distinct_supps")
    return (
        parts.join(supps, ["l_returnflag", "l_linestatus"])
        .select(
            "l_returnflag",
            "l_linestatus",
            "n_distinct_parts",
            "n_distinct_supps",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "funnel_within_window",
    """
    WITH e AS (
        SELECT user_id, event_type, epoch_us(ts) AS t FROM events
    ), q1 AS (
        SELECT user_id, event_type, t,
               max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY t
                         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                   AS has_view_1h
        FROM e
    ), q2 AS (
        SELECT user_id, event_type, t, has_view_1h,
               max(CASE WHEN event_type = 'click' AND has_view_1h = 1
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY t
                         RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
                   AS has_qc_24h
        FROM q1
    ), per_user AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s1,
               max(CASE WHEN event_type = 'click' AND has_view_1h = 1
                        THEN 1 ELSE 0 END) AS s2,
               max(CASE WHEN event_type = 'purchase' AND has_qc_24h = 1
                        THEN 1 ELSE 0 END) AS s3
        FROM q2 GROUP BY 1
    )
    SELECT CAST(sum(s1) AS BIGINT) AS n_viewed,
           CAST(sum(s2) AS BIGINT) AS n_clicked_within_1h,
           CAST(sum(s3) AS BIGINT) AS n_purchased_within_24h,
           round(CAST(sum(s2) AS DOUBLE) / CAST(sum(s1) AS DOUBLE), 6)
               AS click_conv,
           round(CAST(sum(s3) AS DOUBLE) / CAST(sum(s1) AS DOUBLE), 6)
               AS purchase_conv
    FROM per_user
    """,
    "Time-constrained funnel (view -> click within 1 h of a view -> "
    "purchase within 24 h of a qualified click): the CEP shape "
    "first-occurrence funnels can't express, since the first click "
    "after the first view may miss the window while a later "
    "view-click pair qualifies. Computed with per-user event-time "
    "RANGE-frame windows — 'a qualifying predecessor exists within "
    "Delta' is max(flag) over RANGE Delta PRECEDING — so there is NO "
    "events self-join: two windowed passes over user-partitioned "
    "event time (one shuffle), per-user state bounded by the frame, "
    "exact integer epoch arithmetic throughout. Equal-timestamp "
    "peers are in-frame under RANGE semantics on both engines, so "
    "zero-gap chains count identically.",
    tags=("window", "funnel", "analytics", "timeseries"),
)
def funnel_within_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("t")
    )
    w1 = (
        W.partitionBy("user_id")
        .orderBy("t")
        .rangeBetween(-3_600_000_000, 0)
    )
    q1 = e.select(
        "user_id",
        "event_type",
        "t",
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .over(w1)
        .alias("has_view_1h"),
    )
    w2 = (
        W.partitionBy("user_id")
        .orderBy("t")
        .rangeBetween(-86_400_000_000, 0)
    )
    q2 = q1.select(
        "user_id",
        "event_type",
        "t",
        "has_view_1h",
        F.max(
            F.when(
                (F.col("event_type") == "click") & (F.col("has_view_1h") == 1), 1
            ).otherwise(0)
        )
        .over(w2)
        .alias("has_qc_24h"),
    )
    per_user = q2.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("s1"),
        F.max(
            F.when(
                (F.col("event_type") == "click") & (F.col("has_view_1h") == 1), 1
            ).otherwise(0)
        ).alias("s2"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("has_qc_24h") == 1),
                1,
            ).otherwise(0)
        ).alias("s3"),
    )
    return per_user.agg(
        F.sum("s1").cast("bigint").alias("n_viewed"),
        F.sum("s2").cast("bigint").alias("n_clicked_within_1h"),
        F.sum("s3").cast("bigint").alias("n_purchased_within_24h"),
        F.round(
            F.sum("s2").cast("double") / F.sum("s1").cast("double"), 6
        ).alias("click_conv"),
        F.round(
            F.sum("s3").cast("double") / F.sum("s1").cast("double"), 6
        ).alias("purchase_conv"),
    )


@register(
    "decayed_leaderboard",
    """
    WITH bounds AS (
        SELECT max(epoch_us(o_orderdate) // 86400000000) AS now_day FROM orders
    ), scored AS (
        SELECT l_partkey,
               CAST(round(power(0.5,
                        CAST((SELECT now_day FROM bounds)
                             - epoch_us(o_orderdate) // 86400000000 AS DOUBLE)
                        / 365.0)
                    * l_quantity * 1e6) AS BIGINT) AS decayed_micro
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT l_partkey AS partkey,
           CAST(sum(decayed_micro) AS BIGINT) AS score_micro,
           round(CAST(sum(decayed_micro) AS DOUBLE) / 1e6, 4) AS decayed_qty
    FROM scored GROUP BY 1
    ORDER BY score_micro DESC, partkey LIMIT 25
    """,
    "Exponential time-decay leaderboard: each line item contributes "
    "quantity x 0.5^(age_years) (one-year half-life anchored at the "
    "data's own max date, so the query is reproducible), summed per "
    "part, top-25. The trending-products / decayed-popularity "
    "primitive. Determinism across engines and layouts: the decay "
    "factor is one power() on exact integer day-age, each row's "
    "contribution rounds to micro-units BIGINT, and the cross-row "
    "sum is associative integer addition. Top-k ties break on "
    "partkey. Scale: one broadcast-scalar anchor, one fact-sized "
    "partial-combined groupBy, TakeOrdered for the limit.",
    tags=("agg", "window", "analytics", "timeseries"),
)
def decayed_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    bounds = o.agg(
        F.max(F.expr("unix_micros(o_orderdate) div 86400000000")).alias("now_day")
    )
    scored = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .crossJoin(F.broadcast(bounds))
        .select(
            "l_partkey",
            F.round(
                F.pow(
                    F.lit(0.5),
                    (
                        F.col("now_day")
                        - F.expr("unix_micros(o_orderdate) div 86400000000")
                    ).cast("double")
                    / 365.0,
                )
                * F.col("l_quantity")
                * 1e6
            )
            .cast("bigint")
            .alias("decayed_micro"),
        )
    )
    return (
        scored.groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum("decayed_micro").cast("bigint").alias("score_micro"))
        .select(
            "partkey",
            "score_micro",
            F.round(F.col("score_micro").cast("double") / 1e6, 4).alias(
                "decayed_qty"
            ),
        )
        .orderBy(F.desc("score_micro"), "partkey")
        .limit(25)
    )


@register(
    "window_topk_with_ties",
    """
    WITH per_part AS (
        SELECT l_suppkey, CAST(sum(l_quantity) AS BIGINT) // 10 AS qty
        FROM lineitem GROUP BY l_suppkey, l_partkey
    ), ranked AS (
        SELECT l_suppkey, qty,
               rank() OVER (PARTITION BY l_suppkey ORDER BY qty DESC) AS rk
        FROM per_part
    )
    SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_rows_kept,
           CAST(max(rk) AS BIGINT) AS deepest_rank,
           CAST(min(qty) AS BIGINT) AS min_kept_qty
    FROM ranked WHERE rk <= 3
    GROUP BY 1 ORDER BY 1
    """,
    "ANSI FETCH FIRST ... WITH TIES semantics per group: rank() <= k "
    "keeps every row tied at the boundary (row_number-based top-k — "
    "window_topk_per_group — silently drops ties, a correctness "
    "difference auditors care about; ranking on banded quantity "
    "makes boundary ties common). The output aggregates per "
    "group so the hash pins exactly how many rows WITH TIES retains "
    "beyond k — n_rows_kept > 3 wherever boundary ties exist. Plan: "
    "partial-combined groupBy then one rank window per supplier "
    "partition; at scale WindowGroupLimit pushes the rank cutoff "
    "map-side before the shuffle (same optimization row_number "
    "top-k gets).",
    tags=("window", "sql", "agg"),
)
def window_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_suppkey", "l_partkey").agg(
        F.expr("CAST(sum(l_quantity) AS BIGINT) div 10").alias("qty")
    )
    ranked = per_part.select(
        "l_suppkey",
        "qty",
        F.rank().over(W.partitionBy("l_suppkey").orderBy(F.desc("qty"))).alias(
            "rk"
        ),
    )
    return (
        ranked.filter(F.col("rk") <= 3)
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows_kept"),
            F.max("rk").cast("bigint").alias("deepest_rank"),
            F.min("qty").cast("bigint").alias("min_kept_qty"),
        )
        .orderBy("l_suppkey")
    )


@register(
    "run_length_encoding",
    """
    WITH e AS (
        SELECT user_id, event_type,
               CAST(epoch_us(ts) AS HUGEINT) * 1000000000000 + event_id AS k
        FROM events
    ), flagged AS (
        SELECT user_id, event_type, k,
               CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                    THEN 1 ELSE 0 END AS is_start
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY k)
    ), runs AS (
        SELECT user_id, event_type,
               sum(is_start) OVER (PARTITION BY user_id ORDER BY k
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS run_id
        FROM flagged
    ), lens AS (
        SELECT event_type, count(*) AS run_len
        FROM runs GROUP BY user_id, event_type, run_id
    )
    SELECT event_type, CAST(run_len AS BIGINT) AS run_len,
           CAST(count(*) AS BIGINT) AS n_runs
    FROM lens GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "Run-length encoding of event streams (value-change "
    "gaps-and-islands): consecutive same-type events per user "
    "collapse into runs via the lag-flag + running-sum island id, "
    "then the run-length distribution per type — the stream- "
    "compression / stuck-sensor diagnostic (a long 'error' run is an "
    "incident, not traffic). Ordering ties break on event_id through "
    "one composite sort key. One shuffle on user_id; both window "
    "passes share the same partitioning; run ids never leave their "
    "partition. Counts exact.",
    tags=("window", "events", "timeseries", "analytics"),
)
def run_length_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_type",
        (
            # 1e12 multiplier: primary (ts) ordering stays exact for
            # any event_id < 1e12 (the ADVICE-r3 pack-bound fix)
            F.unix_micros(F.col("ts")).cast("decimal(38,0)") * 10**12
            + F.col("event_id")
        ).alias("k"),
    )
    w = W.partitionBy("user_id").orderBy("k")
    flagged = e.select(
        "user_id",
        "event_type",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        )
        .otherwise(0)
        .alias("is_start"),
        "k",
    )
    runs = flagged.select(
        "user_id",
        "event_type",
        F.sum("is_start")
        .over(W.partitionBy("user_id").orderBy("k").rowsBetween(W.unboundedPreceding, 0))
        .alias("run_id"),
    )
    lens = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return (
        lens.groupBy("event_type", F.col("run_len").cast("bigint").alias("run_len"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_runs"))
        .orderBy("event_type", "run_len")
    )


@register(
    "timezone_local_day_agg",
    """
    WITH localized AS (
        SELECT CAST(epoch_us(to_timestamp(epoch_us(ts) / 1000000.0)
                             AT TIME ZONE 'America/New_York')
                    // 86400000000 AS BIGINT) AS ny_day,
               CAST(epoch_us(to_timestamp(epoch_us(ts) / 1000000.0)
                             AT TIME ZONE 'Asia/Kolkata')
                    // 86400000000 AS BIGINT) AS kolkata_day,
               value
        FROM events
    )
    SELECT ny_day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT kolkata_day) AS BIGINT) AS n_kolkata_days,
           CAST(floor(sum(CAST(value AS DECIMAL(18,6)))) AS BIGINT)
               AS value_floor
    FROM localized GROUP BY 1 ORDER BY 1 LIMIT 100
    """,
    "Timezone-aware calendar aggregation: UTC event instants bucket "
    "into America/New_York local days (DST-shifting offset) and "
    "Asia/Kolkata days (fractional +05:30 offset) through each "
    "engine's IANA tzdata — the 'daily report in the customer's "
    "timezone' requirement naive epoch-day bucketing gets wrong "
    "twice a year. Both sides convert instant -> named-zone wall "
    "time (from_utc_timestamp / AT TIME ZONE on an epoch-anchored "
    "TIMESTAMPTZ, so neither depends on session timezone), then "
    "integer-epoch day math. n_kolkata_days witnesses the offset "
    "split: a NY day spans parts of two Kolkata days. DECIMAL "
    "partials keep the value sum layout-stable.",
    tags=("timeseries", "functions", "agg"),
)
def timezone_local_day_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    localized = ev.select(
        F.expr(
            "unix_micros(from_utc_timestamp(ts, 'America/New_York'))"
            " div 86400000000"
        ).alias("ny_day"),
        F.expr(
            "unix_micros(from_utc_timestamp(ts, 'Asia/Kolkata'))"
            " div 86400000000"
        ).alias("kolkata_day"),
        "value",
    )
    return (
        localized.groupBy("ny_day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.count_distinct("kolkata_day").cast("bigint").alias(
                "n_kolkata_days"
            ),
            F.floor(F.sum(F.col("value").cast("decimal(18,6)")))
            .cast("bigint")
            .alias("value_floor"),
        )
        .orderBy("ny_day")
        .limit(100)
    )


@register(
    "hll_rolling_wau",
    """
    WITH ud AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        FROM events
    ), span AS (
        SELECT min(day) AS d0 FROM ud
    ), contrib AS (
        SELECT ud.user_id, ud.day + o.off AS target
        FROM ud, LATERAL (SELECT unnest(generate_series(0, 6)) AS off) o
    ), wau AS (
        SELECT target AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau_exact
        FROM contrib GROUP BY 1
    )
    SELECT day, wau_exact, TRUE AS estimate_within_bound
    FROM wau
    WHERE day >= (SELECT d0 FROM span) + 6
      AND day <= (SELECT max(day) FROM ud)
    ORDER BY day LIMIT 60
    """,
    "Rolling 7-day distinct users via MERGEABLE HLL sketches "
    "(DataSketches hll_sketch_agg per day, hll_union_agg across the "
    "window): the 100 TB form of sliding-window distinct counting — "
    "daily sketches build map-side once, every window is a cheap "
    "union of 7 compact sketches (kilobytes), where the exact "
    "rolling form re-shuffles user ids per window. Driver-checkable "
    "via the approx_aggregates convention: the oracle computes EXACT "
    "rolling WAU and a literal TRUE bound column; the Spark side "
    "emits its bound check |HLL - exact| <= 3*rsd*exact, so a hash "
    "match PROVES every window's sketch union landed inside its "
    "published error bound. Window days with full 7-day history "
    "only.",
    tags=("sketch", "agg", "timeseries", "streaming"),
)
def hll_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    ud = (
        ev.select(
            "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day")
        )
        .distinct()
    )
    daily = ud.groupBy("day").agg(
        F.expr("hll_sketch_agg(user_id, 12)").alias("sk")
    )
    offsets = F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off")
    fanned = daily.select("day", "sk", offsets).select(
        (F.col("day") + F.col("off")).alias("target"), "sk"
    )
    unioned = fanned.groupBy(F.col("target").alias("day")).agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    )
    exact = (
        ud.select("user_id", offsets, "day")
        .select("user_id", (F.col("day") + F.col("off")).alias("target"))
        .groupBy(F.col("target").alias("day"))
        .agg(F.count_distinct("user_id").cast("bigint").alias("wau_exact"))
    )
    bounds = ud.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    # lgConfigK=12 -> relative standard error ~= 1.04/sqrt(2^12) = 1.625%
    rsd = 1.04 / (2 ** 6)
    return (
        exact.join(unioned, "day")
        .crossJoin(F.broadcast(bounds))
        .filter((F.col("day") >= F.col("d0") + 6) & (F.col("day") <= F.col("d1")))
        .select(
            "day",
            "wau_exact",
            (
                F.abs(F.col("est") - F.col("wau_exact"))
                <= 3 * rsd * F.col("wau_exact")
            ).alias("estimate_within_bound"),
        )
        .orderBy("day")
        .limit(60)
    )


@register(
    "hll_sketch_rollup_cube",
    """
    WITH base AS (
        SELECT c.c_nationkey AS nation, c.c_mktsegment AS segment,
               o.o_custkey
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), by_nation AS (
        SELECT 'nation' AS grain, CAST(nation AS VARCHAR) AS key,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_customers
        FROM base GROUP BY 2
    ), by_segment AS (
        SELECT 'segment', segment,
               CAST(count(DISTINCT o_custkey) AS BIGINT)
        FROM base GROUP BY 2
    ), total AS (
        SELECT 'total', 'all',
               CAST(count(DISTINCT o_custkey) AS BIGINT)
        FROM base
    )
    SELECT grain, key, exact_customers, TRUE AS estimate_within_bound
    FROM (SELECT * FROM by_nation UNION ALL SELECT * FROM by_segment
          UNION ALL SELECT * FROM total)
    ORDER BY grain, key
    """,
    "Sketch rollup cube: per-(nation, segment) HLL sketches of "
    "active customers build ONCE from the fact join, then every "
    "coarser grain — per nation, per segment, grand total — derives "
    "by merging the SAME stored sketches (hll_union_agg), never "
    "re-scanning the fact table. This is the materialized-sketch "
    "pattern that makes distinct-count cubes tractable at 100 TB: "
    "one fact pass + kilobyte merges per rollup cell, where exact "
    "DISTINCT cubes re-shuffle keys per grain. Driver-checkable via "
    "the approx_aggregates convention: every grain's estimate is "
    "bound-checked |HLL - exact| <= 3*rsd*exact against the exact "
    "count computed alongside, and the oracle emits the exact counts "
    "with literal TRUEs — the hash proves all ~35 rollup cells "
    "landed in bound.",
    tags=("sketch", "agg", "analytics"),
)
def hll_sketch_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select("o_custkey")
    c = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    base = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        "o_custkey",
    )
    sketches = base.groupBy("nation", "segment").agg(
        F.expr("hll_sketch_agg(o_custkey, 12)").alias("sk"),
        F.count_distinct("o_custkey").cast("bigint").alias("exact_cell"),
    )
    sketches = pin_local(spark, sketches)  # the materialized sketch table

    rsd = 1.04 / (2 ** 6)

    def grain(df: DataFrame, label: str, key_col) -> DataFrame:
        g = df.groupBy(key_col.alias("key")).agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"),
            F.sum("exact_cell").cast("bigint").alias("naive_sum"),
        )
        return g.select(
            F.lit(label).alias("grain"),
            F.col("key").cast("string").alias("key"),
            "est",
            "naive_sum",
        )

    # exact per-grain counts need the base (cells may share customers
    # only within a cell here: a customer has ONE nation+segment, so
    # cell exacts are additive across grains — still recompute exactly)
    exact_nation = base.groupBy(F.col("nation").cast("string").alias("key")).agg(
        F.count_distinct("o_custkey").cast("bigint").alias("exact_customers")
    )
    exact_segment = base.groupBy(F.col("segment").alias("key")).agg(
        F.count_distinct("o_custkey").cast("bigint").alias("exact_customers")
    )
    exact_total = base.agg(
        F.count_distinct("o_custkey").cast("bigint").alias("exact_customers")
    ).select(F.lit("all").alias("key"), "exact_customers")

    rollups = (
        grain(sketches, "nation", F.col("nation").cast("string"))
        .join(exact_nation, "key")
        .unionByName(
            grain(sketches, "segment", F.col("segment")).join(exact_segment, "key")
        )
        .unionByName(
            grain(
                sketches.withColumn("__all", F.lit("all")), "total", F.col("__all")
            ).join(exact_total, "key")
        )
    )
    return rollups.select(
        "grain",
        "key",
        "exact_customers",
        (
            F.abs(F.col("est") - F.col("exact_customers"))
            <= 3 * rsd * F.col("exact_customers")
        ).alias("estimate_within_bound"),
    ).orderBy("grain", "key")


@register(
    "fiscal_calendar_rollup",
    """
    WITH f AS (
        SELECT CASE WHEN month(o_orderdate) >= 7 THEN year(o_orderdate) + 1
                    ELSE year(o_orderdate) END AS fy,
               ((month(o_orderdate) + 5) % 12) // 3 + 1 AS fq,
               o_totalprice
        FROM orders
    )
    SELECT CAST(fy AS INT) AS fiscal_year,
           CAST(fq AS INT) AS fiscal_quarter,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2)))) AS BIGINT)
               AS revenue_floor
    FROM f GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "Fiscal-calendar rollup (FY starting July 1): revenue by fiscal "
    "year and quarter, the offset-calendar arithmetic every "
    "enterprise warehouse needs and naive year()/quarter() gets "
    "wrong — FQ1 = Jul-Sep of the PRIOR calendar year's tail. The "
    "fiscal mapping is pure integer month arithmetic (identical on "
    "both engines), revenue floors to BIGINT after DECIMAL partials. "
    "One partial-combined groupBy on a ~30-value composite key; the "
    "mapping expression pushes into the scan projection, so a "
    "fiscal-period predicate still prunes on the underlying date "
    "column.",
    tags=("agg", "timeseries", "sql", "functions"),
)
def fiscal_calendar_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    fy = F.when(
        F.month("o_orderdate") >= 7, F.year("o_orderdate") + 1
    ).otherwise(F.year("o_orderdate"))
    fq = F.expr("((month(o_orderdate) + 5) % 12) div 3 + 1")
    return (
        o.groupBy(
            fy.cast("int").alias("fiscal_year"),
            fq.cast("int").alias("fiscal_quarter"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.floor(F.sum(F.col("o_totalprice").cast("decimal(18,2)")))
            .cast("bigint")
            .alias("revenue_floor"),
        )
        .orderBy("fiscal_year", "fiscal_quarter")
    )


@register(
    "business_days_lag",
    """
    WITH lags AS (
        SELECT epoch_us(o.o_orderdate) // 86400000000 AS d0,
               epoch_us(l.l_shipdate)  // 86400000000 AS d1
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE epoch_us(l.l_shipdate) >= epoch_us(o.o_orderdate)
    ), bd AS (
        -- NETWORKDAYS-style: epoch day 0 = Thu 1970-01-01, so a week
        -- starting at day k*7 runs Thu..Wed with Sat/Sun at remainder
        -- positions 2 and 3. Weekdays in [0, d):
        --   f(d) = 5*(d/7) + (d%7) - clamp(d%7 - 2, 0, 2)
        -- (validated against a day-by-day calendar walk 0..29).
        SELECT (d1 - d0) AS cal_days,
               ( (d1 // 7) * 5 + d1 % 7 - least(greatest(d1 % 7 - 2, 0), 2)
               - ((d0 // 7) * 5 + d0 % 7 - least(greatest(d0 % 7 - 2, 0), 2)) )
                   AS business_days
        FROM lags
    )
    SELECT CAST(business_days AS BIGINT) AS business_days,
           CAST(count(*) AS BIGINT)      AS n_lines,
           CAST(min(cal_days) AS BIGINT) AS min_cal_days,
           CAST(max(cal_days) AS BIGINT) AS max_cal_days
    FROM bd GROUP BY 1 ORDER BY 1 LIMIT 60
    """,
    "Business-day fulfillment lag (NETWORKDAYS semantics): "
    "ship-minus-order elapsed WEEKDAYS, excluding Saturdays and "
    "Sundays — what an ops SLA actually promises; calendar-day lag "
    "(fulfillment_lag_distribution) over-counts every weekend "
    "crossed, and the min/max calendar columns witness the spread "
    "(the same business lag spans different calendar lags depending "
    "on weekend crossings). The weekday count uses the closed-form "
    "prefix 'weekdays before epoch-day d' evaluated at both ends — "
    "pure integer arithmetic from the epoch-day anchor (day 0 = "
    "Thursday), no calendar UDF, identical on both engines. One "
    "join shuffling two date columns; groupBy on the bounded lag "
    "key.",
    tags=("timeseries", "analytics", "agg", "functions"),
)
def business_days_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lags = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.expr("unix_micros(o_orderdate) div 86400000000").alias("d0"),
            F.expr("unix_micros(l_shipdate) div 86400000000").alias("d1"),
        )
    )

    def weekdays_before(day: str) -> F.Column:
        # f(d) = 5*(d div 7) + d%7 - clamp(d%7 - 2, 0, 2); epoch day 0
        # is a Thursday, putting Sat/Sun at remainder positions 2, 3
        return F.expr(
            f"({day} div 7) * 5 + {day} % 7"
            f" - least(greatest({day} % 7 - 2, 0), 2)"
        )

    bd = lags.select(
        (F.col("d1") - F.col("d0")).alias("cal_days"),
        (weekdays_before("d1") - weekdays_before("d0")).alias("business_days"),
    )
    return (
        bd.groupBy(F.col("business_days").cast("bigint").alias("business_days"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.min("cal_days").cast("bigint").alias("min_cal_days"),
            F.max("cal_days").cast("bigint").alias("max_cal_days"),
        )
        .orderBy("business_days")
        .limit(60)
    )


@register(
    "graph_edge_churn",
    """
    WITH e AS (
        SELECT DISTINCT year(o.o_orderdate) AS yr,
               least(s.s_nationkey, c.c_nationkey)    AS a,
               greatest(s.s_nationkey, c.c_nationkey) AS b
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey
        WHERE s.s_nationkey <> c.c_nationkey
          AND year(o.o_orderdate) IN (1996, 1997)
    ), u AS (
        SELECT coalesce(p.a, q.a) AS a, coalesce(p.b, q.b) AS b,
               p.a IS NOT NULL AS in_96, q.a IS NOT NULL AS in_97
        FROM (SELECT a, b FROM e WHERE yr = 1996) p
        FULL JOIN (SELECT a, b FROM e WHERE yr = 1997) q
          ON p.a = q.a AND p.b = q.b
    )
    SELECT CAST(sum(CASE WHEN in_96 AND in_97 THEN 1 ELSE 0 END) AS BIGINT)
               AS persisted,
           CAST(sum(CASE WHEN in_96 AND NOT in_97 THEN 1 ELSE 0 END) AS BIGINT)
               AS removed,
           CAST(sum(CASE WHEN in_97 AND NOT in_96 THEN 1 ELSE 0 END) AS BIGINT)
               AS added,
           round(CAST(sum(CASE WHEN in_96 AND in_97 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS jaccard_stability
    FROM u
    """,
    "Temporal graph churn: the nation trade graph's edge set in 1996 "
    "vs 1997 — persisted / removed / added edges and the Jaccard "
    "stability of the structure, the year-over-year supply-network "
    "health readout (a collapsing stability score means the trading "
    "topology is being rebuilt, not grown). One fact-sized edge "
    "extraction with the year carried through the distinct, then a "
    "full-outer join of two metadata-scale edge sets. All counts "
    "exact.",
    tags=("graph", "timeseries", "join", "agg"),
)
def graph_edge_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .filter(F.year("o_orderdate").isin(1996, 1997))
        .select(
            F.year("o_orderdate").alias("yr"),
            F.least("s_nationkey", "c_nationkey").alias("a"),
            F.greatest("s_nationkey", "c_nationkey").alias("b"),
        )
        .distinct()
    )
    p = e.filter(F.col("yr") == 1996).select("a", "b")
    q = e.filter(F.col("yr") == 1997).select(
        F.col("a").alias("qa"), F.col("b").alias("qb")
    )
    u = p.join(
        q, (p.a == q.qa) & (p.b == q.qb), "full"
    ).select(
        F.col("a").isNotNull().alias("in_96"),
        F.col("qa").isNotNull().alias("in_97"),
    )
    both = F.sum(F.when(F.col("in_96") & F.col("in_97"), 1).otherwise(0))
    return u.agg(
        both.cast("bigint").alias("persisted"),
        F.sum(F.when(F.col("in_96") & ~F.col("in_97"), 1).otherwise(0))
        .cast("bigint")
        .alias("removed"),
        F.sum(F.when(F.col("in_97") & ~F.col("in_96"), 1).otherwise(0))
        .cast("bigint")
        .alias("added"),
        F.round(both.cast("double") / F.count(F.lit(1)), 6).alias(
            "jaccard_stability"
        ),
    )


@register(
    "revenue_bridge_waterfall",
    """
    WITH monthly AS (
        SELECT epoch_us(date_trunc('month', o_orderdate)) // 86400000000 AS m,
               CAST(count(*) AS BIGINT) AS vol,
               CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
                    AS BIGINT) AS rev
        FROM orders GROUP BY 1
    ), seq AS (
        SELECT m, vol, rev,
               lag(vol) OVER (ORDER BY m) AS pvol,
               lag(rev) OVER (ORDER BY m) AS prev
        FROM monthly
    )
    SELECT m AS month_day,
           CAST(rev - prev AS BIGINT) AS delta_revenue,
           round((vol - pvol) * (CAST(prev AS DOUBLE) / pvol), 2) + 0.0
               AS volume_effect,
           round(pvol * (CAST(rev AS DOUBLE) / vol
                         - CAST(prev AS DOUBLE) / pvol), 2) + 0.0
               AS price_effect,
           -- + 0.0 normalizes IEEE negative zero (engines disagree on
           -- round(-eps) producing -0.0 vs 0.0)
           round((vol - pvol) * (CAST(rev AS DOUBLE) / vol
                                 - CAST(prev AS DOUBLE) / pvol), 2) + 0.0
               AS mix_effect
    FROM seq WHERE pvol IS NOT NULL AND pvol > 0 AND vol > 0
    ORDER BY m LIMIT 60
    """,
    "Revenue-bridge waterfall (the FP&A month-over-month "
    "decomposition): delta revenue splits into volume effect "
    "(delta_vol x prior avg price), price effect (prior volume x "
    "delta avg price), and the interaction/mix term — the three sum "
    "to delta revenue identically (checked by the test against the "
    "exact integer delta). Inputs are exact BIGINTs (floor-dollar "
    "monthly revenue, order counts); each effect is one IEEE "
    "expression over them. Windows run on the ~80-row monthly "
    "frame after one fact-sized groupBy.",
    tags=("analytics", "timeseries", "window", "agg"),
)
def revenue_bridge_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.expr(
            "unix_micros(date_trunc('month', o_orderdate)) div 86400000000"
        ).alias("m")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("vol"),
        F.floor(F.sum(F.col("o_totalprice").cast("decimal(18,2)")))
        .cast("bigint")
        .alias("rev"),
    )
    w = W.orderBy("m")
    seq = monthly.select(
        "m",
        "vol",
        "rev",
        F.lag("vol").over(w).alias("pvol"),
        F.lag("rev").over(w).alias("prev"),
    ).filter(F.col("pvol").isNotNull() & (F.col("pvol") > 0) & (F.col("vol") > 0))
    p_new = F.col("rev").cast("double") / F.col("vol")
    p_old = F.col("prev").cast("double") / F.col("pvol")
    return (
        seq.select(
            F.col("m").alias("month_day"),
            (F.col("rev") - F.col("prev")).cast("bigint").alias("delta_revenue"),
            (F.round((F.col("vol") - F.col("pvol")) * p_old, 2) + 0.0).alias(
                "volume_effect"
            ),
            (F.round(F.col("pvol") * (p_new - p_old), 2) + 0.0).alias(
                "price_effect"
            ),
            (
                F.round((F.col("vol") - F.col("pvol")) * (p_new - p_old), 2)
                + 0.0  # normalize IEEE -0.0
            ).alias("mix_effect"),
        )
        .orderBy("month_day")
        .limit(60)
    )


@register(
    "interval_range_window",
    """
    WITH daily AS (
        SELECT o_orderdate AS d,
               CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
                    AS BIGINT) AS rev
        FROM orders GROUP BY 1
    )
    SELECT CAST(epoch_us(d) // 86400000000 AS BIGINT) AS day,
           rev,
           CAST(sum(rev) OVER (ORDER BY d
                RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
                AS BIGINT) AS trailing_7d_rev,
           CAST(count(*) OVER (ORDER BY d
                RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
                AS BIGINT) AS days_in_window
    FROM daily ORDER BY day LIMIT 120
    """,
    "Interval-typed RANGE window frames: trailing 7-day revenue per "
    "day computed with RANGE BETWEEN INTERVAL 6 DAY PRECEDING on the "
    "timestamp ordering itself — the frame follows EVENT TIME, so "
    "calendar gaps shrink the window (days_in_window < 7 exposes "
    "them), where a ROWS frame would silently span gaps and "
    "overcount. The ANSI interval-frame surface next to the "
    "engine's long-typed RANGE frames (funnel_within_window) and "
    "ROWS frames; sums are exact BIGINTs over the metadata-scale "
    "daily aggregate.",
    tags=("window", "sql", "timeseries"),
)
def interval_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.floor(F.sum(F.col("o_totalprice").cast("decimal(18,2)")))
        .cast("bigint")
        .alias("rev")
    )
    return spark.sql(
        """
        SELECT CAST(unix_micros(d) div 86400000000 AS BIGINT) AS day,
               rev,
               CAST(sum(rev) OVER (ORDER BY d
                    RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS trailing_7d_rev,
               CAST(count(*) OVER (ORDER BY d
                    RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS days_in_window
        FROM {daily} ORDER BY day LIMIT 120
        """,
        daily=daily,
    )


@register(
    "traffic_heatmap_dow_hour",
    """
    WITH g AS (
        SELECT (epoch_us(ts) // 86400000000 + 3) % 7 AS dow,
               (epoch_us(ts) % 86400000000) // 3600000000 AS hour,
               value
        FROM events
    )
    SELECT CAST(dow AS INT) AS dow, CAST(hour AS INT) AS hour,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(floor(sum(CAST(value AS DECIMAL(18,6)))) AS BIGINT)
               AS value_floor
    FROM g GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "Day-of-week x hour-of-day traffic heatmap (UTC; epoch day 0 is "
    "a Thursday, so dow = (epoch_day + 3) % 7 with Monday = 0): the "
    "capacity-planning / on-call-staffing grid behind every ops "
    "dashboard. Pure integer epoch arithmetic for both axes — no "
    "calendar functions to disagree on locale week starts — one "
    "partial-combined groupBy on a 168-cell key, DECIMAL value "
    "partials floored to BIGINT.",
    tags=("events", "agg", "timeseries", "analytics"),
)
def traffic_heatmap_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    g = ev.select(
        F.expr("(unix_micros(ts) div 86400000000 + 3) % 7").alias("dow"),
        F.expr("(unix_micros(ts) % 86400000000) div 3600000000").alias("hour"),
        "value",
    )
    return (
        g.groupBy(
            F.col("dow").cast("int").alias("dow"),
            F.col("hour").cast("int").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.floor(F.sum(F.col("value").cast("decimal(18,6)")))
            .cast("bigint")
            .alias("value_floor"),
        )
        .orderBy("dow", "hour")
    )


@register(
    "role_playing_date_rollup",
    """
    WITH li AS (
        SELECT epoch_us(date_trunc('month', o.o_orderdate)) // 86400000000
                   AS order_month,
               epoch_us(date_trunc('month', l.l_shipdate)) // 86400000000
                   AS ship_month,
               CAST(floor(l.l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), by_order AS (
        SELECT order_month AS m, CAST(sum(cents) AS BIGINT) AS booked_cents
        FROM li GROUP BY 1
    ), by_ship AS (
        SELECT ship_month AS m, CAST(sum(cents) AS BIGINT) AS shipped_cents
        FROM li GROUP BY 1
    ), shifted AS (
        SELECT CAST(sum(CASE WHEN order_month <> ship_month
                             THEN cents ELSE 0 END) AS BIGINT) AS cross_cents,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM li
    )
    SELECT coalesce(o.m, s.m) AS month_day,
           coalesce(o.booked_cents, 0)  AS booked_cents,
           coalesce(s.shipped_cents, 0) AS shipped_cents,
           round((SELECT CAST(cross_cents AS DOUBLE) / total_cents
                  FROM shifted), 6) AS global_cross_month_share
    FROM by_order o FULL JOIN by_ship s ON o.m = s.m
    ORDER BY month_day LIMIT 90
    """,
    "Role-playing date dimension: the SAME line items roll up "
    "through two date roles — booked revenue by ORDER month vs "
    "shipped revenue by SHIP month — the recognition-vs-fulfillment "
    "split every finance/BI model needs when one fact row carries "
    "multiple dates (naive single-calendar models silently conflate "
    "them; the cross-month share quantifies how much revenue "
    "changes month depending on the role). One scan produces both "
    "role keys; two bounded groupBys full-join on month. "
    "Floor-cents exact everywhere; one global ratio.",
    tags=("agg", "timeseries", "join", "sql", "analytics"),
)
def role_playing_date_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice"
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    base = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.expr(
            "unix_micros(date_trunc('month', o_orderdate)) div 86400000000"
        ).alias("order_month"),
        F.expr(
            "unix_micros(date_trunc('month', l_shipdate)) div 86400000000"
        ).alias("ship_month"),
        F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    by_order = base.groupBy(F.col("order_month").alias("m")).agg(
        F.sum("cents").cast("bigint").alias("booked_cents")
    )
    by_ship = base.groupBy(F.col("ship_month").alias("ms")).agg(
        F.sum("cents").cast("bigint").alias("shipped_cents")
    )
    shifted = base.agg(
        F.sum(
            F.when(F.col("order_month") != F.col("ship_month"), F.col("cents"))
            .otherwise(0)
        )
        .cast("bigint")
        .alias("cross_cents"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )
    return (
        by_order.join(by_ship, by_order.m == by_ship.ms, "full")
        .crossJoin(F.broadcast(shifted))
        .select(
            F.coalesce(F.col("m"), F.col("ms")).alias("month_day"),
            F.coalesce(F.col("booked_cents"), F.lit(0)).alias("booked_cents"),
            F.coalesce(F.col("shipped_cents"), F.lit(0)).alias("shipped_cents"),
            F.round(
                F.col("cross_cents").cast("double") / F.col("total_cents"), 6
            ).alias("global_cross_month_share"),
        )
        .orderBy("month_day")
        .limit(90)
    )


_HEAVY_HITTERS_ORACLE = """
    -- The Misra-Gries guarantee is layout-independent: for ANY
    -- partitioning, est <= true <= est + N/(k+1) and every item with
    -- true > N/(k+1) is in the merged summary. The oracle therefore
    -- pins the deterministic candidate set (exact counts above the
    -- threshold, cross-multiplied integers) and TRUE containment /
    -- bound booleans that any correct sketch must reproduce.
    WITH items AS (
        SELECT CASE WHEN l_orderkey % 3 = 0
                    THEN 'hot-' || CAST(l_orderkey % 5 AS VARCHAR)
                    ELSE 'cold-' || CAST(l_orderkey AS VARCHAR) END AS item
        FROM lineitem
    ),
    tot AS (SELECT count(*) AS n_total FROM items),
    exact AS (SELECT item, count(*) AS exact_cnt FROM items GROUP BY item)
    SELECT item,
           CAST(exact_cnt AS BIGINT) AS exact_cnt,
           TRUE AS in_sketch,
           TRUE AS est_within_bound
    FROM exact, tot
    WHERE exact_cnt * 32 > n_total
    ORDER BY item
"""


@register(
    "heavy_hitters_sketch",
    _HEAVY_HITTERS_ORACLE,
    "Distributed Misra-Gries heavy hitters with the PROVEN mergeable "
    "bound (Agarwal et al., Mergeable Summaries): per-partition "
    "summaries of k=31 counters via mapInPandas (at most k rows leave "
    "each partition — the shuffle moves sketches, never data rows), "
    "merged by entry-wise sum, which preserves est <= true <= est + "
    "N/(k+1) for the combined stream. The skewed item column (5 hot "
    "items at ~6.7 percent over a uniform cold tail) is derived "
    "deterministically from orderkeys; the query emits every "
    "above-threshold item with its exact count plus containment and "
    "bound booleans the sketch must satisfy under ANY partition "
    "layout - the driver hash falsifies the guarantee itself, the "
    "same pattern as approx_aggregates. The exact-count twin is the "
    "validation harness; the product path at 100 TB is the sketch "
    "alone (one narrow pass + a P*k-row shuffle).",
    tags=("sketch", "aggregation", "round4"),
)
def heavy_hitters_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import heavy_hitters

    k = 31
    items = t(spark, sf_dir, "lineitem").select(
        F.when(
            F.col("l_orderkey") % 3 == 0,
            F.concat(F.lit("hot-"), (F.col("l_orderkey") % 5).cast("string")),
        )
        .otherwise(F.concat(F.lit("cold-"), F.col("l_orderkey").cast("string")))
        .alias("item")
    )
    sketch = heavy_hitters(items, "item", k)
    exact = items.groupBy("item").agg(F.count(F.lit(1)).alias("exact_cnt"))
    total = items.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("exact_cnt") * (k + 1) > F.col("n_total"))
        .join(sketch, "item", "left")
        .select(
            "item",
            F.col("exact_cnt").cast("long").alias("exact_cnt"),
            F.col("est").isNotNull().alias("in_sketch"),
            (
                F.col("est").isNotNull()
                & (F.col("est") <= F.col("exact_cnt"))
                & ((F.col("exact_cnt") - F.col("est")) * (k + 1) <= F.col("n_total"))
            ).alias("est_within_bound"),
        )
        .orderBy("item")
    )


# =====================================================================
# KMV / theta sketch: distinct cardinality + set algebra
# =====================================================================
_THETA_SKETCH_ORACLE = """
    -- KMV/theta sketches are DETERMINISTIC given the hash: the k
    -- smallest values of an injective modular hash do not depend on
    -- partition layout or visit order, so the oracle recomputes the
    -- identical sketch (row_number over the hash) and the identical
    -- integer-division estimates - the driver hash checks the whole
    -- estimator, not just a bound.
    WITH cust AS MATERIALIZED (
        SELECT o_custkey AS ck,
               max(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS in_b
        FROM orders GROUP BY o_custkey
    ),
    hashed AS MATERIALIZED (
        SELECT (ck * 2654435761) % 4294967296 AS h, in_a, in_b FROM cust
    ),
    labeled AS MATERIALIZED (
        SELECT 'A' AS s, h, in_a, in_b FROM hashed WHERE in_a = 1
        UNION ALL
        SELECT 'B' AS s, h, in_a, in_b FROM hashed WHERE in_b = 1
        UNION ALL
        SELECT 'U' AS s, h, in_a, in_b FROM hashed
        WHERE in_a = 1 OR in_b = 1
    ),
    ranked AS (
        SELECT s, h, in_a, in_b,
               row_number() OVER (PARTITION BY s ORDER BY h) AS rn
        FROM labeled
    ),
    sk AS MATERIALIZED (
        SELECT s, count(*) AS n_in, max(h) AS hk,
               sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                   AS n_both
        FROM ranked WHERE rn <= 256 GROUP BY s
    ),
    exact AS MATERIALIZED (
        SELECT s, count(*) AS exact_cnt FROM labeled GROUP BY s
    ),
    est AS MATERIALIZED (
        SELECT sk.s, exact_cnt,
               CASE WHEN n_in < 256 THEN n_in
                    ELSE (255 * 4294967296) // hk END AS kmv_est,
               n_both, n_in
        FROM sk JOIN exact ON sk.s = exact.s
    ),
    inter AS (
        -- theta intersection: rho / (retained count) of the union
        -- sketch scales its estimate; the denominator is n_in, not k,
        -- so under full retention (n_in < k) the estimate degrades
        -- gracefully to the EXACT intersection.
        SELECT 'I' AS s,
               (SELECT sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                FROM cust) AS exact_cnt,
               (SELECT (n_both * kmv_est) // n_in FROM est WHERE s = 'U')
                   AS kmv_est
    )
    SELECT s AS set_name,
           CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(kmv_est AS BIGINT) AS kmv_est,
           abs(kmv_est - exact_cnt) * 4 <= exact_cnt AS est_within_25pct
    FROM (SELECT s, exact_cnt, kmv_est FROM est
          UNION ALL
          SELECT s, exact_cnt, kmv_est FROM inter)
    ORDER BY set_name
"""


@register(
    "theta_sketch_distinct_ops",
    _THETA_SKETCH_ORACLE,
    "KMV / theta sketch with SET ALGEBRA (Bar-Yossef et al. RANDOM'02; "
    "Beyer et al. SIGMOD'07): distinct-customer cardinality for two "
    "order predicates (A: open status, B: totalprice > 150000), their "
    "union, and their theta-style intersection estimate rho*est_U/k "
    "from ONE combined k=256 sketch - the set operation HLL cannot do. "
    "The k-smallest-of-an-injective-modular-hash summary is mergeable "
    "(k smallest of a union = k smallest of merged summaries) and "
    "fully deterministic, so the oracle reproduces the estimator "
    "value-for-value: estimates are integer divisions "
    "(k-1)*2^32 div h_k, never floats. Scale shape: one groupBy pass "
    "builds membership flags; the sketch is a two-phase salted top-k "
    "(operators/sketches.py kmv_k_smallest) that shuffles at most "
    "salt*k rows per set, never the data; exact twins validate at "
    "fixture scale while the sketch alone is the 100 TB product path. "
    "The within-25pct booleans pin estimator quality under ANY "
    "layout (k=256 -> sigma ~ 6 percent).",
    tags=("sketch", "aggregation", "round4"),
)
def theta_sketch_distinct_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = 256
    cust = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max(
                F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("o_totalprice") > 150000, 1).otherwise(0)
            ).alias("in_b"),
        )
    )
    hashed = cust.select(
        ((F.col("o_custkey") * F.lit(2654435761)) % F.lit(4294967296)).alias(
            "h"
        ),
        "in_a",
        "in_b",
    )
    labeled = hashed.select(
        "h",
        "in_a",
        "in_b",
        F.explode(
            F.array_compact(
                F.array(
                    F.when(F.col("in_a") == 1, F.lit("A")),
                    F.when(F.col("in_b") == 1, F.lit("B")),
                    F.when(
                        (F.col("in_a") == 1) | (F.col("in_b") == 1),
                        F.lit("U"),
                    ),
                )
            )
        ).alias("s"),
    )
    # ONE linear pipeline (plan-audit lesson from correlation_matrix:
    # self-joins on shared frames re-plan the whole subtree). The
    # kmv_k_smallest two-phase top-k is inlined with per-salt-bucket
    # totals carried alongside, so the exact twins, the sketch stats,
    # and the intersection row all fall out of a single aggregation —
    # no second scan, no self-join.
    salted = labeled.withColumn("_salt", F.pmod(F.col("h"), F.lit(32)))
    w_rank = W.partitionBy("s", "_salt").orderBy("h")
    w_tot = W.partitionBy("s", "_salt")
    both = ((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("long")
    cand = salted.select(
        "s",
        "h",
        "in_a",
        "in_b",
        F.row_number().over(w_rank).alias("rn1"),
        F.count(F.lit(1)).over(w_tot).alias("bucket_cnt"),
        F.sum(both).over(w_tot).alias("bucket_both"),
    ).filter(F.col("rn1") <= k)
    ranked = cand.withColumn(
        "rn", F.row_number().over(W.partitionBy("s").orderBy("h"))
    )
    in_k = F.col("rn") <= k
    agg = ranked.groupBy("s").agg(
        F.sum(F.when(in_k, 1).otherwise(0)).alias("n_in"),
        F.max(F.when(in_k, F.col("h"))).alias("hk"),
        F.sum(F.when(in_k, both).otherwise(0)).alias("n_both"),
        # each salt bucket's totals ride its rank-1 row exactly once
        F.sum(F.when(F.col("rn1") == 1, F.col("bucket_cnt")).otherwise(0))
        .alias("exact_cnt"),
        F.sum(F.when(F.col("rn1") == 1, F.col("bucket_both")).otherwise(0))
        .alias("exact_both"),
    )
    est = agg.select(
        "s",
        "exact_cnt",
        F.when(F.col("n_in") < k, F.col("n_in"))
        .otherwise(F.expr(f"({k - 1} * 4294967296) div hk"))
        .alias("kmv_est"),
        "n_both",
        "n_in",
        "exact_both",
    )
    # Emit the label's own row, plus — from the U row only — the
    # theta-intersection row. The denominator is the RETAINED count
    # n_in (= k at capacity), so full retention degrades gracefully
    # to the exact intersection.
    rows = est.select(
        F.explode(
            F.array_compact(
                F.array(
                    F.struct(
                        F.col("s").alias("set_name"),
                        F.col("exact_cnt").cast("long").alias("exact_cnt"),
                        F.col("kmv_est").cast("long").alias("kmv_est"),
                    ),
                    F.when(
                        F.col("s") == "U",
                        F.struct(
                            F.lit("I").alias("set_name"),
                            F.col("exact_both")
                            .cast("long")
                            .alias("exact_cnt"),
                            F.expr("(n_both * kmv_est) div n_in")
                            .cast("long")
                            .alias("kmv_est"),
                        ),
                    ),
                )
            )
        ).alias("r")
    ).select("r.*")
    return rows.select(
        "set_name",
        "exact_cnt",
        "kmv_est",
        (
            F.abs(F.col("kmv_est") - F.col("exact_cnt")) * 4
            <= F.col("exact_cnt")
        ).alias("est_within_25pct"),
    ).orderBy("set_name")


# =====================================================================
# Count-Min sketch: point frequency queries with one-sided guarantee
# =====================================================================
_CM_HASH_SQL = (
    "((item_id * (CASE j WHEN 0 THEN 131 WHEN 1 THEN 137 ELSE 139 END)"
    " + (CASE j WHEN 0 THEN 17 WHEN 1 THEN 29 ELSE 41 END))"
    " % 1000003) % 512"
)


_COUNT_MIN_ORACLE = f"""
    -- Count-Min is DETERMINISTIC given its d=3 hash rows: cell
    -- (j, bucket) holds the exact sum of counts of all items
    -- colliding there, independent of partition layout, so the oracle
    -- rebuilds the identical sketch and the identical point
    -- estimates. overcount_ok pins the structural one-sided
    -- guarantee est >= true that must hold under ANY layout.
    WITH items AS MATERIALIZED (
        SELECT CASE WHEN l_orderkey % 3 = 0 THEN l_orderkey % 5
                    ELSE 100 + l_orderkey END AS item_id
        FROM lineitem
    ),
    qitems AS MATERIALIZED (
        SELECT DISTINCT item_id FROM items ORDER BY item_id LIMIT 8
    ),
    expanded AS (
        SELECT item_id, unnest(range(3)) AS j FROM items
    ),
    sketch AS MATERIALIZED (
        SELECT j, {_CM_HASH_SQL} AS bucket, count(*) AS cnt
        FROM expanded GROUP BY 1, 2
    ),
    qpos AS (
        SELECT item_id, j, {_CM_HASH_SQL} AS bucket
        FROM (SELECT item_id, unnest(range(3)) AS j FROM qitems)
    ),
    est AS (
        SELECT qpos.item_id, min(cnt) AS cm_est
        FROM qpos JOIN sketch USING (j, bucket) GROUP BY qpos.item_id
    ),
    exact AS (
        SELECT item_id, count(*) AS exact_cnt
        FROM items SEMI JOIN qitems USING (item_id)
        GROUP BY item_id
    )
    SELECT est.item_id AS item_id,
           CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(cm_est AS BIGINT) AS cm_est,
           cm_est >= exact_cnt AS overcount_ok
    FROM est JOIN exact ON est.item_id = exact.item_id
    ORDER BY item_id
"""


@register(
    "count_min_point_queries",
    _COUNT_MIN_ORACLE,
    "Count-Min sketch (Cormode & Muthukrishnan '05) point frequency "
    "queries, built entirely from native expressions: a d=3 x w=512 "
    "counter matrix materializes as a (j, bucket) groupBy - the "
    "map-side partial sums ARE the sketch merge, so the pass shuffles "
    "at most d*w counter rows however the data is partitioned. Point "
    "estimates min_j cm[j][h_j(x)] come from an equi-join of the 8 "
    "query items' (j, bucket) coordinates (5 planted hot items + the "
    "3 smallest cold ids, all data-derived) against the sketch. "
    "Everything is deterministic modular arithmetic, so the oracle "
    "rebuilds the identical estimates; overcount_ok pins the sketch's "
    "one-sided est >= true guarantee, which no partition layout can "
    "break. Complements Misra-Gries (heavy_hitters_sketch: which "
    "items are frequent) with point lookups on CHOSEN items, and the "
    "exact twin is the fixture-scale validation harness while the "
    "d*w-cell sketch alone is the 100 TB product path.",
    tags=("sketch", "aggregation", "round4"),
)
def count_min_point_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 3 == 0, F.col("l_orderkey") % 5)
        .otherwise(F.lit(100) + F.col("l_orderkey"))
        .alias("item_id")
    )
    js = F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j")
    bucket = F.expr(_CM_HASH_SQL).alias("bucket")
    sketch = (
        items.select("item_id", js)
        .select("j", bucket)
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    qitems = items.distinct().orderBy("item_id").limit(8)
    qpos = qitems.select("item_id", js).select("item_id", "j", bucket)
    est = (
        qpos.join(sketch, ["j", "bucket"])
        .groupBy("item_id")
        .agg(F.min("cnt").alias("cm_est"))
    )
    exact = (
        items.join(F.broadcast(qitems), "item_id", "left_semi")
        .groupBy("item_id")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    return (
        est.join(exact, "item_id")
        .select(
            "item_id",
            F.col("exact_cnt").cast("long").alias("exact_cnt"),
            F.col("cm_est").cast("long").alias("cm_est"),
            (F.col("cm_est") >= F.col("exact_cnt")).alias("overcount_ok"),
        )
        .orderBy("item_id")
    )


# =====================================================================
# Bloom-filter join pruning: shuffle-avoiding probe-side filter
# =====================================================================
def _bloom_pos_sql(expr: str, j: int) -> str:
    a = (131, 137, 139)[j]
    b = (17, 29, 41)[j]
    return f"(({expr} * {a} + {b}) % 1000003) % 4096"


_BLOOM_PRUNE_ORACLE = f"""
    -- A Bloom filter over a fixed key set with fixed hash functions
    -- is a DETERMINISTIC bit set: the oracle rebuilds the identical
    -- m=4096 / d=3 filter and replays the identical membership test
    -- per probe row, so candidate and false-positive counts are
    -- hash-checked exactly; no_false_negatives pins the structural
    -- guarantee that no true match is ever pruned.
    WITH gkeys AS MATERIALIZED (
        SELECT c_custkey AS k
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE n_name = 'GERMANY'
    ),
    bits AS MATERIALIZED (
        SELECT DISTINCT
               CASE j WHEN 0 THEN {_bloom_pos_sql('k', 0)}
                      WHEN 1 THEN {_bloom_pos_sql('k', 1)}
                      ELSE {_bloom_pos_sql('k', 2)} END AS pos
        FROM (SELECT k, unnest(range(3)) AS j FROM gkeys)
    ),
    probe AS (
        SELECT o_custkey,
               EXISTS(SELECT 1 FROM bits
                      WHERE pos = {_bloom_pos_sql('o_custkey', 0)})
               AND EXISTS(SELECT 1 FROM bits
                          WHERE pos = {_bloom_pos_sql('o_custkey', 1)})
               AND EXISTS(SELECT 1 FROM bits
                          WHERE pos = {_bloom_pos_sql('o_custkey', 2)})
                   AS is_cand,
               EXISTS(SELECT 1 FROM gkeys WHERE k = o_custkey) AS is_true
        FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS n_probe,
           CAST(sum(CASE WHEN is_cand THEN 1 ELSE 0 END) AS BIGINT)
               AS n_candidates,
           CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true_matches,
           CAST(sum(CASE WHEN is_cand AND NOT is_true THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positives,
           sum(CASE WHEN is_true AND NOT is_cand THEN 1 ELSE 0 END) = 0
               AS no_false_negatives
    FROM probe
"""


@register(
    "bloom_filter_join_prune",
    _BLOOM_PRUNE_ORACLE,
    "Bloom-filter join pruning (Bloom '70; the runtime-filter "
    "technique behind Spark AQE's injectRuntimeFilter, built here "
    "explicitly so its guarantee is provable): the build side "
    "(German customers) folds into an m=4096-bit / d=3-hash filter "
    "as a DISTINCT set of bit positions - bounded metadata that "
    "broadcasts as a single array row, one integer per set bit - and "
    "the probe side (orders) tests all three of its positions with "
    "array_contains BEFORE any shuffle or join, so at 100 TB the "
    "expensive exchange moves only candidates (true matches + "
    "measured false positives), never the full fact table. The "
    "filter is deterministic, so the oracle rebuilds it bit-for-bit "
    "and replays the membership test; no_false_negatives pins the "
    "never-prunes-a-match guarantee under ANY layout. The exact "
    "semi-join twin quantifies the pruning quality it validates.",
    tags=("join", "sketch", "round4"),
)
def bloom_filter_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = t(spark, sf_dir, "nation").filter(F.col("n_name") == "GERMANY")
    gkeys = (
        t(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("c_custkey").alias("k"))
    )
    positions = gkeys.select(
        F.explode(
            F.array(
                *[F.expr(_bloom_pos_sql("k", j)) for j in range(3)]
            )
        ).alias("pos")
    )
    bloom = positions.agg(
        F.sort_array(F.collect_set("pos")).alias("bits")
    )
    probe = (
        t(spark, sf_dir, "orders")
        .select("o_custkey")
        .crossJoin(F.broadcast(bloom))
        .join(
            F.broadcast(gkeys.withColumn("is_true", F.lit(True))),
            F.col("o_custkey") == F.col("k"),
            "left",
        )
        .select(
            F.coalesce(F.col("is_true"), F.lit(False)).alias("is_true"),
            (
                F.array_contains(
                    "bits", F.expr(_bloom_pos_sql("o_custkey", 0))
                )
                & F.array_contains(
                    "bits", F.expr(_bloom_pos_sql("o_custkey", 1))
                )
                & F.array_contains(
                    "bits", F.expr(_bloom_pos_sql("o_custkey", 2))
                )
            ).alias("is_cand"),
        )
    )
    return probe.agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.sum(F.when(F.col("is_cand"), 1).otherwise(0))
        .cast("long")
        .alias("n_candidates"),
        F.sum(F.when(F.col("is_true"), 1).otherwise(0))
        .cast("long")
        .alias("n_true_matches"),
        F.sum(F.when(F.col("is_cand") & ~F.col("is_true"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_positives"),
        (
            F.sum(
                F.when(F.col("is_true") & ~F.col("is_cand"), 1).otherwise(0)
            )
            == 0
        ).alias("no_false_negatives"),
    )


# =====================================================================
# Dynamic-gap session windows
# =====================================================================
_DYNAMIC_SESSION_ORACLE = """
    -- Per-event gap sessionization (the session_window(ts, gap_expr)
    -- operator): event e extends its session to ts_e + gap_e, where
    -- gap_e = (10 + (event_id % 3) * 10) minutes. The relational twin
    -- is interval merging: an event opens a NEW session iff it starts
    -- at/after the running max end of every earlier event of the same
    -- user. Pure integer microseconds end to end.
    WITH e AS MATERIALIZED (
        SELECT user_id, event_id,
               epoch_us(ts) AS ts_us,
               epoch_us(ts) + (10 + (event_id % 3) * 10) * 60000000
                   AS end_us
        FROM events
    ),
    flagged AS (
        SELECT user_id, ts_us, end_us,
               CASE WHEN max(end_us) OVER (
                        PARTITION BY user_id ORDER BY ts_us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) IS NULL
                    OR ts_us >= max(end_us) OVER (
                        PARTITION BY user_id ORDER BY ts_us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    )
                    THEN 1 ELSE 0 END AS is_new
        FROM e
    ),
    numbered AS (
        SELECT user_id, ts_us, end_us,
               sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts_us, end_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM flagged
    )
    SELECT user_id,
           CAST(min(ts_us) AS BIGINT) AS session_start_us,
           CAST(max(end_us) AS BIGINT) AS session_end_us,
           CAST(count(*) AS BIGINT) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start_us
"""


@register(
    "session_window_dynamic_gap",
    _DYNAMIC_SESSION_ORACLE,
    "DYNAMIC-gap session windows: Spark's session_window(ts, "
    "gap_expression) with a per-event timeout - 10/20/30 minutes "
    "depending on event_id % 3 - which fixed-gap sessionization "
    "(session_window_native) cannot express: a heavyweight event "
    "holds its session open longer than a lightweight one. The "
    "oracle is the relational interval-merge twin: an event opens a "
    "new session iff it starts at/after the running max end over all "
    "earlier same-user events (ROWS window + cumulative-sum "
    "numbering), all in integer microseconds so the session "
    "boundaries hash exactly. Scale shape: one shuffle on user_id "
    "for both the native operator and the twin; the same expression "
    "drives the streaming form with a watermark bounding state.",
    tags=("window", "sessionization", "round4"),
)
def session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        (F.lit(10) + (F.col("event_id") % 3) * 10).alias("gap_min"),
    )
    sess = (
        ev.groupBy(
            "user_id",
            F.session_window(
                F.col("ts"),
                # gap must be CalendarIntervalType, not day-time interval
                F.expr("make_interval(0, 0, 0, 0, 0, gap_min, 0)"),
            ).alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            F.col("n_events").cast("long").alias("n_events"),
        )
        .orderBy("user_id", "session_start_us")
    )
    return sess


# =====================================================================
# Sequential time series: Holt linear smoothing, bit-exact recursion
# =====================================================================
_HOLT_ORACLE = """
    -- Recursive-CTE twin of the applyInPandas Holt recursion. With
    -- alpha = beta = 1/2 every update is IEEE adds plus an exact *0.5,
    -- and the op ORDER is pinned identically on both sides
    -- ((x + (l + b)) * 0.5 then ((l' - l) + b) * 0.5), so level/trend
    -- trajectories are bit-identical - the driver hash compares the
    -- final doubles with zero tolerance.
    WITH RECURSIVE s AS MATERIALIZED (
        SELECT pri, row_number() OVER (PARTITION BY pri ORDER BY d) AS i, x
        FROM (SELECT o_orderpriority AS pri, o_orderdate AS d,
                     CAST(count(*) AS DOUBLE) AS x
              FROM orders GROUP BY 1, 2)
    ),
    r AS (
        -- trend anchor must be an explicit DOUBLE: a bare 0.0 types as
        -- DECIMAL(1,1) in DuckDB and the UNION would round every
        -- subsequent trend to one decimal place.
        SELECT pri, 1 AS i, x AS level, CAST(0.0 AS DOUBLE) AS trend
        FROM s WHERE i = 1
        UNION ALL
        SELECT s.pri, s.i,
               (s.x + (r.level + r.trend)) * 0.5,
               (((s.x + (r.level + r.trend)) * 0.5 - r.level) + r.trend) * 0.5
        FROM r JOIN s ON s.pri = r.pri AND s.i = r.i + 1
    ),
    last AS (SELECT pri, max(i) AS n FROM r GROUP BY pri)
    SELECT r.pri AS o_orderpriority,
           CAST(last.n AS BIGINT) AS n_points,
           r.level, r.trend,
           r.level + 7 * r.trend AS forecast
    FROM r JOIN last ON r.pri = last.pri AND r.i = last.n
    ORDER BY o_orderpriority
"""


@register(
    "holt_linear_forecast_daily",
    _HOLT_ORACLE,
    "Holt linear (double-exponential) smoothing of the daily order "
    "count per order priority, alpha = beta = 1/2, plus a 7-step-ahead "
    "forecast (operators/timeseries.py holt_linear_smooth). The "
    "recursion is sequential IN TIME but parallel ACROSS series - "
    "applyInPandas shuffles once on the series key then scans each "
    "series in one Arrow batch (the 100 TB shape: millions of "
    "entity-keyed series, none of which ever visits the driver). "
    "Bit-reproducibility without integers: halving is exact in binary "
    "floating point and every other step is a single correctly-rounded "
    "IEEE add, so pinning the operation ORDER on both engines makes "
    "the level/trend trajectories bit-identical - the DuckDB "
    "recursive-CTE oracle replays the exact update expressions and "
    "the driver hash compares final doubles with zero tolerance.",
    tags=("timeseries", "pandas-udf", "round4"),
)
def holt_linear_forecast_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import holt_linear_smooth

    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.col("o_orderdate").alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
    )
    out = holt_linear_smooth(daily, ["pri"], "d", "x", horizon=7)
    return out.select(
        F.col("pri").alias("o_orderpriority"),
        "n_points", "level", "trend", "forecast",
    ).orderBy("o_orderpriority")


# =====================================================================
# Sequence alignment: dynamic time warping, DP unrolled into codegen
# =====================================================================
def _dtw_alias_chain(elem_fn: str) -> str:
    """The 7x7 DTW dynamic program fully unrolled as a lateral-alias
    chain (both engines resolve backward column aliases in one
    SELECT): d_i_j = |a_i - b_j| + least(d_{i-1}_j, d_i_{j-1},
    d_{i-1}_{j-1}). Row-major emission order guarantees every
    reference points backward. ``elem_fn`` is the engine's 1-based
    array accessor (element_at / list_extract); everything else is
    identical text, all integer."""
    lines = []
    for i in range(7):
        for j in range(7):
            c = f"abs({elem_fn}(va, {i + 1}) - {elem_fn}(vb, {j + 1}))"
            if i == 0 and j == 0:
                e = c
            elif i == 0:
                e = f"{c} + d_0_{j - 1}"
            elif j == 0:
                e = f"{c} + d_{i - 1}_0"
            else:
                e = (f"{c} + least(d_{i - 1}_{j}, d_{i}_{j - 1}, "
                     f"d_{i - 1}_{j - 1})")
            lines.append(f"{e} AS d_{i}_{j}")
    return lines


def _dtw_l1(elem_fn: str) -> str:
    return "(" + " + ".join(
        f"abs({elem_fn}(va, {k}) - {elem_fn}(vb, {k}))" for k in range(1, 8)
    ) + ")"


_DTW_ORACLE = f"""
    -- Replays the unrolled DTW exactly: per-nation ISO-weekday revenue
    -- profiles (7 exact cents sums, gap-filled with 0 so every vector
    -- has length 7), then for every nation pair the 49-cell dynamic
    -- program as a backward-referencing alias chain - pure integer
    -- abs/least arithmetic, bit-identical on both engines. The
    -- dtw_le_l1 boolean pins DTW's defining optimality property: the
    -- diagonal path costs exactly L1, so the optimum can never exceed
    -- it (structural, layout-independent).
    WITH grid AS MATERIALIZED (
        SELECT n.n_nationkey AS nk, g.dow
        FROM nation n, (SELECT unnest(range(1, 8)) AS dow) g
    ),
    rev AS MATERIALIZED (
        SELECT c.c_nationkey AS nk, isodow(o.o_orderdate) AS dow,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    prof AS MATERIALIZED (
        SELECT g.nk,
               list(coalesce(r.cents, 0) ORDER BY g.dow) AS v
        FROM grid g LEFT JOIN rev r ON g.nk = r.nk AND g.dow = r.dow
        GROUP BY g.nk
    ),
    pairs AS MATERIALIZED (
        SELECT a.nk AS nk_a, b.nk AS nk_b, a.v AS va, b.v AS vb
        FROM prof a JOIN prof b ON a.nk < b.nk
    ),
    dp AS (
        SELECT nk_a, nk_b, va, vb, {', '.join(_dtw_alias_chain('list_extract'))}
        FROM pairs
    )
    SELECT CAST(nk_a AS BIGINT) AS nk_a,
           CAST(nk_b AS BIGINT) AS nk_b,
           CAST(d_6_6 AS BIGINT) AS dtw_cents,
           CAST({_dtw_l1('list_extract')} AS BIGINT) AS l1_cents,
           d_6_6 <= {_dtw_l1('list_extract')} AS dtw_le_l1
    FROM dp
    ORDER BY nk_a, nk_b
"""


@register(
    "dtw_weekday_profile_pairs",
    _DTW_ORACLE,
    "Dynamic time warping between every pair of per-nation ISO-weekday "
    "revenue profiles, with the 7x7 dynamic program FULLY UNROLLED "
    "into a backward-referencing lateral-alias chain - 49 chained "
    "integer abs/least expressions that stay inside whole-stage "
    "codegen (no UDF, no recursion, no driver). Profiles are exact "
    "cents sums gap-filled to length 7; costs, the DP table, and the "
    "optimum are all BIGINTs, so the driver hash pins every cell of "
    "every alignment. The dtw_le_l1 boolean asserts DTW's defining "
    "optimality bound (diagonal path = L1 cost). The fixed-length "
    "unroll is the codegen-friendly scale shape for profile/template "
    "matching: pairs shuffle as 7-element vectors, the DP is "
    "map-side; unbounded-length series route to the applyInPandas "
    "recursion family (holt_linear_forecast_daily) instead.",
    tags=("timeseries", "analytics", "round4"),
)
def dtw_weekday_profile_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            (F.weekday("o_orderdate") + 1).alias("dow"),  # = isodow
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("long").alias("cents")
        )
    )
    grid = (
        t(spark, sf_dir, "nation")
        .select(F.col("n_nationkey").alias("nk"))
        .select("nk", F.explode(F.sequence(F.lit(1), F.lit(7))).alias("dow"))
    )
    prof = (
        grid.join(rev, ["nk", "dow"], "left")
        .withColumn("cents", F.coalesce(F.col("cents"), F.lit(0)))
        .groupBy("nk")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dow", "cents"))),
                lambda s: s["cents"],
            ).alias("v")
        )
    )
    a = prof.select(F.col("nk").alias("nk_a"), F.col("v").alias("va"))
    # broadcast the (dimension-scale) profile table: the inequality
    # pair join plans as BroadcastNestedLoopJoin, not a shuffled
    # CartesianProduct - profiles are k-row aggregates, never facts.
    # nk's domain is the 25-row nation dimension; limit(25) restates
    # that structurally so the BNLJ audit can prove the side bounded.
    b = prof.select(F.col("nk").alias("nk_b"), F.col("v").alias("vb")).limit(25)
    pairs = a.join(F.broadcast(b), F.col("nk_a") < F.col("nk_b"))
    dp = pairs.selectExpr(
        "nk_a", "nk_b", "va", "vb", *_dtw_alias_chain("element_at")
    )
    return dp.select(
        F.col("nk_a").cast("long"),
        F.col("nk_b").cast("long"),
        F.col("d_6_6").cast("long").alias("dtw_cents"),
        F.expr(_dtw_l1("element_at")).cast("long").alias("l1_cents"),
        F.expr(f"d_6_6 <= {_dtw_l1('element_at')}").alias("dtw_le_l1"),
    ).orderBy("nk_a", "nk_b")


# =====================================================================
# Intervals: sweep-line union coverage with overlap merge
# =====================================================================
_INTERVAL_UNION_ORACLE = """
    -- Sweep-line interval union, the one-window formulation: order a
    -- user's intervals by start, carry the running max of PRIOR ends,
    -- and each interval contributes max(0, end - max(start, prior_max))
    -- - overlaps never double-count, contained intervals contribute 0,
    -- and a new block starts whenever start > prior_max. Durations are
    -- congruence-synthesized (1us..10min) so everything is exact
    -- integer microseconds on both engines.
    WITH iv AS MATERIALIZED (
        SELECT user_id,
               CAST(epoch_us(ts) AS BIGINT) AS s,
               CAST(epoch_us(ts) AS BIGINT)
                 + ((event_id * 2654435761) % 600000000) + 1 AS e,
               event_id
        FROM events
    ),
    sw AS MATERIALIZED (
        SELECT user_id, s, e,
               max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS pmax
        FROM iv
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(CASE WHEN pmax IS NULL OR s > pmax
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_blocks,
           CAST(sum(GREATEST(e - GREATEST(s, coalesce(pmax, s)), 0))
                AS BIGINT) AS union_us,
           CAST(max(e) - min(s) AS BIGINT) AS span_us
    FROM sw
    GROUP BY user_id
    ORDER BY user_id
"""


@register(
    "interval_union_coverage",
    _INTERVAL_UNION_ORACLE,
    "Interval-union coverage (total busy time with overlaps merged) "
    "via the single-window sweep-line: per user, sort intervals by "
    "start, carry max(end) over the UNBOUNDED-PRECEDING-to-1-PRECEDING "
    "frame, and sum each interval's clamped marginal contribution "
    "max(0, end - max(start, prior_max)) - the classic O(n log n) "
    "union-length algorithm expressed as one window + one aggregate, "
    "no self-join, no explode-to-minutes blowup. Block count falls "
    "out of the same window (start > prior_max opens a gap). "
    "Durations synthesize by congruence so every quantity is exact "
    "integer microseconds. Scale: one shuffle on user_id, windows "
    "sort within partition - the same posture as sessionization; "
    "complements max_concurrent_sessions (sweep-line counting) with "
    "sweep-line MEASURE.",
    tags=("window", "sequence", "round4"),
)
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts")).alias("s"),
        (
            F.unix_micros(F.col("ts"))
            + (F.col("event_id") * 2654435761) % 600000000 + 1
        ).alias("e"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sw = ev.withColumn("pmax", F.max("e").over(w))
    return (
        sw.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum(
                F.when(
                    F.col("pmax").isNull() | (F.col("s") > F.col("pmax")), 1
                ).otherwise(0)
            ).cast("long").alias("n_blocks"),
            F.sum(
                F.greatest(
                    F.col("e")
                    - F.greatest(F.col("s"), F.coalesce(F.col("pmax"), F.col("s"))),
                    F.lit(0),
                )
            ).cast("long").alias("union_us"),
            (F.max("e") - F.min("s")).cast("long").alias("span_us"),
        )
        .orderBy("user_id")
    )


# =====================================================================
# State machines: two-state Viterbi decoding, exact integer DP
# =====================================================================
_VITERBI_ORACLE = """
    -- Recursive-CTE twin of the applyInPandas Viterbi: the two state
    -- values ride as columns through the recursion, every update is
    -- integer add/greatest, and the observation order (ts, event_id)
    -- is total - so the trajectory is exact on both engines.
    -- Emission scores: browse(view 2, click 1, error 0, signup -1,
    -- purchase -3), intent(view -1, click 1, error -2, signup 2,
    -- purchase 4); transitions (0->0 +1, 0->1 -2, 1->0 -2, 1->1 +1);
    -- init (0, -1).
    WITH RECURSIVE s AS MATERIALIZED (
        SELECT user_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS i,
               CASE event_type WHEN 'view' THEN 2 WHEN 'click' THEN 1
                    WHEN 'error' THEN 0 WHEN 'signup' THEN -1
                    ELSE -3 END AS e0,
               CASE event_type WHEN 'view' THEN -1 WHEN 'click' THEN 1
                    WHEN 'error' THEN -2 WHEN 'signup' THEN 2
                    ELSE 4 END AS e1
        FROM events
    ),
    r AS (
        SELECT user_id, 1 AS i,
               CAST(0 + e0 AS BIGINT) AS v0,
               CAST(-1 + e1 AS BIGINT) AS v1
        FROM s WHERE i = 1
        UNION ALL
        SELECT s.user_id, s.i,
               s.e0 + GREATEST(r.v0 + 1, r.v1 + (-2)),
               s.e1 + GREATEST(r.v0 + (-2), r.v1 + 1)
        FROM r JOIN s ON s.user_id = r.user_id AND s.i = r.i + 1
    ),
    last AS (SELECT user_id, max(i) AS n FROM r GROUP BY user_id)
    SELECT r.user_id,
           CAST(last.n AS BIGINT) AS n_obs,
           r.v0, r.v1,
           GREATEST(r.v0, r.v1) AS best_score,
           CAST(CASE WHEN r.v0 >= r.v1 THEN 0 ELSE 1 END AS BIGINT)
               AS best_state
    FROM r JOIN last ON r.user_id = last.user_id AND r.i = last.n
    ORDER BY r.user_id
"""


@register(
    "viterbi_state_decode",
    _VITERBI_ORACLE,
    "Two-state Viterbi decoding of each user's event stream "
    "(operators/timeseries.py viterbi_two_state): integer log-odds "
    "emission/transition scores, so the dynamic program is pure "
    "integer add/max and the DuckDB recursive-CTE oracle replays the "
    "state trajectory EXACTLY - the driver hash pins final state "
    "values, best score, and argmax state per user. Sequential in "
    "time / parallel across users via applyInPandas (the 100 TB HMM "
    "shape: one shuffle on the entity key, per-entity scan; state "
    "count is a constant, so the per-step cost is O(|S|^2) integer "
    "ops). Complements the sequence tier: journey_pattern_match is "
    "regex-style matching, THIS is optimal hidden-state inference.",
    tags=("sequence", "pandas-udf", "round4"),
)
def viterbi_state_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import viterbi_two_state

    ev = t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    out = viterbi_two_state(
        ev, ["user_id"], ["ts", "event_id"], "event_type",
        emit0={"view": 2, "click": 1, "error": 0, "signup": -1,
               "purchase": -3},
        emit1={"view": -1, "click": 1, "error": -2, "signup": 2,
               "purchase": 4},
    )
    return out.orderBy("user_id")


# =====================================================================
# Nearest-event temporal join: bidirectional as-of via ONE union-sort
# window pass, no join operator at all.
# =====================================================================
_NEAREST_ORACLE = """
    -- Same union-sort-window formulation as the engine: purchases and
    -- views interleave in one per-user timeline; the last view at or
    -- before each purchase (backward as-of) and the first view after
    -- it (forward as-of) come from one IGNORE NULLS window pair, and
    -- the nearer of the two (tie -> earlier view) wins if within 30
    -- minutes. No inequality join anywhere.
    WITH ev AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        FROM events WHERE event_type IN ('purchase', 'view')
    ),
    tl AS (
        SELECT user_id, event_id, event_type, us,
               last_value(CASE WHEN event_type = 'view' THEN us END
                          IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_view_us,
               first_value(CASE WHEN event_type = 'view' THEN us END
                           IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY us, event_id
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS next_view_us
        FROM ev
    ),
    p AS (
        SELECT user_id, event_id, us, prev_view_us, next_view_us,
               CASE
                 WHEN prev_view_us IS NULL THEN next_view_us
                 WHEN next_view_us IS NULL THEN prev_view_us
                 WHEN us - prev_view_us <= next_view_us - us
                   THEN prev_view_us
                 ELSE next_view_us
               END AS nearest_us
        FROM tl WHERE event_type = 'purchase'
    )
    SELECT user_id, event_id AS purchase_id,
           CAST(nearest_us AS BIGINT) AS view_us,
           CAST(abs(us - nearest_us) AS BIGINT) AS gap_us
    FROM p
    WHERE nearest_us IS NOT NULL AND abs(us - nearest_us) <= 1800000000
    ORDER BY user_id, purchase_id
"""


@register(
    "nearest_event_join",
    _NEAREST_ORACLE,
    "NEAREST-event temporal join (+-30 min tolerance): each purchase "
    "pairs with its closest view in EITHER direction - the "
    "generalization of the backward-only as-of join "
    "(asof_join_events) that attribution and sensor-fusion pipelines "
    "need. Zero join operators: both event types union into one "
    "per-user timeline and a single sort window yields the backward "
    "candidate (last_value IGNORE NULLS over the preceding frame) "
    "and the forward candidate (first_value over the following "
    "frame); the nearer wins, ties to the earlier view by the "
    "integer comparison's <=. Scale: one shuffle on user_id, "
    "partition-parallel windows, the event filter pushes to the "
    "scan - no inequality-range join blowup at any sf.",
    tags=("joins", "window", "analytics", "round4"),
)
def nearest_event_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "view"))
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros("ts").alias("us"),
        )
    )
    wp = W.partitionBy("user_id").orderBy("us", "event_id")
    view_us = F.when(F.col("event_type") == "view", F.col("us"))
    tl = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "us",
        F.last(view_us, ignorenulls=True)
        .over(wp.rowsBetween(W.unboundedPreceding, -1))
        .alias("prev_view_us"),
        F.first(view_us, ignorenulls=True)
        .over(wp.rowsBetween(1, W.unboundedFollowing))
        .alias("next_view_us"),
    )
    p = tl.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        "us",
        F.when(F.col("prev_view_us").isNull(), F.col("next_view_us"))
        .when(F.col("next_view_us").isNull(), F.col("prev_view_us"))
        .when(
            F.col("us") - F.col("prev_view_us")
            <= F.col("next_view_us") - F.col("us"),
            F.col("prev_view_us"),
        )
        .otherwise(F.col("next_view_us"))
        .alias("nearest_us"),
    )
    return (
        p.filter(
            F.col("nearest_us").isNotNull()
            & (F.abs(F.col("us") - F.col("nearest_us")) <= 1_800_000_000)
        )
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("nearest_us").cast("bigint").alias("view_us"),
            F.abs(F.col("us") - F.col("nearest_us"))
            .cast("bigint")
            .alias("gap_us"),
        )
        .orderBy("user_id", "purchase_id")
    )


# =====================================================================
# Shoelace polygon area + centroid: exact integer geometry closing
# out the geo tier.
# =====================================================================
_SHOE_LATC = "(((c_custkey * 2654435761 + 524287) % 120000000) - 60000000)"


_SHOE_LONC = ("(((((c_custkey * 2654435761 + 131071) % 360000000)"
              " * 961748927) % 360000000) - 180000000)")


_SHOELACE_ORACLE = f"""
    -- Shoelace (surveyor's) formula per nation: vertices are the
    -- nation's customers in custkey order (closed by wrapping to the
    -- first vertex), coordinates are integer microdegrees from key
    -- congruences. Every cross product x_i*y_i+1 - x_i+1*y_i is an
    -- exact integer; sums accumulate in HUGEINT/DECIMAL; the signed
    -- doubled area is divided by 1e6 in INTEGER space (exact, both
    -- engines floor toward -inf only for nonneg - so the division
    -- keeps the sign by dividing the absolute value and reapplying
    -- the sign). Centroid = sum((x_i+x_i+1)*cross) / (3*sum(cross)),
    -- emitted only when the area is non-degenerate.
    WITH v AS MATERIALIZED (
        SELECT c_nationkey AS nk, c_custkey,
               {_SHOE_LATC} AS y, {_SHOE_LONC} AS x
        FROM customer
    ),
    seq AS MATERIALIZED (
        SELECT nk, c_custkey, x, y,
               coalesce(lead(x) OVER w, first_value(x) OVER w2) AS xn,
               coalesce(lead(y) OVER w, first_value(y) OVER w2) AS yn
        FROM v
        WINDOW w AS (PARTITION BY nk ORDER BY c_custkey),
               w2 AS (PARTITION BY nk ORDER BY c_custkey
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND UNBOUNDED FOLLOWING)
    ),
    sums AS MATERIALIZED (
        SELECT nk,
               CAST(count(*) AS BIGINT) AS n_vertices,
               sum(x::HUGEINT * yn - xn::HUGEINT * y) AS area2,
               sum((x::HUGEINT + xn) * (x::HUGEINT * yn - xn::HUGEINT * y))
                   AS cxs,
               sum((y::HUGEINT + yn) * (x::HUGEINT * yn - xn::HUGEINT * y))
                   AS cys
        FROM seq GROUP BY nk
    )
    SELECT CAST(nk AS BIGINT) AS nation, n_vertices,
           CAST(CASE WHEN area2 >= 0 THEN abs(area2) // 1000000
                     ELSE -(abs(area2) // 1000000) END AS BIGINT)
               AS area2_e6,
           CASE WHEN abs(area2) > 1000000
                THEN round(CAST(cxs AS DOUBLE)
                           / (3 * CAST(area2 AS DOUBLE)) / 1e6, 4)
           END AS centroid_lon_deg,
           CASE WHEN abs(area2) > 1000000
                THEN round(CAST(cys AS DOUBLE)
                           / (3 * CAST(area2 AS DOUBLE)) / 1e6, 4)
           END AS centroid_lat_deg
    FROM sums
    ORDER BY nation
"""


@register(
    "polygon_shoelace_area_centroid",
    _SHOELACE_ORACLE,
    "Shoelace (surveyor's) polygon area and centroid per nation - "
    "exact integer computational geometry closing out the geo tier "
    "(grid-kNN, geohash, ray casting): vertices are the nation's "
    "customers in custkey order closed by wraparound (lead() with a "
    "first_value fallback - one window, no self-join), every cross "
    "product is an exact integer, sums accumulate in "
    "DECIMAL(38,0)/HUGEINT, and the signed doubled area divides by "
    "1e6 in sign-split integer space (engines disagree on negative "
    "integer-division rounding, so the division runs on the "
    "absolute value and the sign is reapplied - found while "
    "building). Centroids use the standard cross-weighted formula, "
    "NULL-gated on degenerate areas identically on both engines. "
    "One shuffle on nation; windows are partition-parallel.",
    tags=("geo", "window", "agg", "round4"),
)
def polygon_shoelace_area_centroid(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    v = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk"),
        "c_custkey",
        F.expr(_SHOE_LATC).alias("y"),
        F.expr(_SHOE_LONC).alias("x"),
    )
    w = W.partitionBy("nk").orderBy("c_custkey")
    w2 = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    seq = v.select(
        "nk",
        "x",
        "y",
        F.coalesce(F.lead("x").over(w), F.first("x").over(w2)).alias("xn"),
        F.coalesce(F.lead("y").over(w), F.first("y").over(w2)).alias("yn"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    cross = dec("x") * dec("yn") - dec("xn") * dec("y")
    sums = seq.groupBy("nk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vertices"),
        F.sum(cross).alias("area2"),
        F.sum((dec("x") + dec("xn")) * cross).alias("cxs"),
        F.sum((dec("y") + dec("yn")) * cross).alias("cys"),
    )
    return sums.selectExpr(
        "CAST(nk AS BIGINT) AS nation",
        "n_vertices",
        "CAST(CASE WHEN area2 >= 0 THEN abs(area2) div 1000000 "
        "ELSE -(abs(area2) div 1000000) END AS BIGINT) AS area2_e6",
        "CASE WHEN abs(area2) > 1000000 THEN round(CAST(cxs AS DOUBLE) "
        "/ (3 * CAST(area2 AS DOUBLE)) / 1e6, 4) END AS centroid_lon_deg",
        "CASE WHEN abs(area2) > 1000000 THEN round(CAST(cys AS DOUBLE) "
        "/ (3 * CAST(area2 AS DOUBLE)) / 1e6, 4) END AS centroid_lat_deg",
    ).orderBy("nation")


# =====================================================================
# Largest-remainder (Hamilton) apportionment - allocate a fixed seat
# budget proportionally with EXACT integer arithmetic.
# =====================================================================
_APPORTION_SEATS = 1000


_APPORTION_ORACLE = f"""
    WITH rev AS (
        SELECT n.n_name,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1
    ), q AS (
        SELECT n_name, rev_cents,
               CAST(sum(rev_cents) OVER () AS HUGEINT) AS total,
               CAST({_APPORTION_SEATS} AS HUGEINT) * rev_cents AS numer
        FROM rev
    ), f AS (
        SELECT n_name, rev_cents,
               CAST(numer // total AS BIGINT) AS floor_seats,
               CAST(numer % total AS BIGINT)  AS remainder,
               CAST({_APPORTION_SEATS} AS BIGINT)
                   - CAST(sum(numer // total) OVER () AS BIGINT) AS extra
        FROM q
    )
    SELECT n_name, rev_cents,
           floor_seats
               + CASE WHEN rank() OVER (
                          ORDER BY remainder DESC, n_name) <= extra
                      THEN 1 ELSE 0 END AS seats
    FROM f
"""


@register(
    "largest_remainder_apportionment",
    _APPORTION_ORACLE,
    "Largest-remainder (Hamilton) apportionment: split a fixed "
    "budget of 1000 shards proportionally to each nation's exact "
    "revenue-cents, with NO floating point anywhere - quotas are "
    "HUGEINT/DECIMAL numerators, floors are integer division, and "
    "the leftover seats go to the largest integer remainders "
    "(rank with a deterministic name tie-break). This is the exact "
    "algorithm behind proportional shard/budget/sample allocation "
    "(balanced_shard_plan packs by size; this divides a FIXED total "
    "fairly - the two allocation primitives a pipeline needs). "
    "Guaranteed: seats sum to exactly 1000 and every nation gets "
    "floor(quota) or floor(quota)+1. Scale: the grain is the "
    "25-nation rollup; the window runs on 25 rows after a "
    "partial-combined join-aggregate.",
    tags=("agg", "window", "analytics", "round4"),
)
def largest_remainder_apportionment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    wall = W.partitionBy()
    q = rev.select(
        "n_name",
        "rev_cents",
        F.sum("rev_cents").over(wall).cast("decimal(38,0)").alias("total"),
        (F.lit(_APPORTION_SEATS).cast("decimal(38,0)") * F.col("rev_cents")).alias(
            "numer"
        ),
    )
    # Integral `div`, NOT F.floor(numer/total): Spark decimal true
    # division rounds HALF_UP at scale 6, so a quotient within 5e-7
    # below an integer would floor one seat too high and disagree with
    # both the exact `%` remainder and the oracle's HUGEINT `//`
    # (ADVICE r4). `div` is exact integer division on the decimals,
    # bit-for-bit the oracle's semantics.
    floor_seats = F.expr("numer div total")
    f = q.select(
        "n_name",
        "rev_cents",
        floor_seats.cast("bigint").alias("floor_seats"),
        (F.col("numer") % F.col("total")).cast("bigint").alias("remainder"),
        (
            F.lit(_APPORTION_SEATS).cast("bigint")
            - F.sum(floor_seats).over(wall).cast("bigint")
        ).alias("extra"),
    )
    rk = F.rank().over(W.orderBy(F.desc("remainder"), "n_name"))
    return f.select(
        "n_name",
        "rev_cents",
        (
            F.col("floor_seats")
            + F.when(rk <= F.col("extra"), 1).otherwise(0)
        ).alias("seats"),
    )


# =====================================================================
# FIFO inventory matching - the classic cumulative-interval join:
# match each issue against the receipts that FIFO-serve it, exactly.
# =====================================================================
_FIFO_ORACLE = """
    WITH r AS (
        SELECT l_partkey,
               CAST(l_quantity AS BIGINT) AS qty,
               sum(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
        FROM lineitem WHERE l_returnflag = 'N'
    ), i AS (
        SELECT l_partkey,
               CAST(l_quantity AS BIGINT) AS qty,
               sum(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
        FROM lineitem WHERE l_returnflag = 'R'
    ), m AS (
        SELECT r.l_partkey,
               least(r.cum, i.cum)
                   - greatest(r.cum - r.qty, i.cum - i.qty) AS matched
        FROM r JOIN i ON r.l_partkey = i.l_partkey
                     AND r.cum > i.cum - i.qty
                     AND r.cum - r.qty < i.cum
    )
    SELECT l_partkey,
           CAST(count(*) AS BIGINT) AS n_matches,
           CAST(sum(matched) AS BIGINT) AS matched_units
    FROM m GROUP BY 1
"""


@register(
    "fifo_inventory_matching",
    _FIFO_ORACLE,
    "FIFO inventory matching - the classic 'hard SQL' allocation: "
    "per part, receipts (returnflag N) serve issues (returnflag R) "
    "in ship-date order, and each (receipt, issue) pair's matched "
    "quantity is the OVERLAP of their cumulative-quantity intervals "
    "[cum-qty, cum) - the closed form that turns an inherently "
    "sequential FIFO walk into one window pass per side plus one "
    "interval equi-join, no iteration and no UDF. Every quantity is "
    "an exact BIGINT; the per-part running sums use a unique "
    "(shipdate, orderkey, linenumber) order so both engines walk "
    "identical FIFO queues. This is the cost-basis/lot-matching "
    "primitive (inventory COGS, tax lots, queue attribution). "
    "Scale: both windows and the join are partitioned by l_partkey "
    "- one shuffle key end-to-end, intervals keep the per-key join "
    "output linear in matches (each receipt overlaps O(1) amortized "
    "issues), never quadratic.",
    tags=("window", "join", "analytics", "round4"),
)
def fifo_inventory_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = t(spark, sf_dir, "lineitem")

    def side(flag: str) -> DataFrame:
        w = (
            W.partitionBy("l_partkey")
            .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        return li.filter(F.col("l_returnflag") == flag).select(
            "l_partkey",
            F.col("l_quantity").cast("bigint").alias("qty"),
            F.sum(F.col("l_quantity").cast("bigint")).over(w).alias("cum"),
        )

    r = side("N").alias("r")
    i = side("R").alias("i")
    m = r.join(
        i,
        (F.col("r.l_partkey") == F.col("i.l_partkey"))
        & (F.col("r.cum") > F.col("i.cum") - F.col("i.qty"))
        & (F.col("r.cum") - F.col("r.qty") < F.col("i.cum")),
    ).select(
        F.col("r.l_partkey").alias("l_partkey"),
        (
            F.least(F.col("r.cum"), F.col("i.cum"))
            - F.greatest(
                F.col("r.cum") - F.col("r.qty"), F.col("i.cum") - F.col("i.qty")
            )
        ).alias("matched"),
    )
    return m.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
        F.sum("matched").cast("bigint").alias("matched_units"),
    )


# =====================================================================
# Per-customer NPV / IRR - iterative root-finding run ENTIRELY inside
# the engines (40 unrolled bisection steps, zero driver round-trips),
# bit-identical across Spark and DuckDB because every step is the
# same IEEE expression DAG.
# =====================================================================
_IRR_ITERS = 28


_IRR_INVEST_CENTS = 50_000_000.0  # $500k notional acquisition cost


def _irr_npv_sql(mid: str) -> str:
    """NPV at rate ``mid`` with explicit left-associated powers - the
    exact expression shape the Spark side mirrors."""
    terms = ["cf0"]
    for k in range(1, 7):
        denom = "*".join(["(1.0 + %s)" % mid] * k)
        terms.append(f"cf{k} / ({denom})")
    return " + ".join(terms)


def _irr_oracle() -> str:
    cf_cols = ", ".join(f"cf{k}" for k in range(7))
    its = []
    for i in range(_IRR_ITERS):
        src = f"it{i}" if i else "base"
        npv = _irr_npv_sql("mid")
        its.append(
            f"it{i + 1} AS (SELECT c, {cf_cols}, "
            f"CASE WHEN {npv} > 0.0 THEN mid ELSE lo END AS lo, "
            f"CASE WHEN {npv} > 0.0 THEN hi ELSE mid END AS hi, "
            f"(CASE WHEN {npv} > 0.0 THEN mid ELSE lo END "
            f" + CASE WHEN {npv} > 0.0 THEN hi ELSE mid END) * 0.5 AS mid "
            f"FROM {src})"
        )
    chain = ",\n    ".join(its)
    return f"""
    WITH yearly AS (
        SELECT o_custkey AS c,
               CAST(year(o_orderdate) - 1992 AS BIGINT) AS yr,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2
    ), cf AS (
        SELECT c,
               CAST(coalesce(sum(cents) FILTER (yr = 0), 0) AS DOUBLE)
                   - {_IRR_INVEST_CENTS} AS cf0,
               CAST(coalesce(sum(cents) FILTER (yr = 1), 0) AS DOUBLE) AS cf1,
               CAST(coalesce(sum(cents) FILTER (yr = 2), 0) AS DOUBLE) AS cf2,
               CAST(coalesce(sum(cents) FILTER (yr = 3), 0) AS DOUBLE) AS cf3,
               CAST(coalesce(sum(cents) FILTER (yr = 4), 0) AS DOUBLE) AS cf4,
               CAST(coalesce(sum(cents) FILTER (yr = 5), 0) AS DOUBLE) AS cf5,
               CAST(coalesce(sum(cents) FILTER (yr = 6), 0) AS DOUBLE) AS cf6
        FROM yearly GROUP BY 1
    ), base AS (
        SELECT c, {cf_cols},
               CAST(0.0 AS DOUBLE) AS lo,
               CAST(10.0 AS DOUBLE) AS hi,
               CAST(5.0 AS DOUBLE) AS mid
        FROM cf
        WHERE cf0 < 0.0
          AND cf0 + cf1 + cf2 + cf3 + cf4 + cf5 + cf6 > 0.0
    ),
    {chain}
    SELECT c AS c_custkey,
           CAST(cf0 + cf1 + cf2 + cf3 + cf4 + cf5 + cf6 AS BIGINT)
               AS total_cf_cents,
           CAST(floor({_irr_npv_sql("0.1")}) AS BIGINT) AS npv10_cents,
           round((lo + hi) * 0.5, 6) AS irr
    FROM it{_IRR_ITERS}
    """


@register(
    "npv_irr_bisection",
    _irr_oracle(),
    "Per-customer NPV and IRR: yearly revenue cash flows (exact "
    "integer cents per TPC-H year) against a $500k notional "
    "acquisition outlay at t=0; customers with a genuine investment "
    "shape (negative cf0, positive undiscounted total - exactly one "
    "sign change, hence a unique positive root) get their IRR from "
    "28 bisection steps run as ONE Arrow-vectorized numpy kernel "
    "(zero driver round-trips), resolving the rate to 10/2^28 ~ 4e-8 "
    "(well below the round(,6) output grid). Round 6 rewrite: the "
    "original 28-step unrolled withColumn chain produced a 56-deep "
    "Project stack whose Catalyst rule passes cost ~150 ms/step "
    "(~4.0 s at sf0.1); an aggregate() HOF fold made plan-compile "
    "cost constant in step depth. Round 9 rewrite: HOFs evaluate "
    "interpreted (CodegenFallback) and the fold's un-CSE'd when() "
    "branches re-evaluated the npv polynomial several times per "
    "step (~1.9 s of per-row interpreter time at sf0.1); the numpy "
    "kernel replays the IDENTICAL left-associated IEEE op sequence "
    "per element (verified bit-equal vs both prior formulations and "
    "the oracle), measured 1.0 s at sf0.1. At 100 TB the cost is "
    "purely the embarrassingly-parallel per-Arrow-batch loop. "
    "Every step is pure IEEE +-*/ with explicit left-associated "
    "discount powers, mirrored symbol-for-symbol in the oracle's "
    "generated 28-CTE chain, so the bisection path is bit-identical "
    "across engines AND across the two Spark formulations (verified: "
    "collected rows identical; mid is always dyadic => round(,6) "
    "can never sit on a decimal tie). npv10_cents is floor()-ed, "
    "not round()-ed, to stay off the float-rounding grid entirely. "
    "This is the iterative-algorithm pattern (fixed iteration "
    "count, columnar state) that also drives the kmeans/PAVA/"
    "Viterbi tiers. Scale: one partial-combined aggregate to the "
    "(customer, year) grain, one pivot, then per-row arithmetic.",
    tags=("analytics", "iterative", "round4"),
)
def npv_irr_bisection(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    yearly = o.groupBy(
        F.col("o_custkey").alias("c"),
        (F.year("o_orderdate") - F.lit(1992)).cast("bigint").alias("yr"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    cf_cols = [
        (
            F.coalesce(
                F.sum(F.when(F.col("yr") == k, F.col("cents"))), F.lit(0)
            ).cast("double")
            - (F.lit(_IRR_INVEST_CENTS) if k == 0 else F.lit(0.0))
        ).alias(f"cf{k}")
        for k in range(7)
    ]
    cf = yearly.groupBy("c").agg(*cf_cols)
    total = (
        F.col("cf0") + F.col("cf1") + F.col("cf2") + F.col("cf3")
        + F.col("cf4") + F.col("cf5") + F.col("cf6")
    )
    df = cf.filter((F.col("cf0") < 0.0) & (total > 0.0))

    def npv_at(mid_col):
        acc = F.col("cf0")
        denom = None
        for k in range(1, 7):
            d = F.lit(1.0) + mid_col
            denom = d if denom is None else denom * d
            acc = acc + F.col(f"cf{k}") / denom
        return acc

    # The 28-step fold runs as ONE Arrow-vectorized kernel (r9 rewrite,
    # guide §4.1/§4.2): higher-order functions evaluate interpreted
    # (CodegenFallback), and the previous aggregate() formulation
    # re-evaluated the npv polynomial for each reference of the
    # un-CSE'd when() branches — measured ~1.9 s of pure per-row
    # interpreter time at sf0.1 (14 107 rows). The numpy loop below
    # replays the IDENTICAL per-element IEEE op sequence — d = 1+mid,
    # left-associated denom *= d, acc += cf_k/denom, branchless
    # where() selects, mid = (lo+hi)*0.5 — so every double, and hence
    # every round(,6) readout, is bit-unchanged (verified: collected
    # rows identical at sf0.01/sf0.1 vs the HOF formulation, and the
    # oracle's 28-CTE chain still matches exactly). At 100 TB the
    # kernel stays embarrassingly parallel per Arrow batch; the final
    # rounding and npv10 floor remain native Spark expressions.
    import numpy as np
    import pandas as pd

    # no signature annotations: PEP-563 lazy annotations (module-wide
    # `from __future__ import annotations`) stringify them, which the
    # pandas_udf signature validator rejects (same note as
    # nfc_normalization); unannotated defaults to SCALAR, which with a
    # struct returnType takes Series args and returns a pd.DataFrame.
    @F.pandas_udf("lo double, hi double")
    def _irr_fold(cf0, cf1, cf2, cf3, cf4, cf5, cf6):
        c = [
            s.to_numpy(dtype="float64")
            for s in (cf0, cf1, cf2, cf3, cf4, cf5, cf6)
        ]
        n = c[0].shape[0]
        lo = np.zeros(n)
        hi = np.full(n, 10.0)
        mid = np.full(n, 5.0)
        for _ in range(_IRR_ITERS):
            d = 1.0 + mid
            denom = d
            acc = c[0] + c[1] / denom
            for k in range(2, 7):
                denom = denom * d
                acc = acc + c[k] / denom
            go = acc > 0.0
            lo = np.where(go, mid, lo)
            hi = np.where(go, hi, mid)
            mid = (lo + hi) * 0.5
        return pd.DataFrame({"lo": lo, "hi": hi})

    st = df.withColumn(
        "__st", _irr_fold(*[F.col(f"cf{k}") for k in range(7)])
    )
    return st.select(
        F.col("c").alias("c_custkey"),
        total.cast("bigint").alias("total_cf_cents"),
        F.floor(npv_at(F.lit(0.1))).cast("bigint").alias("npv10_cents"),
        F.round(
            (F.col("__st.lo") + F.col("__st.hi")) * F.lit(0.5), 6
        ).alias("irr"),
    )


# =====================================================================
# Bitemporal as-of join - the two-time-axis reconstruction pattern
# (scd2_asof_fact_join handles ONE time axis; bitemporal adds the
# knowledge/transaction axis: "what did we BELIEVE on date K about
# validity date V").
# =====================================================================
_BITEMPORAL_ORACLE = """
    WITH quotes AS (
        SELECT l_partkey AS pk,
               CAST(l_shipdate AS DATE)   AS valid_from,
               CAST(o_orderdate AS DATE)  AS known_from,
               CAST(round(l_extendedprice * 100) AS BIGINT)
                   // CAST(l_quantity AS BIGINT) AS unit_cents,
               l_orderkey, l_linenumber
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_partkey % 50 = 0
    ), probes AS (
        SELECT CAST('1994-01-01' AS DATE) + INTERVAL (vy) YEAR AS v_date,
               CAST('1995-01-01' AS DATE) + INTERVAL (ky) YEAR AS k_date
        FROM unnest(generate_series(0, 2)) AS tv(vy),
             unnest(generate_series(0, 2)) AS tk(ky)
    ), ranked AS (
        SELECT q.pk, p.v_date, p.k_date, q.unit_cents,
               row_number() OVER (
                   PARTITION BY q.pk, p.v_date, p.k_date
                   ORDER BY q.valid_from DESC, q.known_from DESC,
                            q.l_orderkey, q.l_linenumber) AS rn
        FROM probes p JOIN quotes q
          ON q.known_from <= p.k_date AND q.valid_from <= p.v_date
    )
    SELECT pk AS l_partkey,
           CAST(strftime(v_date, '%Y-%m-%d') AS VARCHAR) AS valid_on,
           CAST(strftime(k_date, '%Y-%m-%d') AS VARCHAR) AS known_on,
           unit_cents AS believed_unit_cents
    FROM ranked WHERE rn = 1
"""


@register(
    "bitemporal_asof_join",
    _BITEMPORAL_ORACLE,
    "Bitemporal as-of join: price quotes carry TWO time axes - "
    "valid_from (when the price applies: shipdate) and known_from "
    "(when we learned it: the order date) - and each (validity V, "
    "knowledge K) probe reconstructs the quote we BELIEVED at K "
    "about V: among versions known by K and valid by V, the latest "
    "valid one, ties by latest known then a unique key. This is the "
    "audit/backtest primitive scd2_asof_fact_join (one axis) cannot "
    "express - 'rerun the 1996 report with only 1995 knowledge'. "
    "One inequality join + one row_number per (entity, probe); the "
    "probe grid is a 3x3 year lattice. Scale: the join keys on the "
    "entity via the probe broadcast (9 rows), versions shuffle once "
    "by entity, and the window partitions by (entity, probe) - no "
    "cross-entity pair ever forms.",
    tags=("join", "window", "data-eng", "round4"),
)
def bitemporal_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    quotes = (
        li.filter(F.col("l_partkey") % 50 == 0)
        .join(o, li.l_orderkey == o.o_orderkey)
        .select(
        F.col("l_partkey").alias("pk"),
        F.col("l_shipdate").cast("date").alias("valid_from"),
        F.col("o_orderdate").cast("date").alias("known_from"),
        # floor division, matching the oracle's integer `//`
        F.floor(
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            / F.col("l_quantity").cast("bigint")
        )
        .cast("bigint")
        .alias("unit_cents"),
        "l_orderkey",
        "l_linenumber",
        )
    )
    probes = spark.createDataFrame(
        [
            (f"{1994 + vy}-01-01", f"{1995 + ky}-01-01")
            for vy in range(3)
            for ky in range(3)
        ],
        "v_date string, k_date string",
    ).select(
        F.col("v_date").cast("date").alias("v_date"),
        F.col("k_date").cast("date").alias("k_date"),
    )
    ranked = quotes.join(
        F.broadcast(probes),
        (F.col("known_from") <= F.col("k_date"))
        & (F.col("valid_from") <= F.col("v_date")),
    ).select(
        "pk", "v_date", "k_date", "unit_cents",
        F.row_number()
        .over(
            W.partitionBy("pk", "v_date", "k_date").orderBy(
                F.desc("valid_from"), F.desc("known_from"),
                "l_orderkey", "l_linenumber",
            )
        )
        .alias("rn"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        F.col("pk").alias("l_partkey"),
        F.date_format("v_date", "yyyy-MM-dd").alias("valid_on"),
        F.date_format("k_date", "yyyy-MM-dd").alias("known_on"),
        F.col("unit_cents").alias("believed_unit_cents"),
    )


# =====================================================================
# approx_top_k — Spark 4.1's built-in heavy-hitter sketch function
# (the API twin of the hand-built Misra-Gries in heavy_hitters_sketch).
# =====================================================================
_APPROX_TOP_K_ORACLE = """
    SELECT event_type AS item, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    ORDER BY n DESC, item LIMIT 5
"""


@register(
    "approx_top_k_events",
    _APPROX_TOP_K_ORACLE,
    "approx_top_k (built-in since Spark 4.1; internally an Apache "
    "DataSketches frequent-items sketch) over the event-type column, "
    "re-sorted deterministically (count DESC, item) after inline(). "
    "The fixture's event-type cardinality is far below the default "
    "maxItemsTracked=10000, and the frequent-items sketch is EXACT "
    "whenever nothing is ever evicted — so the result must equal the "
    "oracle's exact GROUP BY top-5, hash-for-hash. This pins the "
    "exactness boundary the hand-built twin (heavy_hitters_sketch) "
    "proves from the other side with its N/(k+1) error-bound "
    "booleans: same algorithm family, built-in vs from-scratch, both "
    "driver-falsifiable. At 100 TB the sketch is the point: partials "
    "merge associatively map-side, state is O(k), no raw-key "
    "shuffle.",
    tags=("agg", "sketch", "approx", "round5"),
)
def approx_top_k_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT item, n FROM (
            SELECT inline(approx_top_k(event_type, 5))
                AS (item, n)
            FROM {events}
        )
        ORDER BY n DESC, item
        """,
        events=t(spark, sf_dir, "events"),
    ).select("item", F.col("n").cast("bigint").alias("n"))
