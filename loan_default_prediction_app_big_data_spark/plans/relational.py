"""Relational queries: aggregations, joins, set operations, row-level
ops, scalar functions, SQL-surface features and the TPC-H shapes.
"""

from __future__ import annotations

from ..functions import metrics as MET
from ..operators import relational as R
from ..operators import skew as K
from ..session import scoped_conf
from ._core import DataFrame, F, SparkSession, W, register, t


# =====================================================================
# Relational core — aggregations (SURVEY.md §2.B "Aggregations")
# =====================================================================
@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_quantity) AS DOUBLE)                             AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4)           AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6) AS sum_charge,
           round(avg(l_quantity), 4)                                   AS avg_qty,
           round(avg(l_extendedprice), 4)                              AS avg_price,
           round(avg(l_discount), 4)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    "TPC-H Q1 shape: scan-side filter + hash aggregate with partial "
    "(map-side) combine. At 100 TB: one shuffle keyed on 6 tiny groups — "
    "partial aggregation reduces each of thousands of input partitions "
    "to 6 rows before the exchange.",
    tags=("agg",),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 6).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "group_distinct_agg",
    """
    SELECT o_orderstatus,
           count(DISTINCT o_custkey)           AS n_customers,
           count(*)                            AS n_orders,
           round(avg(o_totalprice), 4)         AS avg_price,
           round(max(o_totalprice), 2)         AS max_price,
           round(min(o_totalprice), 2)         AS min_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    "Distinct aggregate: Spark plans expand+two-phase agg; distinct on "
    "the shuffle key side stays scalable (no driver materialization).",
    tags=("agg",),
)
def group_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
        )
    )


@register(
    "rollup_agg",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
           count(*)                        AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "ROLLUP grouping sets — Spark's Expand operator feeds one hash agg; "
    "subtotal rows have NULL group keys on both engines.",
    tags=("agg",),
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "cube_agg",
    """
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag)  AS g_flag,
           grouping(l_linestatus)  AS g_status,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "CUBE with per-column grouping flags (disambiguates NULL-as-subtotal "
    "from NULL-as-value).",
    tags=("agg",),
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .select("l_returnflag", "l_linestatus", "g_flag", "g_status", "sum_price")
    )


@register(
    "pivot_agg",
    """
    SELECT l_returnflag,
           CAST(sum(l_quantity) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS qty_O,
           CAST(sum(l_quantity) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    """,
    "Pivot with an explicit value list — one pass, no extra shuffle "
    "(never use the two-pass value-discovery form at scale).",
    tags=("agg",),
)
def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("l_quantity").cast("double"))
    )
    return out.select(
        "l_returnflag", F.col("O").alias("qty_O"), F.col("F").alias("qty_F")
    )


# =====================================================================
# Joins (SURVEY.md §2.B "Joins") — absent from the reference, required
# by the harness; full Spark join surface.
# =====================================================================
@register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           CAST(epoch(o_orderdate) AS BIGINT) AS o_orderdate_epoch,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    "TPC-H Q3 shape: selective dim filter → broadcast customer into "
    "orders, shuffle-join lineitem on orderkey, agg, top-10 via "
    "TakeOrderedAndProject (no global sort).",
    tags=("join",),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    joined = li.join(
        F.broadcast(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)),
        li.l_orderkey == F.col("o_orderkey"),
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.unix_timestamp("o_orderdate").alias("o_orderdate_epoch"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_revenue",
    """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
    "TPC-H Q5 shape: star join — every dimension (customer, supplier, "
    "nation, region) broadcast; the only shuffle is lineitem⋈orders on "
    "orderkey plus the final small agg. At 100 TB this is the canonical "
    "broadcast-star plan.",
    tags=("join",),
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@register(
    "semi_anti_join",
    """
    SELECT 'has_open_order' AS kind, c_custkey FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    UNION ALL
    SELECT 'no_order' AS kind, c_custkey FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "Left-semi (EXISTS) and left-anti (NOT EXISTS) joins. Both avoid row "
    "duplication and carry only the probe side's columns — at scale the "
    "semi/anti build side reduces to a distinct-key set.",
    tags=("join",),
)
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    open_orders = orders.filter(F.col("o_orderstatus") == "O")
    has_open = (
        cust.join(open_orders, cust.c_custkey == open_orders.o_custkey, "left_semi")
        .select(F.lit("has_open_order").alias("kind"), "c_custkey")
    )
    no_order = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select(F.lit("no_order").alias("kind"), "c_custkey")
    )
    return has_open.unionByName(no_order)


@register(
    "outer_join_coalesce",
    """
    SELECT c_custkey,
           count(o_orderkey)                            AS n_orders,
           round(coalesce(sum(o_totalprice), 0.0), 2)   AS total_spend
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
    "Left outer join + null-aware aggregate (count skips nulls, sum "
    "coalesced). Customer side broadcast when small; at 100 TB flip to "
    "shuffle join keyed on custkey and AQE handles skewed customers.",
    tags=("join",),
)
def outer_join_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spend"
            ),
        )
    )


@register(
    "range_join_events",
    """
    SELECT e1.user_id,
           count(*) AS n_followups
    FROM events e1
    JOIN events e2
      ON e1.user_id = e2.user_id
     AND epoch_us(e2.ts) > epoch_us(e1.ts)
     AND epoch_us(e2.ts) <= epoch_us(e1.ts) + 300000000
    WHERE e1.event_type = 'click'
    GROUP BY e1.user_id
    """,
    "Range (theta) join: equi part on user_id carries the shuffle; the "
    "time-band predicate is evaluated post-join. At 100 TB, bucket ts "
    "into 5-minute buckets and equi-join on (user_id, bucket±1) to keep "
    "the per-key cross product bounded.",
    tags=("join",),
)
def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    e1 = ev.filter(F.col("event_type") == "click").alias("e1")
    e2 = ev.alias("e2")
    return (
        e1.join(
            e2,
            (F.col("e1.user_id") == F.col("e2.user_id"))
            & (F.col("e2.ts") > F.col("e1.ts"))
            & (
                F.col("e2.ts")
                <= F.col("e1.ts") + F.expr("INTERVAL 5 MINUTES")
            ),
        )
        .groupBy(F.col("e1.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_followups"))
    )


# =====================================================================
# Set operations (SURVEY.md §2.B "Set ops")
# =====================================================================
@register(
    "set_ops",
    """
    WITH open_cust AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'),
         done_cust AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F')
    SELECT 'both' AS kind, custkey FROM (SELECT custkey FROM open_cust INTERSECT SELECT custkey FROM done_cust)
    UNION ALL
    SELECT 'open_only' AS kind, custkey FROM (SELECT custkey FROM open_cust EXCEPT SELECT custkey FROM done_cust)
    UNION ALL
    SELECT 'either' AS kind, custkey FROM (SELECT custkey FROM open_cust UNION SELECT custkey FROM done_cust)
    """,
    "UNION / INTERSECT / EXCEPT over distinct key sets — Spark plans "
    "these as aggregates/semi-joins on the shuffle key.",
    tags=("setop",),
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    open_c = (
        orders.filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    done_c = (
        orders.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    both = open_c.intersect(done_c).select(F.lit("both").alias("kind"), "custkey")
    open_only = open_c.exceptAll(done_c).select(
        F.lit("open_only").alias("kind"), "custkey"
    )
    either = open_c.union(done_c).distinct().select(
        F.lit("either").alias("kind"), "custkey"
    )
    return both.unionByName(open_only).unionByName(either)


# =====================================================================
# Row-level ops: projection / filter / clamp / sample / top-k
# (SURVEY.md §2 A6, A7, A18, A22-A24)
# =====================================================================
@register(
    "project_filter_clamp",
    """
    SELECT l_orderkey, l_linenumber,
           l_quantity,
           CASE WHEN l_discount > 0 THEN l_discount ELSE 0.1 END AS discount_clamped,
           round(l_extendedprice * (1 - l_discount), 4)          AS net_price
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
      AND l_quantity > 45
    """,
    "A7 projection + A23 null-drop + A24 conditional clamp (reference "
    "app.py:217-220), all native expressions — filter and pruning push "
    "into the parquet scan (visible as PushedFilters in explain).",
    tags=("relational",),
)
def project_filter_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    out = R.null_drop(li, ["l_quantity", "l_extendedprice"]).filter(
        F.col("l_quantity") > 45
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        R.clamp_positive(F.col("l_discount")).alias("discount_clamped"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "net_price"
        ),
    )


@register(
    "topk_orders",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice, o_orderpriority
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    "Top-k: Spark plans TakeOrderedAndProject — per-partition heap of k "
    "then a k*partitions driver merge, never a global sort.",
    tags=("relational",),
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    out = R.top_k(orders, [F.desc("o_totalprice"), F.asc("o_orderkey")], 10)
    return out.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "o_orderpriority",
    )


@register(
    "deterministic_sample",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus
    FROM orders
    WHERE o_orderkey % 97 = 0
    """,
    "Engine-portable deterministic sample (A22 analog): key-modulus "
    "bucket filter — stable under repartitioning, unlike seeded "
    "Bernoulli sampling, and pushes to the scan.",
    tags=("relational",),
)
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return R.deterministic_sample(orders, F.col("o_orderkey"), 97, 1).select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )


@register(
    "count_rows",
    "SELECT count(*) AS n_rows FROM lineitem",
    "A21 count — parquet row-group metadata makes this near-free.",
    tags=("relational",),
)
def count_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n_rows"))


# =====================================================================
# ML-preprocessing SQL twins (SURVEY.md §2 A8, A10, A11) — the
# oracle-checkable forms of mean-impute and standardize; the MLlib
# pipeline itself lives in ml/ and is golden-tested.
# =====================================================================
@register(
    "impute_mean_twin",
    """
    WITH stats AS (SELECT avg(value) AS mean_value FROM events)
    SELECT event_id,
           round(coalesce(value, mean_value), 4) AS value_imputed
    FROM events, stats
    """,
    "A8 mean imputation as SQL: full-table avg + per-row coalesce "
    "(exactly what ml.feature.Imputer(strategy='mean') computes). The "
    "aggregate is a scalar broadcast — no per-row shuffle.",
    tags=("ml-twin",),
)
def impute_mean_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    stats = ev.agg(F.avg("value").alias("mean_value"))
    return ev.crossJoin(F.broadcast(stats)).select(
        "event_id",
        F.round(F.coalesce(F.col("value"), F.col("mean_value")), 4).alias(
            "value_imputed"
        ),
    )


@register(
    "standardize_twin",
    """
    WITH stats AS (
        SELECT avg(l_extendedprice) AS mu, stddev_samp(l_extendedprice) AS sigma
        FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice / sigma * 10000.0 + 0.5) / 10000.0        AS scaled,
           floor((l_extendedprice - mu) / sigma * 10000.0 + 0.5) / 10000.0 AS standardized
    FROM lineitem, stats
    """,
    "A10/A11 standardization twins: `scaled` = Spark StandardScaler "
    "default (withStd only, reference spark.py:49); `standardized` = "
    "sklearn semantics (center AND scale, reference app.py:76-78). "
    "Scalar stats broadcast; the per-row transform is map-side only. "
    "Rounding is the grid-stable floor(x*1e4+0.5)/1e4 on BOTH engines: "
    "Spark round() is decimal-string HALF_UP while DuckDB rounds binary "
    "doubles, so the same expression in identical IEEE ops is the only "
    "form that hashes equal (VERDICT r1 item 2).",
    tags=("ml-twin",),
)
def standardize_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    stats = li.agg(
        F.avg("l_extendedprice").alias("mu"),
        F.stddev_samp("l_extendedprice").alias("sigma"),
    )
    def grid_round4(c):
        # floor(x*1e4 + 0.5)/1e4 — same IEEE ops as the oracle SQL, so
        # both engines land on the same binary double (round() would
        # diverge: Spark HALF_UP on decimal strings, DuckDB on binary).
        return (F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)).cast("double")

    return li.crossJoin(F.broadcast(stats)).select(
        "l_orderkey",
        "l_linenumber",
        grid_round4(F.col("l_extendedprice") / F.col("sigma")).alias("scaled"),
        grid_round4(
            (F.col("l_extendedprice") - F.col("mu")) / F.col("sigma")
        ).alias("standardized"),
    )


# =====================================================================
# Scalar functions (SURVEY.md §2.B "Scalar functions") — string / date /
# math / JSON over events.
# =====================================================================
@register(
    "scalar_functions",
    """
    SELECT event_id,
           upper(event_type)                         AS type_upper,
           substr(event_type, 1, 3)                  AS type_prefix,
           length(event_type)                        AS type_len,
           concat(event_type, ':', CAST(user_id AS VARCHAR)) AS type_user,
           CAST(year(ts) AS BIGINT)                  AS y,
           CAST(month(ts) AS BIGINT)                 AS m,
           CAST(day(ts) AS BIGINT)                   AS d,
           CAST(hour(ts) AS BIGINT)                  AS h,
           round(abs(value - 50), 4)                 AS abs_dev,
           round(sqrt(abs(value)), 4)                AS sqrt_val,
           round(ln(abs(value) + 1), 4)              AS log_val,
           round(power(value, 2), 4)                 AS sq_val,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
    FROM events
    """,
    "Scalar-function surface: string (upper/substr/length/concat), "
    "datetime (year/month/day/hour on UTC timestamps), math "
    "(abs/sqrt/ln/power/round), JSON extraction from a string column. "
    "All JVM-side whole-stage-codegen expressions — zero Python.",
    tags=("scalar",),
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.upper("event_type").alias("type_upper"),
        F.substring("event_type", 1, 3).alias("type_prefix"),
        F.length("event_type").cast("long").alias("type_len"),
        F.concat_ws(":", F.col("event_type"), F.col("user_id").cast("string")).alias(
            "type_user"
        ),
        F.year("ts").cast("long").alias("y"),
        F.month("ts").cast("long").alias("m"),
        F.dayofmonth("ts").cast("long").alias("d"),
        F.hour("ts").cast("long").alias("h"),
        F.round(F.abs(F.col("value") - 50), 4).alias("abs_dev"),
        F.round(F.sqrt(F.abs("value")), 4).alias("sqrt_val"),
        F.round(F.log(F.abs(F.col("value")) + 1), 4).alias("log_val"),
        F.round(F.pow("value", 2), 4).alias("sq_val"),
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )


@register(
    "case_when_bucketing",
    """
    SELECT CASE WHEN o_totalprice < 50000  THEN 'small'
                WHEN o_totalprice < 200000 THEN 'medium'
                ELSE 'large' END AS price_band,
           o_orderstatus,
           count(*) AS n,
           round(avg(o_totalprice), 4) AS avg_price
    FROM orders
    GROUP BY 1, 2
    """,
    "Multi-branch CASE WHEN (the generalization of the reference's A18 "
    "conjunctive override and A24 clamp) feeding an aggregate.",
    tags=("scalar",),
)
def case_when_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .otherwise("large")
    )
    return (
        orders.groupBy(band.alias("price_band"), F.col("o_orderstatus"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


@register(
    "in_subquery",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
      AND c_acctbal > 0
    """,
    "IN-subquery through the engine's SQL entry point — Catalyst "
    "rewrites it to a left-semi join (same plan as the DataFrame form).",
    tags=("sql", "join"),
)
def in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM {customer}
        WHERE c_custkey IN (SELECT o_custkey FROM {orders} WHERE o_totalprice > 400000)
          AND c_acctbal > 0
        """,
        customer=t(spark, sf_dir, "customer"),
        orders=t(spark, sf_dir, "orders"),
    )


@register(
    "scalar_subquery",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders
    WHERE o_totalprice > 1.8 * (SELECT avg(o_totalprice) FROM orders)
    """,
    "Scalar subquery: the inner aggregate computes once and broadcasts "
    "into the filter — no per-row recomputation.",
    tags=("sql",),
)
def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        FROM {orders}
        WHERE o_totalprice > 1.8 * (SELECT avg(o_totalprice) FROM {orders})
        """,
        orders=t(spark, sf_dir, "orders"),
    )


@register(
    "correlated_exists_subquery",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
    """,
    "Correlated EXISTS — decorrelated by Catalyst into a semi-join on "
    "the correlation key.",
    tags=("sql", "join"),
)
def correlated_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM {supplier}
        WHERE EXISTS (SELECT 1 FROM {lineitem}
                      WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
        """,
        supplier=t(spark, sf_dir, "supplier"),
        lineitem=t(spark, sf_dir, "lineitem"),
    )


@register(
    "percentile_stats",
    """
    SELECT l_returnflag,
           round(median(l_quantity), 4)                    AS median_qty,
           round(quantile_cont(l_quantity, 0.90), 4)       AS p90_qty,
           round(quantile_cont(l_extendedprice, 0.99), 4)  AS p99_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    "Exact interpolated percentiles (median/p90/p99) per group. The "
    "approximate twin (approx_aggregates, rows-only) is the 100 TB "
    "path — single-pass sketches, no per-group sort.",
    tags=("agg",),
)
def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median_qty"),
        F.round(F.expr("percentile(l_quantity, 0.90)"), 4).alias("p90_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99_price"),
    )


@register(
    "approx_aggregates",
    """
    SELECT CAST(count(DISTINCT l_partkey) AS BIGINT)  AS exact_parts,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS parts_within_bound,
           TRUE AS orders_within_bound,
           TRUE AS median_within_bound,
           TRUE AS p90_within_bound
    FROM lineitem
    """,
    "Approximate aggregates for interactive 100 TB queries: HLL++ "
    "approx_count_distinct and GK-sketch percentile_approx — one pass, "
    "bounded memory, no sort. Sketch values are engine-specific, so "
    "the DRIVER-CHECKABLE output is the exact values plus "
    "within-error-bound booleans: |HLL - exact| <= 3·rsd·exact, and "
    "the RANK of each approx percentile (count of values <= it) must "
    "sit within ±0.05·n of the target rank — the GK sketch's actual "
    "guarantee, verified by a one-pass conditional count instead of an "
    "exact-percentile sort (which regressed 15× at sf0.1). The oracle "
    "computes the same exact values and literal TRUEs — a hash match "
    "PROVES the sketches hit their bounds (VERDICT r1 item 7).",
    tags=("agg",),
)
def approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    # Pass 1: the sketches (one scan, partial aggs map-side).
    sketches = li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.05).alias("apx_parts"),
        F.approx_count_distinct("l_orderkey", rsd=0.05).alias("apx_orders"),
        F.percentile_approx("l_extendedprice", 0.5).alias("apx_med"),
        F.percentile_approx("l_quantity", 0.9).alias("apx_p90"),
    )
    # Pass 2: exact distincts + rank-position counts of the sketch
    # outputs (broadcast scalar probe, still no sort anywhere).
    return (
        li.crossJoin(F.broadcast(sketches))
        .agg(
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.countDistinct("l_orderkey").alias("exact_orders"),
            (
                F.abs(F.first("apx_parts") - F.countDistinct("l_partkey"))
                <= 0.15 * F.countDistinct("l_partkey")
            ).alias("parts_within_bound"),
            (
                F.abs(F.first("apx_orders") - F.countDistinct("l_orderkey"))
                <= 0.15 * F.countDistinct("l_orderkey")
            ).alias("orders_within_bound"),
            F.sum((F.col("l_extendedprice") <= F.col("apx_med")).cast("long"))
            .between(0.45 * F.count(F.lit(1)), 0.55 * F.count(F.lit(1)))
            .alias("median_within_bound"),
            F.sum((F.col("l_quantity") <= F.col("apx_p90")).cast("long"))
            .between(0.85 * F.count(F.lit(1)), 0.95 * F.count(F.lit(1)))
            .alias("p90_within_bound"),
        )
    )


@register(
    "unpivot_measures",
    """
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS value
    FROM lineitem WHERE l_orderkey % 199 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem WHERE l_orderkey % 199 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem WHERE l_orderkey % 199 = 0
    """,
    "Unpivot (wide→long) via stack() — the inverse of pivot_agg; "
    "planned as a generate, no shuffle.",
    tags=("relational",),
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 199 == 0)
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(3, 'quantity', l_quantity, 'discount', l_discount, 'tax', l_tax) AS (measure, value)",
    )


@register(
    "string_functions",
    """
    SELECT p_partkey,
           upper(p_name)                                   AS name_upper,
           replace(p_type, ' ', '_')                       AS type_snake,
           lpad(CAST(p_size AS VARCHAR), 4, '0')           AS size_padded,
           concat(p_brand, '/', p_type)                    AS brand_type,
           length(p_name)                                  AS name_len,
           position('Brand' IN p_brand)                    AS brand_pos,
           trim(concat('  ', p_name, '  '))                AS trimmed,
           reverse(p_brand)                                AS brand_rev,
           repeat(p_brand, 2)                              AS brand_twice
    FROM part
    """,
    "String-function surface (upper/replace/lpad/concat/length/"
    "position/trim/reverse/repeat) — all codegen'd JVM expressions.",
    tags=("scalar",),
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.concat(F.col("p_brand"), F.lit("/"), F.col("p_type")).alias("brand_type"),
        F.length("p_name").cast("long").alias("name_len"),
        F.instr(F.col("p_brand"), "Brand").cast("long").alias("brand_pos"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias("trimmed"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
        F.repeat(F.col("p_brand"), 2).alias("brand_twice"),
    )


@register(
    "date_functions",
    """
    SELECT o_orderkey,
           CAST(epoch(date_trunc('month', o_orderdate)) AS BIGINT) AS month_start_epoch,
           CAST(quarter(o_orderdate) AS BIGINT)                    AS qtr,
           CAST(epoch(o_orderdate + INTERVAL 30 DAY) AS BIGINT)    AS plus_30d_epoch,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS days_since_epoch_start,
           CAST(epoch(last_day(o_orderdate::DATE)::TIMESTAMP + INTERVAL 1 DAY - INTERVAL 1 DAY) AS BIGINT) AS month_end_epoch
    FROM orders
    """,
    "Datetime surface: truncation, quarter, interval arithmetic, day "
    "diffs, last-day — epoch-BIGINT projected for engine-portable "
    "comparison.",
    tags=("scalar",),
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.unix_timestamp(F.date_trunc("month", "o_orderdate")).alias(
            "month_start_epoch"
        ),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        F.unix_timestamp(
            F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        ).alias("plus_30d_epoch"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
        ).cast("long").alias("days_since_epoch_start"),
        F.unix_timestamp(
            F.last_day(F.col("o_orderdate")).cast("timestamp")
        ).alias("month_end_epoch"),
    )


@register(
    "array_agg_functions",
    """
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_csv,
           CAST(len(list(DISTINCT event_type)) AS BIGINT)             AS n_types
    FROM events
    GROUP BY user_id
    """,
    "Array aggregation: per-user distinct event-type vocabulary as a "
    "sorted CSV (engine-portable array comparison via array_join).",
    tags=("agg", "scalar"),
)
def array_agg_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias(
            "types_csv"
        ),
        F.size(F.collect_set("event_type")).cast("long").alias("n_types"),
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    "TPC-H Q6 shape: pure scan-filter-agg, every predicate pushed to "
    "parquet (range + BETWEEN + <) — the query where pushdown and "
    "column pruning are the entire cost model.",
    tags=("agg",),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q18_large_orders",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice,
           CAST(sum(l_quantity) AS DOUBLE) AS total_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderkey, o_totalprice
    HAVING sum(l_quantity) > 150
    """,
    "TPC-H Q18 shape: join + group + HAVING over the aggregate — the "
    "post-aggregation filter runs reducer-side on already-tiny groups.",
    tags=("agg", "join"),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(F.sum("l_quantity").cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


@register(
    "q19_disjunctive_predicates",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           count(*) AS n_matches
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 10)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity >= 30)
    """,
    "TPC-H Q19 shape: disjunctive multi-column predicates across both "
    "join sides — Catalyst keeps the common join key conjunct, "
    "broadcast part, evaluate the OR post-join.",
    tags=("join",),
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), part.p_partkey == li.l_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & (F.col("l_quantity") >= 10))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & (F.col("l_quantity") >= 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & (F.col("l_quantity") >= 30))
    )
    return joined.filter(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_matches"),
    )


@register(
    "salted_aggregation",
    """
    SELECT l_returnflag,
           round(CAST(sum(l_quantity) AS DOUBLE), 4) AS total,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    "Skew-safe two-stage aggregation: partial sums per (key, salt) "
    "spread a hot key over n reducers, then a final tiny re-agg per "
    "key. Semantically identical to the plain groupBy (the oracle IS "
    "the plain groupBy); the two-stage plan is the 100 TB-hot-key form.",
    tags=("agg", "skew"),
)
def salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    out = K.salted_sum_count(li, ["l_returnflag"], "l_quantity", n_salts=16)
    return out.select(
        "l_returnflag",
        F.round(F.col("total").cast("double"), 4).alias("total"),
        "n_rows",
    )


@register(
    "map_functions",
    """
    SELECT event_id,
           array_to_string(json_keys(props), ',')                  AS prop_keys,
           CAST(len(json_keys(props)) AS BIGINT)                   AS n_keys,
           CAST(json_extract_string(props, '$.k') AS BIGINT)       AS k_value
    FROM events
    """,
    "MapType surface: parse the JSON props column into map<string,string> "
    "(from_json), then map_keys/size/element access — Spark's map "
    "functions against DuckDB's JSON introspection.",
    tags=("scalar",),
)
def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    return ev.select(
        "event_id",
        F.array_join(F.map_keys(m), ",").alias("prop_keys"),
        F.size(F.map_keys(m)).cast("long").alias("n_keys"),
        m["k"].cast("long").alias("k_value"),
    )


@register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    "TPC-H Q4 shape: date-windowed EXISTS semi-join then tiny agg — "
    "the semi-join build side reduces to distinct orderkeys.",
    tags=("join", "agg"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS order_count
        FROM {orders}
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate <  TIMESTAMP '1996-10-01'
          AND EXISTS (SELECT 1 FROM {lineitem}
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
        """,
        orders=t(spark, sf_dir, "orders"),
        lineitem=t(spark, sf_dir, "lineitem"),
    )


@register(
    "q7_nation_trade_flows",
    """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE sn.n_name <> cn.n_name
    GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
    """,
    "TPC-H Q7 shape: cross-nation trade flows — nation joined twice "
    "under different aliases (both broadcast), grouped by an extracted "
    "year.",
    tags=("join", "agg"),
)
def q7_nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    sn = nation.alias("sn")
    cn = nation.alias("cn")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), supp.s_nationkey == F.col("sn.n_nationkey"))
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cn.n_nationkey"))
        .filter(F.col("sn.n_name") != F.col("cn.n_name"))
        .groupBy(
            F.col("sn.n_name").alias("supp_nation"),
            F.col("cn.n_name").alias("cust_nation"),
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@register(
    "q12_priority_shipping",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus
    """,
    "TPC-H Q12 shape: conditional-sum pivoting on a joined attribute "
    "(CASE-in-aggregate, the pre-FILTER idiom).",
    tags=("join", "agg"),
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q17_small_quantity_revenue",
    """
    SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#5'
      AND l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = lineitem.l_partkey)
    """,
    "TPC-H Q17 shape: correlated scalar aggregate subquery per part — "
    "Catalyst decorrelates to an aggregate + join on partkey.",
    tags=("join", "agg", "sql"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
        FROM {lineitem} lineitem JOIN {part} ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#5'
          AND l_quantity < (SELECT 0.5 * avg(l_quantity) FROM {lineitem} l2
                            WHERE l2.l_partkey = lineitem.l_partkey)
        """,
        lineitem=t(spark, sf_dir, "lineitem"),
        part=t(spark, sf_dir, "part"),
    )


@register(
    "q22_inactive_rich_customers",
    """
    SELECT substr(c_name, 1, 9) AS name_prefix,
           count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    GROUP BY substr(c_name, 1, 9)
    """,
    "TPC-H Q22 shape: scalar-subquery threshold + anti-join + "
    "substring grouping — 'rich customers with no open orders' "
    "composition.",
    tags=("join", "agg", "sql"),
)
def q22_inactive_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT substr(c_name, 1, 9) AS name_prefix,
               count(*) AS numcust,
               round(sum(c_acctbal), 2) AS totacctbal
        FROM {customer}
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM {customer} WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM {orders}
                          WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        GROUP BY substr(c_name, 1, 9)
        """,
        customer=t(spark, sf_dir, "customer"),
        orders=t(spark, sf_dir, "orders"),
    )


@register(
    "set_ops_bag",
    """
    SELECT CAST(l_quantity AS DOUBLE) AS qty FROM lineitem WHERE l_returnflag = 'A'
    INTERSECT ALL
    SELECT CAST(l_quantity AS DOUBLE) AS qty FROM lineitem WHERE l_returnflag = 'R'
    """,
    "Bag-semantics INTERSECT ALL (multiplicity-preserving) — Spark's "
    "intersectAll; complements the distinct-set ops in set_ops.",
    tags=("setop",),
)
def set_ops_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select(
        F.col("l_quantity").cast("double").alias("qty")
    )
    r = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_quantity").cast("double").alias("qty")
    )
    return a.intersectAll(r)


@register(
    "bitwise_functions",
    """
    SELECT o_orderkey,
           o_orderkey & 255                   AS low_byte,
           o_orderkey | 15                    AS with_low_bits,
           xor(o_orderkey, 255)               AS xored,
           CAST(o_orderkey << 2 AS BIGINT)    AS shifted_left,
           CAST(o_orderkey >> 3 AS BIGINT)    AS shifted_right
    FROM orders
    WHERE o_orderkey % 101 = 0
    """,
    "Bitwise scalar surface (& | xor << >>) — hash-bucketing building "
    "blocks, all codegen'd.",
    tags=("scalar",),
)
def bitwise_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 101 == 0)
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(255).alias("low_byte"),
        k.bitwiseOR(15).alias("with_low_bits"),
        k.bitwiseXOR(255).alias("xored"),
        F.shiftleft(k, 2).cast("long").alias("shifted_left"),
        F.shiftright(k, 3).cast("long").alias("shifted_right"),
    )


@register(
    "grouped_pandas_zscore",
    """
    WITH stats AS (
        SELECT event_type,
               avg(value) AS mu,
               stddev_samp(value) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           round((e.value - s.mu) / s.sigma, 4) AS zscore
    FROM events e JOIN stats s ON e.event_type = s.event_type
    """,
    "Grouped-map pandas UDF (applyInPandas): per-event-type z-scores "
    "computed in vectorized pandas per group — the custom-operator "
    "escape hatch, oracle-checked against the pure-SQL window form. "
    "One shuffle on the grouping key; Arrow both directions.",
    tags=("udf",),
)
def grouped_pandas_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["value"].mean()
        sigma = pdf["value"].std(ddof=1)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "zscore": ((pdf["value"] - mu) / sigma).round(4),
            }
        )

    return ev.groupBy("event_type").applyInPandas(
        zscore, schema="event_id long, event_type string, zscore double"
    )


@register(
    "correlation_stats",
    """
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6)        AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4)  AS qty_price_covar,
           round(covar_pop(l_quantity, l_extendedprice), 4)   AS qty_price_covar_pop,
           round(var_samp(l_quantity), 6)                     AS qty_variance
    FROM lineitem
    GROUP BY l_returnflag
    """,
    "Statistical co-aggregates (Pearson corr, sample/population "
    "covariance, variance) per group — single-pass streaming moments, "
    "partial-aggregated like any other agg.",
    tags=("agg",),
)
def correlation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_covar"
        ),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_covar_pop"
        ),
        F.round(F.var_samp("l_quantity"), 6).alias("qty_variance"),
    )


@register(
    "frequent_items",
    """
    WITH n AS (SELECT count(*) AS n FROM lineitem),
    rf AS (SELECT l_returnflag AS v, count(*) AS c FROM lineitem GROUP BY 1),
    ls AS (SELECT l_linestatus AS v, count(*) AS c FROM lineitem GROUP BY 1)
    SELECT coalesce((SELECT string_agg(v, ',' ORDER BY v) FROM rf, n WHERE c > 0.3 * n), '') AS heavy_returnflags,
           coalesce((SELECT string_agg(v, ',' ORDER BY v) FROM ls, n WHERE c > 0.3 * n), '') AS heavy_linestatuses,
           TRUE AS returnflags_covered,
           TRUE AS linestatuses_covered
    FROM n
    """,
    "Frequent-item sketch (df.stat.freqItems, Karp/misra-gries style) "
    "over lineitem flags — the one-pass heavy-hitters primitive for "
    "100 TB cardinality profiling. The sketch may contain false "
    "positives, so the DRIVER-CHECKABLE output is the EXACT heavy "
    "hitters (freq > 0.3) plus booleans asserting the sketch "
    "(support=0.2) contains every one of them — freqItems' documented "
    "guarantee. Oracle emits the same exact lists + literal TRUEs "
    "(VERDICT r1 item 7).",
    tags=("agg",),
)
def frequent_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    sketch = li.stat.freqItems(["l_returnflag", "l_linestatus"], support=0.2)
    exact = li.agg(F.count(F.lit(1)).alias("n"))
    heavy_rf = (
        li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(exact))
        .filter(F.col("c") > 0.3 * F.col("n"))
        .agg(F.sort_array(F.collect_list("l_returnflag")).alias("heavy_rf"))
    )
    heavy_ls = (
        li.groupBy("l_linestatus")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(exact))
        .filter(F.col("c") > 0.3 * F.col("n"))
        .agg(F.sort_array(F.collect_list("l_linestatus")).alias("heavy_ls"))
    )
    return (
        sketch.crossJoin(F.broadcast(heavy_rf))
        .crossJoin(F.broadcast(heavy_ls))
        .select(
            F.array_join("heavy_rf", ",").alias("heavy_returnflags"),
            F.array_join("heavy_ls", ",").alias("heavy_linestatuses"),
            (
                F.size(F.array_except("heavy_rf", "l_returnflag_freqItems")) == 0
            ).alias("returnflags_covered"),
            (
                F.size(F.array_except("heavy_ls", "l_linestatus_freqItems")) == 0
            ).alias("linestatuses_covered"),
        )
    )


@register(
    "union_by_name",
    """
    SELECT o_orderkey AS key, 'order' AS kind,
           round(o_totalprice, 2) AS amount, o_orderpriority AS detail
    FROM orders WHERE o_orderkey % 211 = 0
    UNION ALL BY NAME
    SELECT l_orderkey AS key, 'line' AS kind,
           round(l_extendedprice, 2) AS amount, NULL AS detail
    FROM lineitem WHERE l_orderkey % 211 = 0 AND l_linenumber = 1
    """,
    "unionByName with allowMissingColumns — schema-aligned union of "
    "heterogeneous frames (missing columns null-padded), the safe "
    "union for evolving schemas.",
    tags=("setop",),
)
def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 211 == 0)
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_orderkey") % 211 == 0) & (F.col("l_linenumber") == 1)
    )
    a = orders.select(
        F.col("o_orderkey").alias("key"),
        F.lit("order").alias("kind"),
        F.round("o_totalprice", 2).alias("amount"),
        F.col("o_orderpriority").alias("detail"),
    )
    b = li.select(
        F.col("l_orderkey").alias("key"),
        F.lit("line").alias("kind"),
        F.round("l_extendedprice", 2).alias("amount"),
    )
    return a.unionByName(b, allowMissingColumns=True)


@register(
    "grouping_sets_explicit",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_extendedprice), 2) AS sum_price,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    "Explicit GROUPING SETS (neither rollup nor cube): per-flag, "
    "per-status, and grand-total rows from one Expand + one hash agg.",
    tags=("agg",),
)
def grouping_sets_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_extendedprice), 2) AS sum_price,
               count(*) AS n
        FROM {lineitem}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        lineitem=t(spark, sf_dir, "lineitem"),
    )


@register(
    "serialize_functions",
    """
    SELECT o_orderkey,
           to_json(struct_pack(k := o_orderkey, status := o_orderstatus)) AS as_json,
           hex(o_orderkey)                                                AS key_hex,
           base64(encode(o_orderstatus))                                  AS status_b64
    FROM orders WHERE o_orderkey % 307 = 0
    """,
    "Serialization surface: struct -> JSON string, hex encoding, "
    "base64 — the interchange primitives for export pipelines.",
    tags=("scalar",),
)
def serialize_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 307 == 0)
    return o.select(
        "o_orderkey",
        F.to_json(
            F.struct(F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("status"))
        ).alias("as_json"),
        F.hex(F.col("o_orderkey")).alias("key_hex"),
        F.base64(F.col("o_orderstatus").cast("binary")).alias("status_b64"),
    )


@register(
    "explode_outer_generator",
    """
    WITH arrs AS (
        SELECT l_orderkey,
               list_filter(list(CASE WHEN l_quantity >= 50 THEN l_linenumber END),
                           x -> x IS NOT NULL) AS big_lines
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           CAST(unnest(CASE WHEN len(big_lines) = 0 THEN [NULL] ELSE big_lines END) AS BIGINT) AS big_linenumber
    FROM arrs
    """,
    "explode_outer: generator that PRESERVES rows whose array is empty "
    "(a NULL row instead of dropping the parent) — here, every order "
    "keeps a row even when it has no max-quantity lineitems.",
    tags=("relational", "scalar"),
)
def explode_outer_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    arrs = li.groupBy("l_orderkey").agg(
        F.collect_list(
            F.when(F.col("l_quantity") >= 50, F.col("l_linenumber"))
        ).alias("big_lines")
    )
    return arrs.select(
        "l_orderkey", F.explode_outer("big_lines").alias("__ln")
    ).select("l_orderkey", F.col("__ln").cast("long").alias("big_linenumber"))


@register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-07-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    "TPC-H Q10 shape: returned-item revenue per customer — join chain "
    "with broadcast dims, agg, top-20 via TakeOrderedAndProject.",
    tags=("join", "agg"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q14_promo_share",
    """
    SELECT round(
             100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1997-02-01'
    """,
    "TPC-H Q14 shape: conditional revenue share (promo percentage) — "
    "two conditional sums in one pass over the broadcast-part join.",
    tags=("join", "agg"),
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp"))
    )
    part = t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q15_top_supplier",
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               sum(l_extendedprice * (1 - l_discount)) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(total_revenue, 4) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    "TPC-H Q15 shape: derived revenue view + scalar-subquery max — the "
    "view computes once; Catalyst reuses the aggregate for both the "
    "join and the max.",
    tags=("join", "agg", "sql"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   sum(l_extendedprice * (1 - l_discount)) AS total_revenue
            FROM {lineitem}
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1997-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, round(total_revenue, 4) AS total_revenue
        FROM {supplier} JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        """,
        lineitem=t(spark, sf_dir, "lineitem"),
        supplier=t(spark, sf_dir, "supplier"),
    )


@register(
    "null_semantics_functions",
    """
    SELECT l_orderkey, l_linenumber,
           (nullif(l_discount, 0.0) IS NOT DISTINCT FROM nullif(l_tax, 0.0)) AS discount_eq_tax_nullsafe,
           round(least(l_discount, l_tax), 2)    AS lesser_rate,
           round(greatest(l_discount, l_tax), 2) AS greater_rate,
           coalesce(nullif(l_returnflag, 'N'), 'NONE') AS flag_or_none,
           split_part(l_returnflag || '|' || l_linestatus, '|', 2) AS status_part
    FROM lineitem WHERE l_orderkey % 157 = 0
    """,
    "NULL-semantics surface: nullif, null-safe equality (<=> / IS NOT "
    "DISTINCT FROM), least/greatest, coalesce chains, split_part.",
    tags=("scalar",),
)
def null_semantics_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 157 == 0)
    d0 = F.nullif(F.col("l_discount"), F.lit(0.0))
    t0 = F.nullif(F.col("l_tax"), F.lit(0.0))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        d0.eqNullSafe(t0).alias("discount_eq_tax_nullsafe"),
        F.round(F.least("l_discount", "l_tax"), 2).alias("lesser_rate"),
        F.round(F.greatest("l_discount", "l_tax"), 2).alias("greater_rate"),
        F.coalesce(F.nullif(F.col("l_returnflag"), F.lit("N")), F.lit("NONE")).alias(
            "flag_or_none"
        ),
        F.split_part(
            F.concat(F.col("l_returnflag"), F.lit("|"), F.col("l_linestatus")),
            F.lit("|"),
            F.lit(2),
        ).alias("status_part"),
    )


@register(
    "classification_metrics",
    """
    WITH scored AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y,
               CAST(o_orderkey % 97 AS DOUBLE) / 97.0 AS p
        FROM orders
    ),
    ranked AS (
        SELECT y, p,
               rank() OVER (ORDER BY p)
                   + (count(*) OVER (PARTITION BY p) - 1) / 2.0 AS r
        FROM scored
    )
    SELECT (sum(CASE WHEN y = 1.0 THEN r ELSE 0 END) - sum(y) * (sum(y) + 1) / 2)
               / (sum(y) * (count(*) - sum(y))) AS auc,
           (SELECT avg(CASE WHEN (CASE WHEN p >= 0.5 THEN 1.0 ELSE 0.0 END) = y
                            THEN 1.0 ELSE 0.0 END)
            FROM scored) AS accuracy
    FROM ranked
    """,
    "A19/A20 evaluator twins, driver-checked end to end: exact ROC-AUC "
    "via the TWO-PHASE distributed rank-sum (range partition on the "
    "score -> per-partition row_number + broadcast offsets -> tie "
    "averaging by groupBy; NO single-partition window, VERDICT r1 item "
    "6) and accuracy as mean-of-indicator. The scored set is a "
    "deterministic function of orders (y = status F, p = orderkey mod "
    "97 scaled — 97 distinct scores force heavy tie groups), and every "
    "term is integer/half-integer so the doubles are exact across "
    "engines.",
    tags=("ml-twin", "metrics"),
)
def classification_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    scored = orders.select(
        F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0).alias("y"),
        ((F.col("o_orderkey") % 97).cast("double") / 97.0).alias("p"),
    )
    auc = MET.auc_rank_sum_df(scored, "y", "p")
    acc = scored.agg(
        F.avg(
            ((F.col("p") >= 0.5).cast("double") == F.col("y")).cast("double")
        ).alias("accuracy")
    )
    return auc.crossJoin(F.broadcast(acc))


@register(
    "q8_market_share",
    """
    SELECT o_year,
           round(CAST(sum(CASE WHEN nation = 'BRAZIL' THEN volume ELSE 0 END)
                      / sum(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
        SELECT EXTRACT(year FROM o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               n2.n_name AS nation
        FROM part, supplier, lineitem, orders, customer,
             nation n1, nation n2, region
        WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
          AND l_orderkey = o_orderkey AND o_custkey = c_custkey
          AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
          AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
          AND p_type = (SELECT min(p_type) FROM part)
    ) AS all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    "TPC-H Q8 market share: 8-table star join — lineitem⋈orders "
    "shuffles on orderkey, EVERY dimension (part, supplier, customer, "
    "both nation roles, region) broadcasts, then a tiny per-year "
    "conditional aggregate. The p_type probe is a broadcast scalar "
    "subquery (min type keeps the filter deterministic on synthetic "
    "data). The canonical 100 TB fact-to-many-dims plan.",
    tags=("tpch", "join"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    part = t(spark, sf_dir, "part")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")

    sel_type = part.agg(F.min("p_type").alias("sel_type"))
    parts = (
        part.join(F.broadcast(sel_type), part.p_type == sel_type.sel_type)
        .select("p_partkey")
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("nation")
    )
    amer = region.filter(F.col("r_name") == "AMERICA").select(
        F.col("r_regionkey").alias("c_rkey")
    )
    joined = (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(amer), "c_rkey")
        .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")),
              li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "nation",
        )
    )
    return (
        joined.groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "BRAZIL", F.col("volume")).otherwise(0.0))
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "q13_customer_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
        SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        FROM customer LEFT OUTER JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '1-%'
        GROUP BY c_custkey
    ) AS c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    "TPC-H Q13 customer order distribution: left outer join with a "
    "non-equi residual (spec filters o_comment NOT LIKE "
    "'%special%requests%'; the fixture carries no comment column, so "
    "the same shape filters priority NOT LIKE '1-%'), double "
    "aggregation — "
    "the inner groupBy rides the join's custkey partitioning (no "
    "second shuffle of the big side), the outer histogram groupBy "
    "moves only (c_count) pairs.",
    tags=("tpch", "join", "agg"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    per_cust = (
        cust.select("c_custkey")
        .join(
            orders.filter(~F.col("o_orderpriority").like("1-%")).select(
                "o_custkey", "o_orderkey"
            ),
            cust.c_custkey == F.col("o_custkey"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q21_waiting_suppliers",
    """
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier, lineitem l1, orders o1, nation
    WHERE s_suppkey = l1.l_suppkey
      AND o1.o_orderkey = l1.l_orderkey AND o1.o_orderstatus = 'F'
      AND l1.l_shipdate > o1.o_orderdate + INTERVAL 100 DAY
      AND EXISTS (SELECT * FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT * FROM lineitem l3, orders o3
                      WHERE o3.o_orderkey = l3.l_orderkey
                        AND l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o3.o_orderdate + INTERVAL 100 DAY)
      AND s_nationkey = n_nationkey
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    "TPC-H Q21 suppliers who kept orders waiting: the hardest "
    "correlated shape. The EXISTS (another supplier on the order) and "
    "NOT EXISTS (no OTHER supplier was late) subqueries decorrelate "
    "into per-order DISTINCT-supplier counts — exists-other ⟺ the "
    "order has ≥2 distinct suppliers; no-other-late ⟺ its distinct "
    "LATE-supplier set is exactly {self} ⟺ count = 1, since the "
    "candidate is itself late. That replaces the textbook semi+anti "
    "self-joins (which shuffle the full lineitem table three times — "
    "measured 4.3x wall at a 10x fact scale-up, the join tier's worst "
    "ratio) with ONE orderkey shuffle whose partitioning the "
    "downstream aggregate and back-join both reuse; supplier and "
    "nation broadcast. (Spec defines late as receipt > commit; the "
    "fixture carries neither column, so late = shipped >100 days "
    "after the order date — the identical plan shape.)",
    tags=("tpch", "join", "subquery"),
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")

    # Both subqueries range over lineitems of the SAME order as the
    # candidate, and candidates only come from status-F orders — so
    # restrict to F-orders before the one lineitem⋈orders shuffle.
    flagged = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(
            orders.filter(F.col("o_orderstatus") == "F").select(
                "o_orderkey", "o_orderdate"
            ),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .withColumn(
            "late",
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 100 DAYS"),
        )
        .select("l_orderkey", "l_suppkey", "late")
    )
    per_order = flagged.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    waiting = (
        flagged.filter(F.col("late"))
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    return (
        waiting.join(F.broadcast(supp.select("s_suppkey", "s_name", "s_nationkey")),
                     F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation.select("n_nationkey")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )


@register(
    "stratified_sample_systematic",
    """
    WITH ranked AS (
      SELECT l_returnflag, l_orderkey, l_linenumber,
             row_number() OVER (
               PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber
             ) AS rn
      FROM lineitem
    )
    SELECT l_returnflag, l_orderkey, l_linenumber, rn
    FROM ranked WHERE rn % 20 = 1
    """,
    "Deterministic stratified (systematic) sampling: every 20th row "
    "per stratum under a total per-stratum order — exact 5% per class, "
    "reproducible across runs/engines, unlike sample()'s Bernoulli "
    "draw (deterministic_sample covers that). The class-balanced "
    "train-set downsampler. Scale shape: one shuffle on the stratum "
    "key; the within-stratum row_number is the only serial-per-stratum "
    "step, so strata must be finer than executor count at 100 TB — "
    "compose the stratum key with a hash prefix (as salted_aggregation "
    "does) when a class dominates.",
    tags=("sampling",),
)
def stratified_sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_returnflag").orderBy("l_orderkey", "l_linenumber")
    return (
        li.select(
            "l_returnflag",
            "l_orderkey",
            "l_linenumber",
            F.row_number().over(w).alias("rn"),
        )
        .filter((F.col("rn") % 20) == 1)
    )


@register(
    "skew_join_salted",
    """
    SELECT s_name, CAST(count(*) AS BIGINT) AS n_li,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem JOIN supplier
      ON s_suppkey = CASE WHEN l_suppkey % 10 <> 0 THEN 1 ELSE l_suppkey END
    GROUP BY s_name
    """,
    "Skewed shuffle join made uniform by SALTING: ~90% of lineitem "
    "rows are remapped to one hot supplier key (synthetic skew), the "
    "fact side adds salt = l_orderkey % 16, the dim side is replicated "
    "16x, and the join runs on (key, salt) — the hot key spreads over "
    "16 tasks instead of one straggler. A shuffle-hash hint forces the "
    "non-broadcast path so the salting is actually exercised (with "
    "broadcast the skew never materializes — which IS the first-choice "
    "fix when the dim fits in memory). The oracle is the plain "
    "unsalted join, proving salting changes the schedule, not the "
    "answer. At 100 TB: AQE skew-split handles moderate skew "
    "(PERF.md); explicit salting is for the pathological keys AQE "
    "can't split below target size.",
    tags=("join", "skew"),
)
def skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        F.expr(
            "CASE WHEN l_suppkey % 10 <> 0 THEN CAST(1 AS BIGINT) ELSE CAST(l_suppkey AS BIGINT) END"
        ).alias("sk"),
        (F.col("l_orderkey") % 16).cast("long").alias("salt"),
        "l_extendedprice",
    )
    sup = (
        t(spark, sf_dir, "supplier")
        .select(F.col("s_suppkey").cast("long").alias("s_suppkey"), "s_name")
        .crossJoin(spark.range(16).select(F.col("id").alias("salt")))
    )
    joined = li.join(
        sup.hint("shuffle_hash"),
        (li["sk"] == sup["s_suppkey"]) & (li["salt"] == sup["salt"]),
    )
    return joined.groupBy("s_name").agg(
        F.count(F.lit(1)).alias("n_li"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


@register(
    "null_safe_join",
    """
    WITH l AS (
      SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_custkey % 50 END AS k,
             CAST(count(*) AS BIGINT) AS n_l
      FROM orders GROUP BY 1
    ), r AS (
      SELECT CASE WHEN c_custkey % 11 = 0 THEN NULL
                  ELSE c_custkey % 50 END AS k,
             CAST(count(*) AS BIGINT) AS n_r
      FROM customer GROUP BY 1
    )
    SELECT l.k AS k, l.n_l AS n_l, r.n_r AS n_r
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    """,
    "NULL-safe equi-join (eqNullSafe / IS NOT DISTINCT FROM): both "
    "sides carry an engineered NULL key class, and the null-safe "
    "predicate matches NULL to NULL — one row here vs zero under "
    "plain equality. The entity-resolution join where 'unknown' is a "
    "legitimate key. Scale: eqNullSafe stays a hash-join key "
    "(coalesce-to-sentinel is NOT needed); both sides pre-aggregate "
    "before the join so the shuffle carries one row per key class.",
    tags=("join", "null"),
)
def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        t(spark, sf_dir, "orders")
        .select(
            F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
            .otherwise(F.col("o_custkey") % 50)
            .alias("k")
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_l"))
    )
    c = (
        t(spark, sf_dir, "customer")
        .select(
            F.when(F.col("c_custkey") % 11 == 0, F.lit(None))
            .otherwise(F.col("c_custkey") % 50)
            .alias("k")
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_r"))
    )
    return o.join(c, o["k"].eqNullSafe(c["k"])).select(
        o["k"].alias("k"), "n_l", "n_r"
    )


@register(
    "pandas_scalar_udf_score",
    """
    SELECT l_orderkey, l_linenumber,
           round(1.0 / (1.0 + exp(-((l_quantity - 25.0) / 10.0
                                    + l_discount * 5.0 - l_tax * 3.0))), 6)
             AS score
    FROM lineitem WHERE l_orderkey % 4 = 0
    """,
    "Vectorized SCALAR pandas UDF (Arrow batches, numpy sigmoid) — "
    "the third leg of the UDF tier next to applyInPandas "
    "(grouped_pandas_zscore) and mapInArrow (multimodal_features). "
    "The logistic scoring kernel a model-inference pipeline runs when "
    "the model lives in Python. This one IS expressible with builtin "
    "exp() — which is exactly what makes it oracle-checkable: the "
    "DuckDB twin computes the same closed form, so the hash match "
    "proves the Arrow round-trip is value-exact. Plan test asserts "
    "ArrowEvalPython (never row-at-a-time BatchEvalPython). Scale: "
    "Arrow transfer is columnar and zero-copy into numpy; batch size "
    "via spark.sql.execution.arrow.maxRecordsPerBatch.",
    tags=("udf",),
)
def pandas_scalar_udf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    # No type hints on the kernel: with ``from __future__ import
    # annotations`` in this module, hint strings can't resolve the
    # locally-imported pandas; the un-hinted form is inferred SCALAR.
    sigmoid = pandas_udf(lambda z: 1.0 / (1.0 + np.exp(-z)), "double")

    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 4 == 0)
    z = (
        (F.col("l_quantity") - F.lit(25.0)) / F.lit(10.0)
        + F.col("l_discount") * F.lit(5.0)
        - F.col("l_tax") * F.lit(3.0)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(sigmoid(z), 6).alias("score"),
    )


@register(
    "merge_upsert",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderdate < TIMESTAMP '1997-01-01'
    ), updates AS (
      SELECT o_orderkey, 'R' AS o_orderstatus,
             round(o_totalprice * 1.1, 3) AS o_totalprice
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderkey % 3 = 0
    ), merged AS (
      SELECT b.* FROM base b
      WHERE NOT EXISTS (SELECT 1 FROM updates u
                        WHERE u.o_orderkey = b.o_orderkey)
      UNION ALL
      SELECT * FROM updates
    )
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 3) AS total
    FROM merged GROUP BY o_orderstatus
    """,
    "MERGE INTO emulation (operators/upsert.py::upsert): updates win "
    "on key collision via left-anti join, inserts append via "
    "unionByName — the standard lakehouse-free upsert on plain "
    "parquet. Base = pre-1997 orders; updates = every third post-1997 "
    "key restated (status 'R', price +10%). The oracle recomputes the "
    "same MERGE with NOT EXISTS + UNION ALL, so the hash proves "
    "collision semantics exactly. Scale: one shuffle on the key for "
    "the anti-join (zero if base and updates are bucketed on it — "
    "tests/test_upsert.py asserts the bucketed no-exchange plan).",
    tags=("upsert",),
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.upsert import upsert

    o = t(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderkey") % 3 == 0)
        )
        .select(
            "o_orderkey",
            F.lit("R").alias("o_orderstatus"),
            # 2dp money x 1.1 sits on a 3dp grid — round AT the grid
            # (2dp would straddle the HALF_UP/binary boundary).
            F.round(F.col("o_totalprice") * 1.1, 3).alias("o_totalprice"),
        )
    )
    merged = upsert(base, updates, "o_orderkey")
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 3).alias("total"),
    )


@register(
    "variant_functions",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
           CAST(NULL AS BIGINT)                       AS missing_val,
           (json_extract(props, '$.k') IS NULL)       AS k_is_null
    FROM events WHERE event_id % 17 = 0
    """,
    "Spark 4 VARIANT type: parse_json into a binary variant once, then "
    "typed path access with variant_get / try_variant_get (missing "
    "path -> NULL, no error). Variant is the semi-structured scan "
    "format that replaces per-query JSON string re-parsing — at 100 TB "
    "the parse happens once at ingest and every downstream path access "
    "is a binary probe. The DuckDB oracle uses its native JSON "
    "extraction over the same props column.",
    tags=("scalar", "json", "variant"),
)
def variant_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("event_id") % 17 == 0)
    return ev.select(
        "event_id",
        F.expr("variant_get(parse_json(props), '$.k', 'long')").alias("k_val"),
        F.expr("try_variant_get(parse_json(props), '$.missing', 'long')").alias(
            "missing_val"
        ),
        F.expr("variant_get(parse_json(props), '$.k', 'long')")
        .isNull()
        .alias("k_is_null"),
    )


@register(
    "xml_serialize_roundtrip",
    """
    SELECT o_orderkey, o_orderstatus AS xml_status, o_totalprice AS xml_price
    FROM orders WHERE o_orderkey % 50 = 0
    """,
    "XML serialization round-trip: to_xml(struct) -> from_xml(schema) "
    "must reproduce the input values exactly — including doubles, "
    "whose shortest-decimal text form round-trips losslessly. The "
    "oracle selects the ORIGINAL columns, so a hash match proves the "
    "XML writer/parser pair loses nothing. Per-row projection, "
    "map-only at scale (the XML interchange path for feeds that "
    "aren't parquet).",
    tags=("scalar", "xml", "serialize"),
)
def xml_serialize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    xml = F.to_xml(F.struct(F.col("o_orderstatus"), F.col("o_totalprice")))
    parsed = F.from_xml(xml, "o_orderstatus STRING, o_totalprice DOUBLE")
    return o.select(
        "o_orderkey",
        parsed.getField("o_orderstatus").alias("xml_status"),
        parsed.getField("o_totalprice").alias("xml_price"),
    )


@register(
    "try_arithmetic_functions",
    """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity = 25 THEN NULL
                ELSE CAST(floor(l_extendedprice / (l_quantity - 25)
                                * 10000.0 + 0.5) / 10000.0 AS DOUBLE)
           END AS safe_ratio,
           CASE WHEN l_orderkey >= 2 THEN NULL
                ELSE CAST(l_orderkey * 4611686018427387904 AS BIGINT)
           END AS overflow_mul,
           CASE WHEN l_orderkey >= 1 THEN NULL
                ELSE CAST(l_orderkey + 9223372036854775807 AS BIGINT)
           END AS overflow_add
    FROM lineitem WHERE l_orderkey % 97 = 0
    """,
    "ANSI error-safe arithmetic (try_divide / try_multiply / try_add): "
    "engineered zero denominators and int64 overflows return NULL "
    "instead of failing the job — the semantics batch pipelines need "
    "under Spark 4's ANSI-on default, where a single bad row would "
    "otherwise kill a 100 TB stage. The oracle spells out the "
    "equivalent guarded CASE expressions; the ratio uses the "
    "grid-stable floor rounding.",
    tags=("scalar", "ansi"),
)
def try_arithmetic_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 97 == 0)
    ratio = F.expr("try_divide(l_extendedprice, l_quantity - 25)")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(ratio * 10000.0 + 0.5) / 10000.0)
        .cast("double")
        .alias("safe_ratio"),
        F.expr("try_multiply(l_orderkey, 4611686018427387904L)").alias(
            "overflow_mul"
        ),
        F.expr("try_add(l_orderkey, 9223372036854775807L)").alias("overflow_add"),
    )


# ---------------------------------------------------------------------
# Synthetic partsupp: the fixtures omit TPC-H's partsupp table, which
# blocks q2/q9/q11/q16/q20. Both engines DERIVE an identical partsupp
# from part x {0..3} with the official generator's supplier-spreading
# formula (TPC-H spec 4.2.3: suppkey = (p + i*(S/4 + p/S)) mod S) and
# integer-derived cost/qty — pure int64 arithmetic plus one division
# by 100, so every value is bit-identical across engines. This
# completes the 22-query TPC-H shape coverage on the fixture surface.
# ---------------------------------------------------------------------
_PARTSUPP_CTE = """
    sc AS (SELECT count(*) AS s_total FROM supplier),
    g AS (SELECT unnest(generate_series(0, 3)) AS i),
    partsupp AS (
      SELECT p_partkey AS ps_partkey,
             (p_partkey + i * ((s_total // 4) + (p_partkey // s_total)))
               % s_total AS ps_suppkey,
             CAST((p_partkey * 7 + i * 13) % 9999 + 1 AS BIGINT) AS ps_availqty,
             CAST((p_partkey * 29 + i * 37) % 20000 AS DOUBLE) / 100.0 + 1.0
               AS ps_supplycost
      FROM part CROSS JOIN g CROSS JOIN sc
    )
"""


def _synth_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark leg of the shared partsupp derivation (see _PARTSUPP_CTE).

    part x 4 via a broadcast range — map-side row expansion, no
    shuffle. The supplier count rides along as a broadcast 1-row agg
    (never a driver-side ``.count()`` scalar)."""
    part = t(spark, sf_dir, "part").select("p_partkey")
    s_cnt = (
        t(spark, sf_dir, "supplier")
        .agg(F.count(F.lit(1)).cast("long").alias("s_total"))
    )
    i4 = spark.range(4).select(F.col("id").alias("i"))
    return (
        part.crossJoin(F.broadcast(i4))
        .crossJoin(F.broadcast(s_cnt))
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            F.expr(
                "(p_partkey + i * ((s_total div 4) + (p_partkey div s_total)))"
                " % s_total"
            ).alias("ps_suppkey"),
            ((F.col("p_partkey") * 7 + F.col("i") * 13) % 9999 + 1)
            .cast("long")
            .alias("ps_availqty"),
            (
                ((F.col("p_partkey") * 29 + F.col("i") * 37) % 20000).cast("double")
                / 100.0
                + 1.0
            ).alias("ps_supplycost"),
        )
    )


@register(
    "q2_min_cost_supplier",
    f"""
    WITH {_PARTSUPP_CTE},
    eur AS (
      SELECT ps_partkey, ps_suppkey, ps_supplycost, s_acctbal, s_name, n_name
      FROM partsupp, supplier, nation, region
      WHERE s_suppkey = ps_suppkey AND s_nationkey = n_nationkey
        AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost AS supplycost
    FROM eur, part
    WHERE p_partkey = ps_partkey AND p_size = 15
      AND ps_supplycost = (
        SELECT min(e2.ps_supplycost) FROM eur e2 WHERE e2.ps_partkey = p_partkey
      )
    """,
    "TPC-H Q2 shape (min-cost supplier): region-filtered partsupp, "
    "then keep rows matching the per-part MIN supplycost. Spark plans "
    "the correlated min as a window MIN over ps_partkey after "
    "broadcast-joining the dims — one shuffle on partkey, no "
    "re-aggregation join. supplycost is emitted RAW (both engines "
    "derive bit-identical doubles from the shared integer formula).",
    tags=("tpch", "join", "subquery"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _synth_partsupp(spark, sf_dir)
    sup = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = t(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    eur = (
        ps.join(F.broadcast(sup), ps["ps_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("ps_partkey", "ps_supplycost", "s_acctbal", "s_name", "n_name")
    )
    w = W.partitionBy("ps_partkey")
    best = eur.withColumn("min_cost", F.min("ps_supplycost").over(w)).filter(
        F.col("ps_supplycost") == F.col("min_cost")
    )
    return best.join(
        F.broadcast(part), best["ps_partkey"] == part["p_partkey"]
    ).select(
        "s_acctbal",
        "s_name",
        "n_name",
        "p_partkey",
        "p_brand",
        F.col("ps_supplycost").alias("supplycost"),
    )


@register(
    "q9_product_profit",
    f"""
    WITH {_PARTSUPP_CTE}
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)
                     - ps_supplycost * l_quantity), 4) AS sum_profit
    FROM lineitem, partsupp, part, supplier, orders, nation
    WHERE ps_partkey = l_partkey AND ps_suppkey = l_suppkey
      AND p_partkey = l_partkey AND s_suppkey = l_suppkey
      AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      AND p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
    """,
    "TPC-H Q9 shape (product-type profit): lineitem x partsupp on the "
    "composite (partkey, suppkey) key plus part/supplier/orders/nation "
    "— the widest join tree in the suite. part is filtered BEFORE the "
    "join (name predicate pushes to its scan) and broadcast; partsupp "
    "is derived map-side so the composite join shuffles only lineitem. "
    "Profit rounds at 4dp: extendedprice*(1-discount) is the 4dp grid, "
    "supplycost*quantity the 2dp grid.",
    tags=("tpch", "join", "agg"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    ps = _synth_partsupp(spark, sf_dir)
    part = t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    sup = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    nat = t(spark, sf_dir, "nation")
    profit = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(
            F.broadcast(ps),
            (F.col("l_partkey") == ps["ps_partkey"])
            & (F.col("l_suppkey") == ps["ps_suppkey"]),
        )
        .join(F.broadcast(sup), F.col("l_suppkey") == sup["s_suppkey"])
        .join(orders, F.col("l_orderkey") == orders["o_orderkey"])
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return profit.groupBy(
        F.col("n_name").alias("nation"),
        F.year(F.col("o_orderdate")).alias("o_year"),
    ).agg(
        F.round(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
                - F.col("ps_supplycost") * F.col("l_quantity")
            ),
            4,
        ).alias("sum_profit")
    )


@register(
    "q11_important_stock",
    f"""
    WITH {_PARTSUPP_CTE},
    nat_ps AS (
      SELECT ps_partkey, ps_supplycost * ps_availqty AS v
      FROM partsupp, supplier, nation
      WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_name = 'NATION_3'
    )
    SELECT ps_partkey, round(sum(v), 2) AS value
    FROM nat_ps
    GROUP BY ps_partkey
    HAVING sum(v) > (SELECT sum(v) * 0.01 FROM nat_ps)
    """,
    "TPC-H Q11 shape (important stock): per-part inventory value "
    "within one nation, kept when above a fraction of the nation "
    "total. The total is a scalar subquery — Spark computes it as a "
    "1-row broadcast cross join, so the filter is map-side against "
    "the already-aggregated per-part rows (no second shuffle).",
    tags=("tpch", "agg", "subquery"),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _synth_partsupp(spark, sf_dir)
    sup = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    nat_ps = (
        ps.join(F.broadcast(sup), ps["ps_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "ps_partkey",
            (F.col("ps_supplycost") * F.col("ps_availqty")).alias("v"),
        )
    )
    per_part = nat_ps.groupBy("ps_partkey").agg(F.sum("v").alias("sv"))
    total = nat_ps.agg((F.sum("v") * 0.01).alias("threshold"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("sv") > F.col("threshold"))
        .select("ps_partkey", F.round(F.col("sv"), 2).alias("value"))
    )


@register(
    "q16_supplier_part_counts",
    f"""
    WITH {_PARTSUPP_CTE}
    SELECT p_brand, p_type, p_size,
           count(DISTINCT ps_suppkey) AS supplier_cnt
    FROM partsupp, part
    WHERE p_partkey = ps_partkey
      AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 7, 10, 15, 23, 38, 45)
      AND ps_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    """,
    "TPC-H Q16 shape (supplier-part relationship counts): distinct "
    "suppliers per (brand, type, size) bucket, excluding a NOT-IN "
    "supplier set (the fixture lacks s_comment, so 'complaint' "
    "suppliers are the negative-balance ones — same anti-join shape). "
    "Spark plans NOT IN as a null-aware broadcast anti join off the "
    "tiny supplier side; the distinct-count shuffles once on the "
    "grouping key.",
    tags=("tpch", "agg", "subquery"),
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _synth_partsupp(spark, sf_dir)
    part = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 7, 10, 15, 23, 38, 45)
    )
    bad_sup = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    joined = (
        ps.join(
            F.broadcast(bad_sup.select("s_suppkey")),
            ps["ps_suppkey"] == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(part), F.col("ps_partkey") == part["p_partkey"])
    )
    return joined.groupBy("p_brand", "p_type", "p_size").agg(
        F.count_distinct(F.col("ps_suppkey")).alias("supplier_cnt")
    )


@register(
    "q20_excess_inventory_suppliers",
    f"""
    WITH {_PARTSUPP_CTE},
    shipped AS (
      SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_partkey, l_suppkey
    ),
    excess AS (
      SELECT DISTINCT ps_suppkey
      FROM partsupp
      JOIN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%') p
        ON ps_partkey = p.p_partkey
      JOIN shipped ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
      WHERE ps_availqty > 0.5 * qty
    )
    SELECT s_name, round(s_acctbal, 2) AS acctbal
    FROM supplier JOIN excess ON s_suppkey = ps_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3'
    """,
    "TPC-H Q20 shape (excess inventory): suppliers in one nation "
    "holding more than half the 1997 shipped quantity of any 'small' "
    "part they stock. lineitem pre-aggregates to (part, supp) BEFORE "
    "the threshold join — the fact table collapses to key cardinality "
    "first, then a semi-join lifts qualifying suppliers. Matches the "
    "spec's correlated-subquery semantics (no shipments -> excluded).",
    tags=("tpch", "join", "subquery"),
)
def q20_excess_inventory_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    ps = _synth_partsupp(spark, sf_dir)
    small = t(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    excess = (
        ps.join(F.broadcast(small.select("p_partkey")), ps["ps_partkey"] == F.col("p_partkey"))
        .join(
            shipped,
            (F.col("ps_partkey") == shipped["l_partkey"])
            & (F.col("ps_suppkey") == shipped["l_suppkey"]),
        )
        .filter(F.col("ps_availqty") > 0.5 * F.col("qty"))
        .select("ps_suppkey")
        .distinct()
    )
    sup = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        sup.join(excess, sup["s_suppkey"] == excess["ps_suppkey"], "left_semi")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", F.round(F.col("s_acctbal"), 2).alias("acctbal"))
    )


@register(
    "weighted_doc_sample",
    """
    SELECT doc_id, n_chars
    FROM documents
    WHERE (doc_id * 2654435761) % 4294967296 < n_chars * 2147484
    """,
    "Deterministic probability-proportional-to-size sample: keep a "
    "doc iff (doc_id * KNUTH) mod 2^32 < n_chars * scale, i.e. "
    "inclusion probability ~ n_chars * scale / 2^32 (~15% here). The "
    "integer hash plays the uniform draw — no RNG, so the selected "
    "set is identical on every engine/retry/executor placement, and "
    "the compare is PURE int64 arithmetic (exact oracle parity). "
    "Map-only; the predicate sits directly on the scan.",
    tags=("sampling",),
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textprep import weighted_sample

    return weighted_sample(
        t(spark, sf_dir, "documents").select("doc_id", "n_chars"),
        "doc_id",
        "n_chars",
        2147484,
    )


@register(
    "histogram_width_bucket",
    """
    SELECT CAST(FLOOR(o_totalprice * 20.0 / 600000.0) AS BIGINT) + 1 AS bucket,
           CAST(count(*) AS BIGINT)    AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders GROUP BY 1
    """,
    "Equi-width histogram via width_bucket(v, 0, 600000, 20): the "
    "one-pass binning primitive behind distribution profiling and "
    "outlier gates. Map-side bucket computation + a 20-group partial "
    "aggregate — the same shape at any scale. DuckDB lacks "
    "width_bucket, so the oracle computes the identical IEEE "
    "floor(v*n/(hi-lo))+1 arithmetic (no fixture value sits on an "
    "exact 30000.00 bucket edge at the driver's sf0.01).",
    tags=("agg", "scalar"),
)
def histogram_width_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.expr("width_bucket(o_totalprice, 0.0d, 600000.0d, 20)").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@register(
    "map_lambda_functions",
    """
    SELECT l_orderkey, l_linenumber,
           concat('DISC100=', CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT),
                  ',QTY=', CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS upper_keys,
           CASE WHEN l_quantity > 25
                THEN concat('qty=', CAST(FLOOR(2 * l_quantity + 0.5) AS BIGINT))
                ELSE '' END AS filtered_doubled,
           concat('disc100=',
                  CAST(FLOOR(l_discount * 100 + l_tax * 100 + 0.5) AS BIGINT),
                  ',qty=',
                  CAST(FLOOR(l_quantity + l_linenumber + 0.5) AS BIGINT)) AS zipped
    FROM lineitem WHERE l_orderkey % 97 = 0
    """,
    "Map higher-order functions: transform_keys / transform_values / "
    "map_filter / map_zip_with over per-row map<string,double> built "
    "from lineitem measures, serialized deterministically "
    "(array_sort(map_entries(...)) -> 'k=v' CSV) so the hash compare "
    "is order-stable. All lambdas run inside codegen — zero Python. "
    "The DuckDB oracle computes the identical strings with the key "
    "set unrolled (keys are compile-time constants).",
    tags=("scalar", "lambda"),
)
def map_lambda_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 97 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "concat_ws(',', transform(array_sort(map_entries("
            " transform_keys(map('qty', l_quantity, 'disc100', l_discount * 100),"
            "                (k, v) -> upper(k)))),"
            " e -> concat(e.key, '=', cast(floor(e.value + 0.5d) as bigint))))"
        ).alias("upper_keys"),
        F.expr(
            "concat_ws(',', transform(array_sort(map_entries("
            " map_filter(transform_values("
            "   map('qty', l_quantity, 'disc100', l_discount * 100),"
            "   (k, v) -> v * 2),"
            "  (k, v) -> v > 50))),"
            " e -> concat(e.key, '=', cast(floor(e.value + 0.5d) as bigint))))"
        ).alias("filtered_doubled"),
        F.expr(
            "concat_ws(',', transform(array_sort(map_entries("
            " map_zip_with(map('qty', l_quantity, 'disc100', l_discount * 100),"
            "              map('qty', cast(l_linenumber as double),"
            "                  'disc100', l_tax * 100),"
            "              (k, v1, v2) -> v1 + v2))),"
            " e -> concat(e.key, '=', cast(floor(e.value + 0.5d) as bigint))))"
        ).alias("zipped"),
    )


@register(
    "listagg_group_concat",
    """
    SELECT o_orderstatus,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
               AS priorities,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
    "ANSI LISTAGG (Spark 4) WITHIN GROUP ordered string aggregation — "
    "the export/report concatenation primitive. DISTINCT bounds the "
    "result at group-count x |priority| regardless of input size, so "
    "the agg stays partial-aggregatable and the output metadata-scale.",
    tags=("agg", "sql"),
)
def listagg_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.expr(
            "listagg(DISTINCT o_orderpriority, ',')"
            " WITHIN GROUP (ORDER BY o_orderpriority)"
        ).alias("priorities"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )


@register(
    "udtf_price_tranches",
    """
    SELECT o_orderkey,
           CAST(g AS INT) AS tranche,
           CASE WHEN g < n_full THEN 100000.0
                ELSE o_totalprice - n_full * 100000.0 END AS amount
    FROM (SELECT o_orderkey, o_totalprice, n_full,
                 unnest(generate_series(0, n_full)) AS g
          FROM (SELECT o_orderkey, o_totalprice,
                       CAST(FLOOR(o_totalprice / 100000.0) AS BIGINT) AS n_full
                FROM orders WHERE o_orderkey % 199 = 0))
    WHERE g < n_full OR o_totalprice - n_full * 100000.0 > 0
    """,
    "Python UDTF (Spark 4 user-defined TABLE function, LATERAL "
    "correlated): expand each order's total into fixed 100k tranches "
    "plus remainder — the row-generating API the engine exposes for "
    "logic that yields a variable number of rows per input. Policy "
    "note: UDTFs execute row-at-a-time in Python, so they are an API-"
    "completeness surface, NOT a hot-path tool — the same expansion "
    "is expressible natively via sequence()+explode (see "
    "doc_chunking); the input here is pre-filtered to ~0.5% of "
    "orders. Remainder arithmetic uses the same IEEE ops as the "
    "DuckDB oracle, so values hash-match exactly.",
    tags=("udf", "sql"),
)
def udtf_price_tranches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="tranche int, amount double")
    class TrancheExpand:
        def eval(self, total):
            total = float(total)
            n_full = int(total / 100000.0)
            for i in range(n_full):
                yield i, 100000.0
            rem = total - n_full * 100000.0
            if rem > 0:
                yield n_full, rem

    spark.udtf.register("tranche_expand", TrancheExpand)
    return spark.sql(
        """
        SELECT o_orderkey, t.tranche, t.amount
        FROM {orders}, LATERAL tranche_expand(o_totalprice) t
        WHERE o_orderkey % 199 = 0
        """,
        orders=t(spark, sf_dir, "orders"),
    )


@register(
    "ordered_list_agg_structs",
    """
    SELECT o_orderkey,
           CAST(len(items) AS BIGINT) AS n_items,
           items[1]                   AS top_item_linenumber,
           array_to_string(items, ',') AS items_str
    FROM (
        SELECT l_orderkey AS o_orderkey,
               list(l_linenumber ORDER BY l_quantity DESC, l_linenumber)
                   AS items
        FROM lineitem
        WHERE l_orderkey % 211 = 0
        GROUP BY 1
    )
    """,
    "Ordered list aggregation over nested data: per order, the line "
    "numbers collected INTO an array ordered by quantity (desc, "
    "linenumber tiebreak) — the collect-sorted-detail primitive behind "
    "order-book / clickstream-path features. collect_list order is "
    "partition-dependent, so the engine sorts a (negated-quantity, "
    "linenumber) struct array and projects the field out: "
    "deterministic on any layout, all native array expressions. "
    "DuckDB's ORDER BY-qualified list() is the oracle. At 100 TB the "
    "per-key arrays are bounded by order width (7 items), not data "
    "volume — the unbounded-key variant needs the posting-list "
    "doc_freq guard (see inverted_index_postings).",
    tags=("agg", "array", "sql"),
)
def ordered_list_agg_structs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 211 == 0)
    sorted_structs = F.sort_array(
        F.collect_list(
            F.struct(
                (-F.col("l_quantity")).alias("negq"),
                F.col("l_linenumber").alias("ln"),
            )
        )
    )
    items = F.transform(sorted_structs, lambda s: s.getField("ln"))
    return (
        li.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(items.alias("items"))
        .select(
            "o_orderkey",
            F.size("items").cast("bigint").alias("n_items"),
            F.element_at("items", 1).alias("top_item_linenumber"),
            F.array_join(F.col("items").cast("array<string>"), ",").alias(
                "items_str"
            ),
        )
    )


_LATERAL_TOPK_SQL = """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM {customer} c, LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM {orders} o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 3) t
    WHERE c.c_custkey % 19 = 0
"""


@register(
    "lateral_topk_join",
    _LATERAL_TOPK_SQL.format(customer="customer", orders="orders"),
    "ANSI LATERAL correlated subquery join: each customer's top-3 "
    "orders by price, expressed as a per-row dependent subquery with "
    "ORDER BY/LIMIT — the SQL-standard form of top-N-per-entity "
    "(window_topk_per_group is the window-function twin). The SAME SQL "
    "text runs on both engines. Catalyst decorrelates the lateral into "
    "a join + per-key WindowGroupLimit-style rank pruning rather than "
    "executing the subquery per row — so the plan is one shuffle on "
    "the correlation key, and at 100 TB it behaves exactly like the "
    "window formulation (no nested-loop re-execution).",
    tags=("join", "sql", "subquery"),
)
def lateral_topk_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _LATERAL_TOPK_SQL,
        customer=t(spark, sf_dir, "customer"),
        orders=t(spark, sf_dir, "orders"),
    )


@register(
    "collated_aggregation",
    """
    WITH noisy AS (
        SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
                    ELSE lower(c_mktsegment) END AS seg_noisy,
               c_acctbal
        FROM customer
    )
    SELECT lower(seg_noisy)                                   AS segment,
           CAST(count(*) AS BIGINT)                           AS n_customers,
           CAST(count(DISTINCT seg_noisy) AS BIGINT)          AS n_spellings,
           round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2)    AS sum_acctbal
    FROM noisy GROUP BY lower(seg_noisy) ORDER BY segment
    """,
    "Case-insensitive grouping via engine-native collation: the keys "
    "carry mixed-case noise (synthesized deterministically from the "
    "key parity — the dirty-CRM reality), and Spark groups on "
    "collate(key, 'UTF8_LCASE') — Spark 4's collation type system — "
    "rather than wrapping keys in lower(). At scale the collated "
    "column keeps its column identity through the aggregation "
    "(collation-aware hash/codegen), where an expression-wrapped key "
    "defeats per-column statistics; the oracle proves the semantics "
    "equal the lower() rewrite. n_spellings witnesses real folding "
    "(2 spellings collapse per group). DECIMAL partial sums keep the "
    "money total layout-stable.",
    tags=("agg", "functions", "sql"),
)
def collated_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    noisy = c.select(
        F.when(F.col("c_custkey") % 2 == 0, F.upper("c_mktsegment"))
        .otherwise(F.lower("c_mktsegment"))
        .alias("seg_noisy"),
        "c_acctbal",
    )
    return (
        noisy.groupBy(F.collate(F.col("seg_noisy"), "UTF8_LCASE").alias("k"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.count_distinct(
                # count distinct RAW spellings inside the collated group
                F.collate(F.col("seg_noisy"), "UTF8_BINARY")
            )
            .cast("bigint")
            .alias("n_spellings"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2).alias(
                "sum_acctbal"
            ),
        )
        .select(
            # canonical output key: collation-free lowercase string
            F.collate(F.lower(F.col("k")), "UTF8_BINARY").alias("segment"),
            "n_customers",
            "n_spellings",
            "sum_acctbal",
        )
        .orderBy("segment")
    )


@register(
    "pivot_multi_agg",
    """
    SELECT l_returnflag,
           CAST(sum(l_quantity) FILTER (l_linestatus = 'O') AS BIGINT) AS O_qty,
           CAST(count(*)        FILTER (l_linestatus = 'O') AS BIGINT) AS O_n,
           round(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                 FILTER (l_linestatus = 'O'), 2)                       AS O_rev,
           CAST(sum(l_quantity) FILTER (l_linestatus = 'F') AS BIGINT) AS F_qty,
           CAST(count(*)        FILTER (l_linestatus = 'F') AS BIGINT) AS F_n,
           round(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                 FILTER (l_linestatus = 'F'), 2)                       AS F_rev
    FROM lineitem GROUP BY 1 ORDER BY 1
    """,
    "Pivot with MULTIPLE aggregations per pivoted value (sum + count "
    "+ decimal revenue per line status): Catalyst compiles the "
    "explicit-values multi-measure pivot into one PivotFirst pass — "
    "one scan, one shuffle, measure columns materialized per pivot "
    "value — where naive per-measure pivots would scan three times. "
    "Explicit value list keeps the single-pass property "
    "(value-discovery pivots need a collect first); DECIMAL partials "
    "keep revenue layout-stable. The multi-measure shape is what "
    "reporting workloads actually emit.",
    tags=("agg", "sql"),
)
def pivot_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(
            F.sum("l_quantity").cast("bigint").alias("qty"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2).alias(
                "rev"
            ),
        )
    )
    return out.select(
        "l_returnflag",
        *[F.col(f"{v}_{m}") for v in ("O", "F") for m in ("qty", "n", "rev")],
    ).orderBy("l_returnflag")


@register(
    "argmax_aggregates",
    """
    WITH keyed AS (
        SELECT o_custkey, o_orderkey,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
               CAST(floor(o_totalprice * 100) AS HUGEINT) * 1000000000000
                 + o_orderkey AS price_key,
               c_mktsegment
        FROM orders JOIN customer ON c_custkey = o_custkey
    )
    SELECT c_mktsegment,
           CAST(arg_max(o_orderkey, price_key) AS BIGINT) AS biggest_order,
           CAST(arg_min(o_orderkey, price_key) AS BIGINT) AS smallest_order,
           CAST(max(cents) AS BIGINT)                     AS max_price_cents
    FROM keyed GROUP BY 1 ORDER BY 1
    """,
    "Argmax/argmin aggregates (Spark max_by/min_by ≡ DuckDB "
    "arg_max/arg_min): the id of the extreme-valued row per group "
    "WITHOUT a rank window or self-join — one partial-combined "
    "aggregate carrying (key, value) state, the cheapest "
    "'which row was the max' form at scale. Tie-safety engineered "
    "in: the ordering key is (floor-cents, orderkey) packed into one "
    "DECIMAL(38,0)/HUGEINT with a 1e12 multiplier — exact for any "
    "orderkey < 1e12 (TPC-H sf ~160k, past the 100 TB posture; a "
    "BIGINT 1e7 pack corrupts once orderkey passes 10M, ~sf3) — so "
    "the extremum is unique and both engines' otherwise unspecified "
    "tie-breaking never fires.",
    tags=("agg", "functions", "sql"),
)
def argmax_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    cents = F.floor(F.col("o_totalprice") * 100).cast("bigint")
    keyed = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_mktsegment",
            "o_orderkey",
            cents.alias("cents"),
            (
                cents.cast("decimal(38,0)") * F.lit(10**12) + F.col("o_orderkey")
            ).alias("price_key"),
        )
    )
    return (
        keyed.groupBy("c_mktsegment")
        .agg(
            F.max_by("o_orderkey", "price_key").cast("bigint").alias("biggest_order"),
            F.min_by("o_orderkey", "price_key").cast("bigint").alias("smallest_order"),
            F.max("cents").cast("bigint").alias("max_price_cents"),
        )
        .orderBy("c_mktsegment")
    )


# =====================================================================
# SQL procedural scripting: iterative bisection in pure SQL
# =====================================================================
_SCRIPTING_MEDIAN_ORACLE = """
    -- The script's loop bisects the VALUE domain: the lower median is
    -- the smallest cents value whose cumulative count reaches
    -- ceil(n/2). The oracle computes the same order statistic by rank.
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    r AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents) AS rn,
               count(*) OVER () AS n
        FROM c
    )
    SELECT CAST(cents AS BIGINT) AS median_cents,
           CAST(n AS BIGINT) AS n_rows,
           CAST((n + 1) // 2 AS BIGINT) AS target_rank
    FROM r WHERE rn = (n + 1) // 2
"""


@register(
    "sql_scripting_median_bisection",
    _SCRIPTING_MEDIAN_ORACLE,
    "SQL PROCEDURAL SCRIPTING (Spark 4 BEGIN/DECLARE/WHILE/IF, "
    "spark.sql.scripting.enabled): the exact lower median of order "
    "totals in cents found by bisecting the VALUE domain - each loop "
    "iteration is one narrow count(*) WHERE cents <= mid aggregate, "
    "so the pass count is log2(value range) (~26 here) INDEPENDENT "
    "of row count, and no sort/rank shuffle ever materializes the "
    "full ordering. That is the scripting trade-off at 100 TB: "
    "log(V) cheap scans (each pushdown-friendly and "
    "partial-aggregated) versus one rank shuffle of every row; for "
    "a fixed-precision domain the scans win whenever the sort would "
    "spill. The oracle computes the same order statistic by rank; "
    "driver-hash equality proves the script's loop, conditionals, "
    "and session-variable updates execute correctly.",
    tags=("scripting", "aggregation", "round4"),
)
def sql_scripting_median_bisection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # The loop's ~26 count(*) scans all read the SAME single long
    # column; cache it once so each iteration is a memory scan, not a
    # parquet decode (measured ~4x on the whole script at sf0.1). At
    # 100 TB this is exactly the play too: persist the one-column
    # projection (DISK_ONLY if it exceeds memory) and the log(V)
    # passes never touch the wide table again.
    cents = t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("cents")
    )
    # Size the cached layout from the optimizer's size estimate rather
    # than inheriting the parquet scan's split count: each of the ~26
    # bisection counts is a full job over every cached partition, so
    # partitions beyond ceil(bytes / 128 MB) only add per-iteration
    # task overhead (26 counts measured 2.53 s on the scan layout vs
    # 1.73 s on the size-derived one at sf0.1, where the one-column
    # projection is ~1 MB -> 1 partition). At 100 TB the same formula
    # keeps one task per 128 MB — the normal cached-scan shape.
    try:
        est_bytes = int(
            cents._jdf.queryExecution().optimizedPlan().stats().sizeInBytes().toString()
        )
    except Exception:  # stats unavailable: keep the scan layout
        est_bytes = None
    if est_bytes is not None:
        n_parts = max(1, -(-est_bytes // (128 << 20)))
        cents = cents.coalesce(n_parts)
    cents = cents.cache()
    script = """
    BEGIN
      DECLARE lo BIGINT;
      DECLARE hi BIGINT;
      DECLARE mid BIGINT;
      DECLARE n BIGINT;
      DECLARE target BIGINT;
      DECLARE c BIGINT;
      SET lo = (SELECT min(cents) - 1 FROM {cents});
      SET hi = (SELECT max(cents) FROM {cents});
      SET n = (SELECT count(*) FROM {cents});
      SET target = (n + 1) DIV 2;
      WHILE hi - lo > 1 DO
        SET mid = (lo + hi) DIV 2;
        SET c = (SELECT count(*) FROM {cents} WHERE cents <= mid);
        IF c >= target THEN
          SET hi = mid;
        ELSE
          SET lo = mid;
        END IF;
      END WHILE;
      SELECT hi AS median_cents, n AS n_rows, target AS target_rank;
    END
    """
    try:
        # Pin the (single-row) result on the driver inside the
        # enabled-config scope, then release the cents cache — nothing
        # stays pinned after the call (same discipline as the
        # streaming runners' pinned memory sinks).
        from ..pinning import pin_local

        with scoped_conf(spark, {"spark.sql.scripting.enabled": "true"}):
            out = pin_local(spark, spark.sql(script, cents=cents))
    finally:
        cents.unpersist()
    return out


# =====================================================================
# Geospatial: grid-blocked radius-bounded nearest neighbor
# =====================================================================
# Deterministic integer-microdegree coordinates synthesized from keys
# with the repo's congruence pattern (identical text in both engines;
# intermediates stay < 2^59). Customers span +-60 deg lat, suppliers
# are offset so co-location is non-trivial.
_LATC = "(((c_custkey * 2654435761) % 120000000) - 60000000)"


_LONC = ("(((((c_custkey * 2654435761 + 40503) % 360000000) * 961748927)"
         " % 360000000) - 180000000)")


_LATS = "(((s_suppkey * 2654435761 + 1048573) % 120000000) - 60000000)"


_LONS = ("(((((s_suppkey * 2654435761 + 8191) % 360000000) * 961748927)"
         " % 360000000) - 180000000)")


_GEO_CELL = 10_000_000  # 10 deg in microdegrees = the search radius R


_GEO_R2 = _GEO_CELL * _GEO_CELL


_GEO_KNN_ORACLE = f"""
    -- Brute-force O(n*m) twin of the grid-blocked nearest-neighbor
    -- join: every customer x supplier pair within Euclidean radius
    -- R = 10 deg (planar microdegree metric, integer d2), argmin by
    -- (d2, s_suppkey). The engine's registered path never builds
    -- all pairs - suppliers explode to their 9 neighbor cells of an
    -- R-sized grid and join customers on the exact cell, which is
    -- LOSSLESS: any point within Euclidean R is within +-1 cell in
    -- each axis. Hash equality against this oracle proves the
    -- blocking loses no pair.
    WITH cu AS MATERIALIZED (
        SELECT c_custkey, c_nationkey,
               {_LATC} AS lat, {_LONC} AS lon
        FROM customer
    ),
    su AS MATERIALIZED (
        SELECT s_suppkey, {_LATS} AS lat, {_LONS} AS lon
        FROM supplier
    ),
    cand AS MATERIALIZED (
        SELECT cu.c_custkey, cu.c_nationkey, su.s_suppkey,
               (cu.lat - su.lat) * (cu.lat - su.lat)
             + (cu.lon - su.lon) * (cu.lon - su.lon) AS d2
        FROM cu CROSS JOIN su
        WHERE (cu.lat - su.lat) * (cu.lat - su.lat)
            + (cu.lon - su.lon) * (cu.lon - su.lon) <= {_GEO_R2}
    ),
    best AS (
        SELECT c_custkey, s_suppkey, d2,
               row_number() OVER (PARTITION BY c_custkey
                                  ORDER BY d2, s_suppkey) AS rn
        FROM cand
    )
    SELECT cu.c_nationkey,
           CAST(count(*) AS BIGINT) AS n_cust,
           CAST(count(b.s_suppkey) AS BIGINT) AS n_matched,
           CAST(coalesce(sum(b.s_suppkey), 0) AS BIGINT)
               AS sum_nearest_suppkey,
           CAST(coalesce(sum(b.d2), 0) AS BIGINT) AS sum_min_d2
    FROM cu
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (c_custkey)
    GROUP BY cu.c_nationkey
    ORDER BY cu.c_nationkey
"""


@register(
    "geo_grid_knn_join",
    _GEO_KNN_ORACLE,
    "Radius-bounded nearest-neighbor geospatial join via fixed-grid "
    "blocking (operators/geo.py): supplier points (small side) explode "
    "to their 9 neighbor cells of a grid whose cell size equals the "
    "search radius R, customers join on the EXACT cell (broadcast "
    "hash join - no all-pairs product ever materializes), then d2 <= "
    "R^2 filters and min(struct(d2, s_suppkey)) picks the nearest. "
    "Cell-size-equals-radius makes the blocking LOSSLESS (|dlat| <= R "
    "and |dlon| <= R imply +-1 cell), which the driver hash PROVES by "
    "matching the O(n*m) brute-force oracle exactly: per nation, "
    "matched-customer counts, the sum of nearest supplier keys, and "
    "the exact integer sum of min squared distances. Coordinates are "
    "integer microdegrees from key congruences; the metric is planar "
    "equirectangular (doc'd simplification - real geo scales dlon by "
    "cos(lat)). At 100 TB: cells shuffle, points never cross-join - "
    "the same bucketed guarantee family as the banded-MinHash dedup.",
    tags=("geo", "join", "round4"),
)
def geo_grid_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.geo import explode_neighbor_cells

    cu = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey",
        F.expr(_LATC).alias("lat"), F.expr(_LONC).alias("lon"),
    ).withColumn(
        "cell_lat", F.expr(f"(lat + 90000000) div {_GEO_CELL}")
    ).withColumn(
        "cell_lon", F.expr(f"(lon + 180000000) div {_GEO_CELL}")
    )
    su = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.expr(_LATS).alias("s_lat"), F.expr(_LONS).alias("s_lon"),
    ).withColumn(
        "cell_lat", F.expr(f"(s_lat + 90000000) div {_GEO_CELL}")
    ).withColumn(
        "cell_lon", F.expr(f"(s_lon + 180000000) div {_GEO_CELL}")
    )
    su9 = explode_neighbor_cells(su, "cell_lat", "cell_lon")
    cand = (
        cu.join(F.broadcast(su9), ["cell_lat", "cell_lon"])
        .withColumn(
            "d2",
            (F.col("lat") - F.col("s_lat")) * (F.col("lat") - F.col("s_lat"))
            + (F.col("lon") - F.col("s_lon")) * (F.col("lon") - F.col("s_lon")),
        )
        .filter(F.col("d2") <= F.lit(_GEO_R2))
    )
    best = cand.groupBy("c_custkey").agg(
        F.min(F.struct("d2", "s_suppkey")).alias("b")
    ).select("c_custkey", F.col("b.d2").alias("d2"),
             F.col("b.s_suppkey").alias("nearest"))
    return (
        cu.join(best, "c_custkey", "left")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.count("nearest").alias("n_matched"),
            F.coalesce(F.sum("nearest"), F.lit(0)).cast("long")
            .alias("sum_nearest_suppkey"),
            F.coalesce(F.sum("d2"), F.lit(0)).cast("long").alias("sum_min_d2"),
        )
        .orderBy("c_nationkey")
    )


# =====================================================================
# Geospatial: closed-form geohash encoding
# =====================================================================
def _geohash_oracle() -> str:
    from ..operators.geo import geohash_sql

    gh = geohash_sql("lat", "lon", "//")
    return f"""
    -- Recomputes the engine's closed-form geohash bit for bit: the k
    -- leading geohash bits of a dimension are the top-k bits of
    -- floor((v - lo) * 2^k / span) (pure integer), interleaved lon-
    -- first into a 25-bit code and base32-mapped - collapsing the
    -- textbook 25-step bisection into two multiply-divides. Top-15
    -- cells by (count DESC, geohash) with a deterministic total order.
    WITH cu AS MATERIALIZED (
        SELECT c_custkey, {_LATC} AS lat, {_LONC} AS lon FROM customer
    ),
    g AS MATERIALIZED (
        SELECT c_custkey, {gh} AS geohash5 FROM cu
    ),
    agg AS (
        SELECT geohash5,
               CAST(count(*) AS BIGINT) AS n_cust,
               CAST(sum(c_custkey) AS BIGINT) AS sum_custkey
        FROM g GROUP BY geohash5
    )
    SELECT geohash5, n_cust, sum_custkey
    FROM (SELECT *, row_number() OVER (ORDER BY n_cust DESC, geohash5) AS rn
          FROM agg)
    WHERE rn <= 15
    ORDER BY n_cust DESC, geohash5
    """


@register(
    "geohash_encode_topk",
    _geohash_oracle(),
    "Standard 5-character geohash encoding as a CLOSED FORM instead of "
    "the textbook 25-step range bisection (operators/geo.py "
    "geohash_sql): the leading k geohash bits of each dimension equal "
    "the top-k bits of the scaled integer floor((v-lo)*2^k/span), so "
    "encoding is two integer multiply-divides plus a 13+12-bit "
    "lon-first interleave and a base32 lookup - all native integer/"
    "string expressions inside whole-stage codegen, no UDF, no floats. "
    "Groups customers into cells and returns the top-15 by count with "
    "a deterministic total order. The oracle evaluates the SAME "
    "generated expression text (only the integer-division token "
    "differs), so the driver hash pins every bit of the encoding. "
    "Geohash prefixes are the classic multi-resolution spatial "
    "index/shuffle key at 100 TB scale.",
    tags=("geo", "round4"),
)
def geohash_encode_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.geo import geohash_sql
    from pyspark.sql import Window

    cu = t(spark, sf_dir, "customer").select(
        "c_custkey", F.expr(_LATC).alias("lat"), F.expr(_LONC).alias("lon")
    )
    g = cu.select(
        "c_custkey", F.expr(geohash_sql("lat", "lon", "div")).alias("geohash5")
    )
    agg = g.groupBy("geohash5").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum("c_custkey").cast("long").alias("sum_custkey"),
    )
    w = Window.orderBy(F.col("n_cust").desc(), F.col("geohash5"))
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 15)
        .drop("rn")
        .orderBy(F.col("n_cust").desc(), F.col("geohash5"))
    )


# =====================================================================
# Geospatial: exact integer ray-casting point-in-polygon
# =====================================================================
_POLYGON = [
    (-120_000_000, -30_000_000),
    (-40_000_000, 50_000_000),
    (20_000_000, 10_000_000),
    (80_000_000, 55_000_000),
    (140_000_000, -20_000_000),
    (0, -55_000_000),
]


def _pip_oracle() -> str:
    from ..operators.geo import point_in_polygon_sql

    pip = point_in_polygon_sql("lon", "lat", _POLYGON)
    return f"""
    -- Even-odd ray casting against a fixed non-convex hexagon with
    -- the float division cross-multiplied away: for edge dy > 0,
    -- px < x1 + (x2-x1)(py-y1)/dy  <=>  (px-x1)*dy - (x2-x1)*(py-y1)
    -- < 0 (comparator flips for dy < 0), so membership is pure
    -- integer comparisons - exact on both engines by construction.
    WITH cu AS MATERIALIZED (
        SELECT c_custkey, c_nationkey,
               {_LATC} AS lat, {_LONC} AS lon
        FROM customer
    )
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN {pip} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_inside,
           CAST(coalesce(sum(CASE WHEN {pip} THEN c_custkey END), 0)
                AS BIGINT) AS sum_custkey_inside
    FROM cu
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """


@register(
    "point_in_polygon_ray_cast",
    _pip_oracle(),
    "Point-in-polygon classification by even-odd ray casting against a "
    "fixed non-convex polygon, with EXACT integer arithmetic "
    "(operators/geo.py point_in_polygon_sql): the textbook float "
    "division per edge is eliminated by cross-multiplication, so "
    "membership is a fixed unrolled chain of integer multiplies and "
    "comparisons (< 2^62 for microdegree inputs) evaluated as native "
    "expressions inside whole-stage codegen. Both engines run the "
    "SAME generated text, so the driver hash pins every point's "
    "classification - no epsilon, no boundary ambiguity drift. Per "
    "nation: totals, members, and the member key-sum. The 100 TB "
    "shape is a map-side-only scan (zero shuffles before the final "
    "25-group aggregate); polygon sets in practice would broadcast.",
    tags=("geo", "round4"),
)
def point_in_polygon_ray_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.geo import point_in_polygon_sql

    pip = point_in_polygon_sql("lon", "lat", _POLYGON)
    cu = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey",
        F.expr(_LATC).alias("lat"), F.expr(_LONC).alias("lon"),
    )
    return (
        cu.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.expr(f"CASE WHEN {pip} THEN 1 ELSE 0 END"))
            .cast("long").alias("n_inside"),
            F.coalesce(
                F.sum(F.expr(f"CASE WHEN {pip} THEN c_custkey END")), F.lit(0)
            ).cast("long").alias("sum_custkey_inside"),
        )
        .orderBy("c_nationkey")
    )


# =====================================================================
# GROUPING SETS with an explicit grouping_id - the last uncovered
# multi-level aggregation shape (rollup/cube/pivot are certified).
# =====================================================================
_GSETS_ORACLE = """
    WITH j AS (
        SELECT n.n_name AS nation, c.c_mktsegment AS segment,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    SELECT CAST(grouping(nation) * 2 + grouping(segment) AS BIGINT) AS gid,
           coalesce(nation, 'ALL')  AS nation,
           coalesce(segment, 'ALL') AS segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM j
    GROUP BY GROUPING SETS ((nation, segment), (nation), (segment), ())
    ORDER BY gid, nation, segment
"""


@register(
    "grouping_sets_report",
    _GSETS_ORACLE,
    "Explicit GROUPING SETS ((nation, segment), (nation), (segment), "
    "()) with a portable grouping_id built as grouping(a)*2 + "
    "grouping(b) - the four aggregation levels computed in ONE "
    "shuffle (Spark expands the sets map-side, partials combine per "
    "level) instead of four scans + union, and the gid column "
    "disambiguates real NULL keys from subtotal rows (here aliased "
    "to 'ALL'). Completes the multi-level aggregation family next "
    "to the certified rollup/cube/pivot queries. Dims broadcast; "
    "the fact table is read once.",
    tags=("agg", "sql", "round4"),
)
def grouping_sets_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    j = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    return spark.sql(
        """
        SELECT CAST(grouping(nation) * 2 + grouping(segment) AS BIGINT) AS gid,
               coalesce(nation, 'ALL')  AS nation,
               coalesce(segment, 'ALL') AS segment,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS revenue_cents
        FROM {j}
        GROUP BY GROUPING SETS ((nation, segment), (nation), (segment), ())
        ORDER BY gid, nation, segment
        """,
        j=j,
    )


# =====================================================================
# Bitwise and boolean aggregates - the last uncovered aggregate
# function family.
# =====================================================================
_BITAGG_ORACLE = """
    SELECT o_orderpriority AS priority,
           CAST(bit_and(o_orderkey) AS BIGINT) AS key_bit_and,
           CAST(bit_or(o_orderkey)  AS BIGINT) AS key_bit_or,
           CAST(bit_xor(o_orderkey) AS BIGINT) AS key_bit_xor,
           bool_and(o_totalprice > 900)  AS all_above_900,
           bool_or(o_orderstatus = 'P')  AS any_pending
    FROM orders GROUP BY 1 ORDER BY 1
"""


@register(
    "bitwise_bool_aggregates",
    _BITAGG_ORACLE,
    "Bitwise AND/OR/XOR and boolean ALL/ANY aggregates per order "
    "priority - the aggregate-function family (bit_and/bit_or/"
    "bit_xor/bool_and/bool_or) not exercised by any other query; "
    "bit_xor is the workhorse of order-independent table checksums, "
    "bit_and/bit_or recover shared/possible flag masks. All five "
    "are partial-combinable (associative + commutative), so the "
    "plan is one map-side-combined groupBy, layout-independent by "
    "algebra (no rounding anywhere).",
    tags=("agg", "functions", "round4"),
)
def bitwise_bool_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.expr("bit_and(o_orderkey)").cast("bigint").alias("key_bit_and"),
            F.expr("bit_or(o_orderkey)").cast("bigint").alias("key_bit_or"),
            F.expr("bit_xor(o_orderkey)").cast("bigint").alias("key_bit_xor"),
            F.expr("bool_and(o_totalprice > 900)").alias("all_above_900"),
            F.expr("bool_or(o_orderstatus = 'P')").alias("any_pending"),
        )
        .orderBy("priority")
    )


# =====================================================================
# SQL-defined UDFs (Spark 4 CREATE FUNCTION ... RETURN) - the UDF tier
# that costs NOTHING because it inlines into Catalyst.
# =====================================================================
_SQLUDF_ORACLE = """
    SELECT CASE WHEN o_totalprice > 250000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END AS tier,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders GROUP BY 1 ORDER BY 1
"""


@register(
    "sql_udf_price_tiers",
    _SQLUDF_ORACLE,
    "SQL-defined scalar UDF (Spark 4 CREATE TEMPORARY FUNCTION ... "
    "RETURNS ... RETURN expr): the price-tier function is declared "
    "ONCE in SQL and reused by name, and unlike a Python UDF it "
    "INLINES into the Catalyst plan - the aggregate runs with the "
    "CASE expression inside whole-stage codegen, zero serialization "
    "boundary (the plan test asserts no BatchEvalPython/ArrowEval "
    "node exists). This is the UDF tier users should reach for "
    "before any Python: shared logic without the 10-100x "
    "row-transfer cost. Oracle inlines the same expression text.",
    tags=("functions", "sql", "udf", "round4"),
)
def sql_udf_price_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION q14_price_tier(p DOUBLE) "
        "RETURNS STRING RETURN CASE WHEN p > 250000 THEN 'high' "
        "WHEN p > 100000 THEN 'mid' ELSE 'low' END"
    )
    return spark.sql(
        """
        SELECT q14_price_tier(o_totalprice) AS tier,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
        FROM {orders} GROUP BY 1 ORDER BY 1
        """,
        orders=t(spark, sf_dir, "orders"),
    )


# =====================================================================
# Parameterized SQL (named parameter markers) - injection-safe query
# templates, Spark 4 surface.
# =====================================================================
_PARAM_ORACLE = """
    SELECT c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS max_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice >= 150000 AND o_orderstatus = 'O'
    GROUP BY 1 ORDER BY 1
"""


@register(
    "parameterized_query_markers",
    _PARAM_ORACLE,
    "Parameterized SQL with NAMED parameter markers (spark.sql(query, "
    "args={...}), Spark 4 surface): thresholds and status arrive as "
    "typed literal parameters (:min_price, :status), never string-"
    "spliced - the injection-safe template form every query service "
    "should emit, and the literals still constant-fold and push down "
    "to the scan exactly like inline constants (PushedFilters shows "
    "GreaterThanOrEqual/EqualTo). The oracle inlines the same "
    "parameter values.",
    tags=("sql", "functions", "round4"),
)
def parameterized_query_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT c_mktsegment AS segment,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS max_cents
        FROM {orders} JOIN {customer} ON o_custkey = c_custkey
        WHERE o_totalprice >= :min_price AND o_orderstatus = :status
        GROUP BY 1 ORDER BY 1
        """,
        args={"min_price": 150000, "status": "O"},
        orders=t(spark, sf_dir, "orders"),
        customer=t(spark, sf_dir, "customer"),
    )


# =====================================================================
# Exchange reuse: AQE deduplicates identical shuffle subtrees.
# =====================================================================
_REUSE_ORACLE = """
    WITH seg AS (
        SELECT o_orderpriority,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev
        FROM orders GROUP BY 1
    ),
    top1 AS (
        SELECT o_orderpriority, rev, 'top' AS which FROM seg
        ORDER BY rev DESC, o_orderpriority LIMIT 1
    ),
    bot1 AS (
        SELECT o_orderpriority, rev, 'bottom' AS which FROM seg
        ORDER BY rev ASC, o_orderpriority LIMIT 1
    )
    SELECT * FROM top1 UNION ALL SELECT * FROM bot1
    ORDER BY which DESC
"""


@register(
    "exchange_reuse_extremes",
    _REUSE_ORACLE,
    "Exchange reuse under AQE: the best- and worst-revenue priority "
    "classes come from TWO branches consuming the SAME aggregate - "
    "Spark plans both TakeOrderedAndProject branches over one "
    "shuffle stage (the final adaptive plan shows ReusedExchange "
    "pointing at the first branch's Exchange), so the fact table is "
    "scanned and shuffled ONCE even though the query logically reads "
    "it twice. This is the optimizer behavior that makes "
    "WITH-clause-heavy reporting queries affordable at 100 TB, and "
    "the same machinery the correlation_matrix_exact fix (r3 item 1) "
    "relies on. tests assert the ReusedExchange node in the "
    "post-execution adaptive plan.",
    tags=("sql", "agg", "optimizer", "round4"),
)
def exchange_reuse_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    seg = o.groupBy("o_orderpriority").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    top = (
        seg.orderBy(F.desc("rev"), "o_orderpriority")
        .limit(1)
        .withColumn("which", F.lit("top"))
    )
    bot = (
        seg.orderBy(F.asc("rev"), "o_orderpriority")
        .limit(1)
        .withColumn("which", F.lit("bottom"))
    )
    return top.unionAll(bot).orderBy(F.desc("which"))


# =====================================================================
# Nested data modeling: collect line items into ordered struct arrays
# and compute with higher-order functions - no re-explode.
# =====================================================================
_NESTED_ORACLE = """
    -- Denormalize each order's line items into an ORDERED array of
    -- structs, then compute entirely with list functions: total via
    -- list_reduce, adjacent-price gaps via an index transform, the
    -- head element by subscript. This is the log-record shape
    -- (order -> items) processed WITHOUT exploding back to rows -
    -- integer cents everywhere.
    WITH items AS MATERIALIZED (
        SELECT l_orderkey AS ok,
               list(struct_pack(ln := l_linenumber,
                                cents := CAST(round(l_extendedprice * 100)
                                              AS BIGINT))
                    ORDER BY l_linenumber,
                             CAST(round(l_extendedprice * 100) AS BIGINT))
                   AS items
        FROM lineitem
        WHERE l_orderkey % 101 = 0
        GROUP BY 1
    )
    SELECT ok AS o_orderkey,
           CAST(len(items) AS BIGINT) AS n_items,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(items, x -> x.cents)),
                    (acc, c) -> acc + c) AS BIGINT) AS total_cents,
           CAST(CASE WHEN len(items) >= 2 THEN
                    list_max(list_transform(generate_series(2, len(items)),
                        i -> abs(items[i].cents - items[i - 1].cents)))
                ELSE 0 END AS BIGINT) AS max_adjacent_gap_cents,
           CAST(items[1].cents AS BIGINT) AS first_line_cents
    FROM items
    ORDER BY o_orderkey
"""


@register(
    "nested_order_lines_hof",
    _NESTED_ORACLE,
    "Nested data modeling: line items collect into an ORDERED "
    "array<struct> per order (array_sort on a (linenumber, cents) "
    "struct; the fixture linenumber is NOT unique per order, so the "
    "(linenumber, cents) struct sort key is what makes the array "
    "order deterministic without a window), and every metric is "
    "computed by higher-order functions ON the array - aggregate() "
    "for the total, transform(sequence(...)) for adjacent-price "
    "gaps, element_at for the head - never re-exploding to rows. "
    "This is the shape event-log and API-payload pipelines keep "
    "records in; the HOFs run inside codegen on the nested column, "
    "one record per order, no extra shuffle after the collect. "
    "Integer cents everywhere, so the array fold is exact on both "
    "engines.",
    tags=("functions", "sql", "agg", "round4"),
)
def nested_order_lines_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 101 == 0)
    items = li.groupBy(F.col("l_orderkey")).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("l_linenumber").alias("ln"),
                    F.round(F.col("l_extendedprice") * 100)
                    .cast("bigint")
                    .alias("cents"),
                )
            )
        ).alias("items")
    )
    return items.selectExpr(
        "l_orderkey AS o_orderkey",
        "CAST(size(items) AS BIGINT) AS n_items",
        "aggregate(items, 0L, (acc, x) -> acc + x.cents) AS total_cents",
        "CAST(CASE WHEN size(items) >= 2 THEN "
        "array_max(transform(sequence(2, size(items)), "
        "i -> abs(element_at(items, i).cents "
        "- element_at(items, i - 1).cents))) "
        "ELSE 0L END AS BIGINT) AS max_adjacent_gap_cents",
        "element_at(items, 1).cents AS first_line_cents",
    ).orderBy("o_orderkey")


# =====================================================================
# Unpivot (melt): the wide->long reshape via the dedicated Spark 4
# DataFrame API.
# =====================================================================
_UNPIVOT_ORACLE = """
    WITH wide AS (
        SELECT o_orderpriority AS priority,
               CAST(sum(CASE WHEN o_orderstatus = 'F'
                             THEN CAST(round(o_totalprice * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS f_cents,
               CAST(sum(CASE WHEN o_orderstatus = 'O'
                             THEN CAST(round(o_totalprice * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS o_cents,
               CAST(sum(CASE WHEN o_orderstatus = 'P'
                             THEN CAST(round(o_totalprice * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS p_cents
        FROM orders GROUP BY 1
    )
    SELECT priority, status, revenue_cents
    FROM wide
    UNPIVOT (revenue_cents FOR status IN (f_cents, o_cents, p_cents))
    ORDER BY priority, status
"""


@register(
    "unpivot_melt_reshape",
    _UNPIVOT_ORACLE,
    "Wide-to-long reshape through the DEDICATED unpivot operator "
    "(Spark 4 DataFrame.unpivot / melt; DuckDB UNPIVOT) rather than "
    "the stack()/union workarounds older engines need - the inverse "
    "of the certified pivot_multi_agg. A 5x3 revenue matrix melts "
    "to 15 (priority, status, value) rows; the variable column "
    "carries the source column NAMES, which both engines emit "
    "identically. Map-side reshape of an already-aggregated "
    "metadata-sized table - no extra shuffle.",
    tags=("agg", "sql", "round4"),
)
def unpivot_melt_reshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    wide = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", cents).otherwise(0))
        .cast("bigint")
        .alias("f_cents"),
        F.sum(F.when(F.col("o_orderstatus") == "O", cents).otherwise(0))
        .cast("bigint")
        .alias("o_cents"),
        F.sum(F.when(F.col("o_orderstatus") == "P", cents).otherwise(0))
        .cast("bigint")
        .alias("p_cents"),
    )
    return wide.unpivot(
        ["priority"],
        ["f_cents", "o_cents", "p_cents"],
        "status",
        "revenue_cents",
    ).orderBy("priority", "status")


# =====================================================================
# Join-strategy hints: steering the planner per join.
# =====================================================================
_HINTS_ORACLE = """
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(floor(c.c_acctbal) AS BIGINT)) AS BIGINT)
               AS sum_bal_dollars
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1 ORDER BY 1
"""


@register(
    "join_strategy_hints",
    _HINTS_ORACLE,
    "Per-join strategy hints: the same customer-nation aggregate "
    "with the nation side hinted SHUFFLE_HASH - overriding the "
    "planner's default broadcast choice - and the plan test asserts "
    "a ShuffledHashJoin node executes. Hints are the per-query "
    "escape hatch when statistics mislead the optimizer at scale "
    "(e.g., a 'small' dim that explodes after a filter, or a "
    "broadcast that would OOM the driver); the answer is identical "
    "by construction, which the oracle hash proves.",
    tags=("joins", "sql", "optimizer", "round4"),
)
def join_strategy_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation").hint("SHUFFLE_HASH")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum(F.floor("c_acctbal").cast("bigint"))
            .cast("bigint")
            .alias("sum_bal_dollars"),
        )
        .orderBy("nation")
    )


# =====================================================================
# applyInArrow - the Arrow-native grouped-map API (Spark 4), the last
# uncovered cell of the UDF-surface matrix (scalar pandas / grouped
# pandas / applyInPandas / mapInPandas / stateful / UDTF are all
# registered; this is the zero-pandas path).
# =====================================================================
_ARROW_AGG_ORACLE = """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
    FROM lineitem GROUP BY 1, 2
"""


@register(
    "arrow_grouped_agg",
    _ARROW_AGG_ORACLE,
    "groupBy().applyInArrow (Spark 4): grouped-map over RAW Arrow "
    "record batches with pyarrow.compute kernels - no pandas "
    "conversion at all, the cheapest Python-side grouped path "
    "(pandas adds a columnar->Series materialization both ways; "
    "Arrow tables pass through zero-copy). Completes the UDF-surface "
    "matrix: scalar pandas / grouped-agg / applyInPandas / "
    "mapInPandas / stateful / UDTF / SQL UDF are registered, this "
    "is the Arrow-native cell. Counts and cent-sums are exact "
    "integers computed by pyarrow.compute, hash-equal to the plain "
    "SQL aggregate oracle. CONTRACT (same as every grouped-map op): "
    "one group must fit one worker - group by bounded keys; for "
    "unbounded groups use built-in aggs or mapInArrow per-batch.",
    tags=("udf", "arrow", "round4"),
)
def arrow_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        "l_suppkey",
    )

    def agg(table: "pa.Table") -> "pa.Table":
        return pa.table(
            {
                "l_returnflag": [table.column("l_returnflag")[0].as_py()],
                "l_linestatus": [table.column("l_linestatus")[0].as_py()],
                "n_items": pa.array([table.num_rows], pa.int64()),
                "revenue_cents": pa.array(
                    [pc.sum(table.column("cents")).as_py()], pa.int64()
                ),
                "n_suppliers": pa.array(
                    [pc.count_distinct(table.column("l_suppkey")).as_py()],
                    pa.int64(),
                ),
            }
        )

    return li.groupBy("l_returnflag", "l_linestatus").applyInArrow(
        agg,
        schema=(
            "l_returnflag string, l_linestatus string, n_items bigint, "
            "revenue_cents bigint, n_suppliers bigint"
        ),
    )


# =====================================================================
# Observation API - Spark's zero-extra-pass metrics channel: collect
# data-quality counters ON the production action instead of running a
# second aggregate job over the same scan.
# =====================================================================
_OBSERVE_ORACLE = """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents,
           CAST(count(*) FILTER (l_discount > 0.05) AS BIGINT)
               AS n_discounted,
           CAST(CAST(max(l_shipdate) AS DATE) AS VARCHAR) AS max_ship_date
    FROM lineitem
"""


@register(
    "observe_metrics_inline",
    _OBSERVE_ORACLE,
    "df.observe (Spark's named-metrics API, string form): "
    "row-count, exact cent revenue, a quality counter and a "
    "freshness max ride PIGGYBACK on a single pass over lineitem - "
    "the pattern for production pipelines that must emit "
    "data-quality metrics without paying a second scan (the "
    "alternative, a separate aggregate job, doubles IO at 100 TB). "
    "The observed values are exact integers/dates; the query "
    "re-emits them as a 1-row frame that hash-matches the plain "
    "aggregate oracle, proving the observation channel loses "
    "nothing. The only driver materialization is the bounded "
    "metrics row itself - the scan output goes to a noop sink.",
    tags=("functions", "observability", "round4"),
)
def observe_metrics_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    # STRING-named observe, NOT the Observation helper object: as of
    # Spark 4 the Observation class lazily instantiates the session's
    # ObservationManager, which is not java-serializable and rides in
    # the SparkSession field of every later closure that captures the
    # session (e.g. MLlib model training summaries) - one Observation
    # anywhere poisons ml_learning_curve's evaluator with
    # 'Task not serializable: ObservationManager' for the session's
    # lifetime. The string form only plants a CollectMetrics node.
    observed = li.observe(
        "li_metrics",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("revenue_cents"),
        F.count(F.when(F.col("l_discount") > 0.05, 1))
        .cast("bigint")
        .alias("n_discounted"),
        F.max("l_shipdate").alias("max_ship_date"),
    )
    # The action the metrics ride on (production: the real sink). The
    # 1-row reduction executes the SAME single pass over the scan; its
    # query execution exposes the observed metrics afterward.
    reduced = observed.groupBy().agg(F.count(F.lit(1)).alias("_n"))
    reduced.collect()
    jrow = reduced._jdf.queryExecution().observedMetrics().apply("li_metrics")
    return spark.createDataFrame(
        [
            (
                jrow.getLong(0),
                jrow.getLong(1),
                jrow.getLong(2),
                # the fixture ships timestamps; emit the DATE part
                # (matches the oracle's CAST .. AS DATE AS VARCHAR)
                str(jrow.get(3))[:10],
            )
        ],
        "n_rows bigint, revenue_cents bigint, n_discounted bigint, "
        "max_ship_date string",
    )


# =====================================================================
# Table-argument UDTF (Spark 4 polymorphic TVF): the UDTF consumes a
# whole TABLE(...) with PARTITION BY / ORDER BY pushed into the
# engine - the API cell udtf_price_tranches (scalar-arg, LATERAL)
# does not cover.
# =====================================================================
_UDTF_TABLE_ORACLE = """
    SELECT c_mktsegment, rnk, c_custkey, c_acctbal
    FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               CAST(row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rnk
        FROM customer
    )
    WHERE rnk <= 3
"""


@register(
    "udtf_table_argument",
    _UDTF_TABLE_ORACLE,
    "Polymorphic Python UDTF over a TABLE argument (Spark 4): "
    "`top3(TABLE(customer) PARTITION BY c_mktsegment ORDER BY "
    "c_acctbal DESC, c_custkey)` - the ENGINE shuffles and sorts "
    "each partition before the UDTF sees it, so the Python side is "
    "a trivial take-3 per partition with O(1) state, and "
    "partitioning semantics (one terminate() per key) are the "
    "engine's contract, not hand-rolled. This is the second UDTF "
    "API cell next to udtf_price_tranches' scalar-arg LATERAL form "
    "- what you reach for when per-GROUP custom logic needs "
    "engine-managed grouping but can't be an aggregate. Same "
    "policy note: row-at-a-time Python, API-completeness surface, "
    "pre-bounded output (3 rows per segment). Oracle: the window "
    "row_number equivalent.",
    tags=("udf", "sql", "round4"),
)
def udtf_table_argument(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType=(
        "c_mktsegment string, rnk int, c_custkey bigint, c_acctbal double"
    ))
    class SegmentTop3:
        def __init__(self):
            self._taken = 0

        def eval(self, row):
            # Rows arrive already sorted by the TABLE clause's
            # ORDER BY within each PARTITION BY group.
            if self._taken < 3:
                self._taken += 1
                yield (
                    row["c_mktsegment"],
                    self._taken,
                    row["c_custkey"],
                    row["c_acctbal"],
                )

    spark.udtf.register("segment_top3", SegmentTop3)
    return spark.sql(
        """
        SELECT * FROM segment_top3(
            TABLE({customer})
            PARTITION BY c_mktsegment
            ORDER BY (c_acctbal DESC, c_custkey)
        )
        """,
        customer=t(spark, sf_dir, "customer"),
    )


# =====================================================================
# df.transpose (new in Spark 4.0) - the report-shaping primitive that
# previously needed a manual unpivot+pivot round trip.
# =====================================================================
_TRANSPOSE_ORACLE = """
    WITH m AS (
        SELECT o_orderstatus AS s,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM orders GROUP BY 1
    )
    SELECT 'n_orders' AS metric,
           (SELECT n_orders FROM m WHERE s = 'F') AS F,
           (SELECT n_orders FROM m WHERE s = 'O') AS O,
           (SELECT n_orders FROM m WHERE s = 'P') AS P
    UNION ALL
    SELECT 'revenue_cents',
           (SELECT revenue_cents FROM m WHERE s = 'F'),
           (SELECT revenue_cents FROM m WHERE s = 'O'),
           (SELECT revenue_cents FROM m WHERE s = 'P')
"""


@register(
    "transpose_metrics",
    _TRANSPOSE_ORACLE,
    "df.transpose (new DataFrame API in Spark 4.0): flip a per-status "
    "metrics frame so statuses become columns and metric names become "
    "rows - the report orientation, previously a manual "
    "unpivot+pivot round trip (see unpivot_melt_reshape for that "
    "form). The index column's values become column names sorted "
    "lexicographically (F, O, P - pinned by the oracle's column "
    "list). CONTRACT: transpose materializes the index column to "
    "name the output schema, so the input must be a BOUNDED metrics "
    "frame (here 3 rows x 3 cols), never a fact table - schema "
    "width is not a data plane. Counts and cent-sums stay exact "
    "BIGINTs through the flip.",
    tags=("relational", "reshape", "round4"),
)
def transpose_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    m = o.groupBy(F.col("o_orderstatus").alias("metric")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("revenue_cents"),
    )
    # transpose names the row-label column "key"; align with the oracle.
    return m.transpose(F.col("metric")).withColumnRenamed("key", "metric")


# =====================================================================
# URL functions - parse_url against an independent regex oracle.
# =====================================================================
_URL_ORACLE = """
    WITH u AS (
        SELECT c_custkey,
               'https://shop.example:8443/' || lower(c_mktsegment)
                   || '/item?q=' || lower(c_mktsegment) || '&page='
                   || CAST(c_custkey % 7 AS VARCHAR) || '#frag'
                   AS url
        FROM customer
    )
    SELECT c_custkey,
           regexp_extract(url, '^([a-z]+)://', 1) AS proto,
           regexp_extract(url, '://([^:/]+)', 1) AS host,
           regexp_extract(url, '://([^/]+)/', 1) AS authority,
           regexp_extract(url, ':8443(/[^?#]*)', 1) AS path,
           regexp_extract(url, '[?&]q=([^&#]*)', 1) AS q_param,
           regexp_extract(url, '#(.*)$', 1) AS fragment
    FROM u
"""


@register(
    "url_parse_functions",
    _URL_ORACLE,
    "URL parsing surface (parse_url with PROTOCOL / HOST / "
    "AUTHORITY / PATH / QUERY <key> / REF selectors): the Spark "
    "side uses the BUILT-IN java.net-backed parser while the oracle "
    "re-derives every component with independent regexes, so the "
    "two engines agree on URL anatomy, not on a shared "
    "implementation. The log-analytics prerequisite (referrer/UTM "
    "parsing, endpoint rollups) for the product-analytics tier. "
    "Pure codegen expressions - one projection, no shuffle at all.",
    tags=("functions", "string", "round4"),
)
def url_parse_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    url = F.concat(
        F.lit("https://shop.example:8443/"),
        F.lower("c_mktsegment"),
        F.lit("/item?q="),
        F.lower("c_mktsegment"),
        F.lit("&page="),
        (F.col("c_custkey") % 7).cast("string"),
        F.lit("#frag"),
    )
    u = c.select("c_custkey", url.alias("url"))
    return u.select(
        "c_custkey",
        F.parse_url("url", F.lit("PROTOCOL")).alias("proto"),
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("AUTHORITY")).alias("authority"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("q")).alias("q_param"),
        F.parse_url("url", F.lit("REF")).alias("fragment"),
    )


# =====================================================================
# AES encryption functions - roundtrip + ciphertext-structure oracle
# (DuckDB has no AES, so the oracle checks the PKCS7/ECB length
# arithmetic and the roundtrip identity, both engine-independent).
# =====================================================================
_AES_ORACLE = """
    SELECT name_len,
           CAST(count(*) AS BIGINT) AS n_customers,
           TRUE AS roundtrip_ok,
           CAST((name_len // 16 + 1) * 16 AS BIGINT) AS ecb_cipher_len
    FROM (SELECT CAST(len(c_name) AS BIGINT) AS name_len FROM customer)
    GROUP BY 1
"""


@register(
    "aes_roundtrip_functions",
    _AES_ORACLE,
    "Column-level encryption surface (aes_encrypt / aes_decrypt, "
    "AES-128-ECB for determinism): every customer name must survive "
    "the encrypt->decrypt roundtrip byte-identically "
    "(roundtrip_ok), and every ciphertext must have EXACTLY the "
    "PKCS#7 padded length 16*(len//16 + 1) - a structural property "
    "DuckDB can compute with pure arithmetic, making a crypto "
    "primitive it does not implement still driver-falsifiable "
    "(the approx_aggregates bound-boolean pattern). A wrong key, "
    "wrong mode, or broken padding flips booleans/lengths and "
    "breaks the hash. Grouped by plaintext length so the output is "
    "metadata-scale. Production note: ECB is used HERE because the "
    "oracle needs determinism; real column encryption should use "
    "the default GCM mode with a random IV.",
    tags=("functions", "security", "round4"),
)
def aes_roundtrip_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    enc = F.expr(
        "aes_encrypt(cast(c_name as binary), '0123456789abcdef', 'ECB')"
    )
    dec = F.expr(
        "cast(aes_decrypt(aes_encrypt(cast(c_name as binary), "
        "'0123456789abcdef', 'ECB'), '0123456789abcdef', 'ECB') as string)"
    )
    x = c.select(
        F.length("c_name").cast("bigint").alias("name_len"),
        (dec == F.col("c_name")).alias("ok"),
        F.length(enc).cast("bigint").alias("clen"),
    )
    return x.groupBy("name_len").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.min("ok").alias("roundtrip_ok"),
        F.max("clen").alias("ecb_cipher_len"),
    ).select(
        "name_len",
        "n_customers",
        "roundtrip_ok",
        "ecb_cipher_len",
    )


# =====================================================================
# Recursive CTE with a carried accumulator — Spark 4's WITH RECURSIVE
# on a derived supplier hierarchy (parent(k) = k div 2, binary tree
# rooted at suppkey 1). The level-census twin lives in analytics.py
# (recursive_cte_hierarchy); this one threads per-path state.
# =====================================================================
_RECURSIVE_CTE_ORACLE = """
    -- DuckDB runs the IDENTICAL recursion (dialect: // vs div) —
    -- iterate-to-fixpoint semantics must agree step for step, and
    -- the integer-cents accumulator makes every row exact.
    WITH RECURSIVE walk AS (
        -- domain: suppkey >= 1 (the tree is rooted at 1; the
        -- fixture's suppkey 0 has no path to the root and is
        -- excluded EXPLICITLY rather than silently dropped by the
        -- cur = 1 readout filter)
        SELECT s_suppkey AS k, s_suppkey AS cur,
               CAST(round(s_acctbal * 100) AS BIGINT) AS acc, 0 AS depth
        FROM supplier WHERE s_suppkey >= 1
        UNION ALL
        SELECT w.k, s.s_suppkey,
               w.acc + CAST(round(s.s_acctbal * 100) AS BIGINT),
               w.depth + 1
        FROM walk w JOIN supplier s ON s.s_suppkey = w.cur // 2
        WHERE w.cur > 1
    )
    SELECT depth AS root_depth, CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(acc) AS BIGINT) AS chain_cents
    FROM walk WHERE cur = 1 GROUP BY 1 ORDER BY 1
"""


@register(
    "recursive_cte_supplier_chain",
    _RECURSIVE_CTE_ORACLE,
    "WITH RECURSIVE with a PATH ACCUMULATOR: each supplier walks its "
    "ancestor chain in the derived binary-tree hierarchy parent(k) = "
    "k div 2 down to root 1, summing exact account-balance cents "
    "along the path, readout grouped by root distance. Complements "
    "the pre-existing recursive_cte_hierarchy (a top-down LEVEL "
    "CENSUS: per-depth node counts, no carried state) with the other "
    "recursion shape — bottom-up walks that CARRY an aggregate "
    "through every step (BOM cost rollup, path-cost reachability), "
    "so each iteration's frontier rows, not just the final level "
    "structure, must be exact. The oracle runs the textually "
    "identical recursion in DuckDB (// for div). At 100 TB each "
    "iteration is one shuffle join of the frontier against the "
    "(broadcastable) edge table; the all-nodes seed makes total work "
    "O(n log n) rows, vs the census's O(n) — price of per-path "
    "state.",
    tags=("sql", "recursive", "join", "round5"),
)
def recursive_cte_supplier_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        WITH RECURSIVE walk AS (
            SELECT s_suppkey AS k, s_suppkey AS cur,
                   CAST(round(s_acctbal * 100) AS BIGINT) AS acc, 0 AS depth
            FROM {supplier} WHERE s_suppkey >= 1
            UNION ALL
            SELECT w.k, s.s_suppkey,
                   w.acc + CAST(round(s.s_acctbal * 100) AS BIGINT),
                   w.depth + 1
            FROM walk w JOIN {supplier} s ON s.s_suppkey = w.cur div 2
            WHERE w.cur > 1
        )
        SELECT depth AS root_depth, CAST(count(*) AS BIGINT) AS n_suppliers,
               CAST(sum(acc) AS BIGINT) AS chain_cents
        FROM walk WHERE cur = 1 GROUP BY 1 ORDER BY 1
        """,
        supplier=t(spark, sf_dir, "supplier"),
    )


# =====================================================================
# Dynamic SQL — EXECUTE IMMEDIATE with IDENTIFIER() parameter binding
# (Spark 4): table/column names as typed parameters, never string
# splices.
# =====================================================================
_DYNAMIC_SQL_ORACLE = """
    SELECT c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM customer GROUP BY 1 ORDER BY 1
"""


@register(
    "dynamic_sql_identifier",
    _DYNAMIC_SQL_ORACLE,
    "Dynamic SQL the injection-safe way (Spark 4 surface): EXECUTE "
    "IMMEDIATE runs a query template whose TABLE and COLUMN names "
    "arrive as USING parameters through the IDENTIFIER() clause — "
    "identifiers become typed parameters with identifier-validity "
    "enforcement, completing the parameterized-query story next to "
    "parameterized_query_markers (which binds VALUES). The bound "
    "plan is indistinguishable from the static one: same pushdown, "
    "same codegen, hash-equal to the oracle's static SQL. This is "
    "the metadata-driven-pipeline primitive (same template fanned "
    "across table names) without the string-splice injection risk.",
    tags=("sql", "functions", "round5"),
)
def dynamic_sql_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        EXECUTE IMMEDIATE
        'SELECT c_mktsegment AS segment,
                CAST(count(*) AS BIGINT) AS n_customers,
                CAST(sum(CAST(round(IDENTIFIER(:col) * 100) AS BIGINT))
                    AS BIGINT) AS total_cents
         FROM IDENTIFIER(:tbl) GROUP BY 1 ORDER BY 1'
        USING 'c_acctbal' AS col, '{customer}' AS tbl
        """,
        customer=t(spark, sf_dir, "customer"),
    )


# =====================================================================
# mapInArrow — the ungrouped RAW-Arrow batch map (Spark 4), closing
# the Arrow UDF matrix next to applyInArrow (grouped), mapInPandas,
# pandas scalar/grouped-agg, and applyInPandasWithState.
# =====================================================================
_MAP_IN_ARROW_ORACLE = """
    SELECT l_orderkey, l_linenumber,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
           CAST(round(l_extendedprice * 100) AS BIGINT) // 100000
               AS price_band
    FROM lineitem WHERE l_orderkey % 499 = 0
    ORDER BY l_orderkey, l_linenumber
"""


@register(
    "map_in_arrow_cents",
    _MAP_IN_ARROW_ORACLE,
    "mapInArrow (Spark 4): per-batch computation directly on "
    "pyarrow.RecordBatch — no pandas materialization, the zero-copy "
    "fast path for columnar Python kernels. The kernel runs "
    "pyarrow.compute round (round_mode=half_towards_infinity, which "
    "equals SQL round's HALF_UP on the positive money grid) and an "
    "integer divide, per row, so the result is partitioning-"
    "independent and must hash-match the oracle's pure-SQL twin "
    "exactly. Completes the Arrow/pandas UDF matrix: pandas scalar, "
    "pandas grouped-agg, mapInPandas, applyInPandas(+WithState), "
    "applyInArrow (grouped) were already certified; this is the "
    "ungrouped Arrow map. At 100 TB the shape is map-only: no "
    "shuffle, Arrow batches stream through the Python worker at "
    "spark.sql.execution.arrow.maxRecordsPerBatch granularity.",
    tags=("udf", "functions", "round5"),
)
def map_in_arrow_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_linenumber", T.LongType()),
            T.StructField("price_cents", T.LongType()),
            T.StructField("price_band", T.LongType()),
        ]
    )

    def cents_kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            cents = pc.cast(
                pc.round(
                    pc.multiply(batch.column("l_extendedprice"), pa.scalar(100.0)),
                    ndigits=0,
                    round_mode="half_towards_infinity",
                ),
                pa.int64(),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pc.cast(batch.column("l_orderkey"), pa.int64()),
                    pc.cast(batch.column("l_linenumber"), pa.int64()),
                    cents,
                    pc.divide(cents, pa.scalar(100000, pa.int64())),
                ],
                names=["l_orderkey", "l_linenumber", "price_cents", "price_band"],
            )

    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 499 == 0)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )
    return li.mapInArrow(cents_kernel, out_schema).orderBy(
        "l_orderkey", "l_linenumber"
    )


# =====================================================================
# CSV scalar serialization — to_csv/from_csv complete the per-row
# serialize matrix next to to_json/from_json and to_xml/from_xml.
# =====================================================================
_CSV_SCALAR_ORACLE = """
    SELECT o_orderkey, o_orderstatus AS csv_status,
           CAST(round(o_totalprice * 100) AS BIGINT) AS csv_cents
    FROM orders WHERE o_orderkey % 61 = 0
    ORDER BY o_orderkey
"""


@register(
    "csv_scalar_roundtrip",
    _CSV_SCALAR_ORACLE,
    "CSV SCALAR serialization round-trip: to_csv(struct) -> "
    "from_csv(schema) must reproduce the input values exactly, "
    "completing the per-row serialize matrix next to the certified "
    "to_json/from_json (serialize_functions) and to_xml/from_xml "
    "(xml_serialize_roundtrip) cells — the three interchange codecs "
    "an export pipeline embeds in larger payloads, as expressions "
    "rather than file formats. Integer cents transport keeps the "
    "text round-trip bit-lossless; the oracle selects the ORIGINAL "
    "columns, so a hash match proves the writer/parser pair loses "
    "nothing. Map-only at any scale.",
    tags=("scalar", "serialize", "round5"),
)
def csv_scalar_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 61 == 0)
    line = F.to_csv(
        F.struct(
            F.col("o_orderstatus"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    parsed = F.from_csv(line, "o_orderstatus STRING, cents BIGINT")
    return o.select(
        "o_orderkey",
        parsed.getField("o_orderstatus").alias("csv_status"),
        parsed.getField("cents").alias("csv_cents"),
    ).orderBy("o_orderkey")


# =====================================================================
# LIMIT/OFFSET pagination over a total order
# =====================================================================
_PAGINATION_ORACLE = """
    SELECT o_orderkey, o_custkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 40
"""


@register(
    "limit_offset_pagination",
    _PAGINATION_ORACLE,
    "Keyless pagination: page 3 (rows 41-60) of orders under the "
    "total order (o_totalprice DESC, o_orderkey) via DataFrame "
    ".offset(40).limit(20) — the reference's .head() preview "
    "(spark.py:36) generalized to arbitrary pages. Scale: Catalyst "
    "folds ORDER BY + LIMIT k + OFFSET m into TakeOrderedAndProject "
    "(limit k+m, drop m): each partition keeps a bounded top-(k+m) "
    "heap, one tiny final merge on the driver — no global sort, no "
    "full shuffle, memory O(k+m) regardless of table size. (Deep "
    "pages at 100 TB should switch to keyset pagination — WHERE "
    "(price,key) < last_seen ORDER BY ... LIMIT k — which this total "
    "order makes possible; OFFSET cost grows with m.) The tiebreak "
    "key makes the page deterministic, so the driver hash pins the "
    "exact 20 rows.",
    tags=("relational", "pagination", "round6"),
)
def limit_offset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .offset(40)
        .limit(20)
    )


# =====================================================================
# SQL:2003 ordered-set aggregates: percentile_disc / percentile_cont
# WITHIN GROUP
# =====================================================================
_WITHIN_GROUP_ORACLE = """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)
                AS BIGINT) AS median_disc_cents,
           CAST(percentile_cont(0.25) WITHIN GROUP (ORDER BY cents) * 4
                AS BIGINT) AS q1_cont_quarter_cents
    FROM (
        SELECT o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


@register(
    "percentile_within_group",
    _WITHIN_GROUP_ORACLE,
    "SQL:2003 ordered-set aggregates per priority class: "
    "percentile_disc(0.5) WITHIN GROUP is the exact lower-median "
    "order statistic (an integer cents value — hash-exact by "
    "construction) and percentile_cont(0.25) interpolates between "
    "the two bracketing order statistics. The continuous quartile is "
    "emitted as exact integer QUARTER-cents: with a 0.25 fraction the "
    "interpolation a+frac*(b-a) lands on the binary-exact 1/4 grid, "
    "so *4 is an integer on BOTH engines and no float rounding can "
    "diverge. Scale: Spark plans WITHIN GROUP percentiles as a "
    "partial/final ObjectHashAggregate (per-group sorted sketch "
    "merge) — one shuffle on the 5 priority keys; the per-group "
    "state is the value multiset, so for high-cardinality value "
    "domains at 100 TB prefer approx_percentile (sketch tier, "
    "already registered) and reserve exact WITHIN GROUP for "
    "bounded-domain columns like integer cents.",
    tags=("aggregation", "ordered-set", "round6"),
)
def percentile_within_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)
                    AS BIGINT) AS median_disc_cents,
               CAST(percentile_cont(0.25) WITHIN GROUP (ORDER BY cents) * 4
                    AS BIGINT) AS q1_cont_quarter_cents
        FROM (
            SELECT o_orderpriority,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM {orders}
        )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        orders=t(spark, sf_dir, "orders"),
    )


# =====================================================================
# GROUP BY ALL / ORDER BY ALL shorthand
# =====================================================================
_GROUP_BY_ALL_ORACLE = """
    SELECT o_orderstatus,
           o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
"""


@register(
    "group_by_all_shorthand",
    _GROUP_BY_ALL_ORACLE,
    "GROUP BY ALL + ORDER BY ALL (the modern-SQL shorthand both "
    "Spark 4 and DuckDB support — the oracle is the IDENTICAL query "
    "text): the engine infers the grouping keys as every "
    "non-aggregate select item and the ordering as the full select "
    "list. Semantics and plan are exactly the explicit GROUP BY "
    "o_orderstatus, o_orderpriority — partial+final hash aggregate, "
    "one shuffle on the 15-key grid, then a metadata-scale sort — so "
    "the shorthand costs nothing at 100 TB; it exists to kill "
    "keep-the-column-lists-in-sync bugs in wide rollups.",
    tags=("aggregation", "sql-surface", "round6"),
)
def group_by_all_shorthand(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT o_orderstatus,
               o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM {orders}
        GROUP BY ALL
        ORDER BY ALL
        """,
        orders=t(spark, sf_dir, "orders"),
    )
