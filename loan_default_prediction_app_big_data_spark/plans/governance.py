"""Data-quality, governance and privacy queries.
"""

from __future__ import annotations

from ._core import DataFrame, F, SparkSession, W, register, t


@register(
    "data_quality_gates",
    """
    WITH agg AS (
      SELECT count(*) AS n,
             CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
             CAST(sum(CASE WHEN l_discount IS NOT NULL
                            AND l_discount NOT BETWEEN 0.0 AND 0.08
                           THEN 1 ELSE 0 END) AS BIGINT) AS v1,
             CAST(sum(CASE WHEN l_returnflag IS NOT NULL
                            AND l_returnflag NOT IN ('A','N')
                           THEN 1 ELSE 0 END) AS BIGINT) AS v2
      FROM lineitem
    )
    SELECT 'not_null(l_quantity,tol=0.0)' AS check, v0 AS n_violations,
           v0 / n AS violation_rate, v0 / n <= 0.0 AS passed FROM agg
    UNION ALL
    SELECT 'in_range(l_discount,[0.0,0.08])', v1, v1 / n, v1 / n <= 0.3 FROM agg
    UNION ALL
    SELECT 'in_set(l_returnflag)', v2, v2 / n, v2 / n <= 0.5 FROM agg
    """,
    "Declarative data-quality gate (operators/quality.py): three "
    "expectations (not-null, numeric range, categorical domain) "
    "compiled into ONE conditional-aggregation scan, unpivoted to a "
    "per-check report (check, n_violations, violation_rate, passed) "
    "with stack() — no driver round-trip anywhere (run_checks_df). "
    "Tolerances chosen so the fixture yields a mix of pass and fail "
    "rows, proving the gate logic, not just zeros. Scale: the gate IS "
    "the ingest scan — conditional sums ride the existing pass, "
    "violation rates are exact-integer ÷ count (bit-identical across "
    "engines, no rounding needed).",
    tags=("quality",),
)
def data_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import in_range, in_set, not_null, run_checks_df

    li = t(spark, sf_dir, "lineitem")
    checks = [
        not_null("l_quantity", 0.0),
        in_range("l_discount", 0.0, 0.08, 0.3),
        in_set("l_returnflag", ["A", "N"], 0.5),
    ]
    # in_set's auto-name has no arg list; pin names to the oracle's.
    out = run_checks_df(li, checks)
    return out


@register(
    "column_profile",
    """
    WITH a AS (
        SELECT count(*) AS n,
               count(l_orderkey)      AS nn_ok,  count(DISTINCT l_orderkey)      AS nd_ok,
               CAST(min(l_orderkey) AS VARCHAR) AS mn_ok, CAST(max(l_orderkey) AS VARCHAR) AS mx_ok,
               count(l_quantity)      AS nn_q,   count(DISTINCT l_quantity)      AS nd_q,
               CAST(min(l_quantity) AS VARCHAR) AS mn_q,  CAST(max(l_quantity) AS VARCHAR) AS mx_q,
               count(l_discount)      AS nn_d,   count(DISTINCT l_discount)      AS nd_d,
               CAST(min(l_discount) AS VARCHAR) AS mn_d,  CAST(max(l_discount) AS VARCHAR) AS mx_d,
               count(l_returnflag)    AS nn_rf,  count(DISTINCT l_returnflag)    AS nd_rf,
               min(l_returnflag)      AS mn_rf,  max(l_returnflag)               AS mx_rf
        FROM lineitem
    )
    SELECT 'l_orderkey' AS col_name, CAST(n - nn_ok AS BIGINT) AS n_null,
           CAST(nd_ok AS BIGINT) AS n_distinct, mn_ok AS min_val, mx_ok AS max_val FROM a
    UNION ALL
    SELECT 'l_quantity', CAST(n - nn_q AS BIGINT), CAST(nd_q AS BIGINT), mn_q, mx_q FROM a
    UNION ALL
    SELECT 'l_discount', CAST(n - nn_d AS BIGINT), CAST(nd_d AS BIGINT), mn_d, mx_d FROM a
    UNION ALL
    SELECT 'l_returnflag', CAST(n - nn_rf AS BIGINT), CAST(nd_rf AS BIGINT), mn_rf, mx_rf FROM a
    """,
    "One-pass column profiling (the DESCRIBE-at-scale primitive run "
    "before any pipeline touches a new table): per-column null count, "
    "exact distinct cardinality, min and max — ALL columns' metrics in "
    "a distinct-free aggregation over the fact table plus one two-phase "
    "groupBy per exact distinct count (map-side partials, then count "
    "the values), pivoted to one row per column by exploding a struct "
    "array over the 1-row aggregate (metadata-scale work). The "
    "multi-COUNT(DISTINCT) Expand shape was measured 5x slower (the "
    "expand defeats partial aggregation on the high-cardinality key); "
    "at 100 TB swap exact distincts for approx_count_distinct in the "
    "single pass. Numeric min/max serialize as canonical strings so "
    "one uniform schema profiles heterogeneous column types.",
    tags=("agg", "quality"),
)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_quantity", "l_discount", "l_returnflag"]
    # Null/min/max metrics in ONE distinct-free pass; each exact
    # distinct count as its own two-phase aggregate (groupBy the column
    # with map-side partials, then count the 1-row-per-value result).
    # The previous single-agg shape planned all four COUNT(DISTINCT)s
    # through a 5x Expand of the fact table whose expanded partial
    # aggregate dominated the query (measured 4.6-5.5 s vs 0.8-1.3 s
    # for this shape at sf0.1 — guide §2.3 "aggregate before you
    # shuffle": the expand defeated map-side partial aggregation on
    # the high-cardinality key). Four extra scans are the cheap side
    # of that trade (scan+min/max pass measured 0.45 s), and each
    # groupBy shuffles only its distinct values. The 1-row distinct
    # counts broadcast-join back onto the base row.
    aggs = []
    for c in cols:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"null_{c}"),
            F.min(c).cast("string").alias(f"mn_{c}"),
            F.max(c).cast("string").alias(f"mx_{c}"),
        ]
    one = li.agg(*aggs)
    for c in cols:
        nd = (
            li.select(c)
            .where(F.col(c).isNotNull())  # COUNT(DISTINCT c) skips NULLs
            .distinct()
            .agg(F.count(F.lit(1)).alias(f"nd_{c}"))
        )
        one = one.crossJoin(F.broadcast(nd))
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"null_{c}").cast("bigint").alias("n_null"),
                F.col(f"nd_{c}").cast("bigint").alias("n_distinct"),
                F.col(f"mn_{c}").alias("min_val"),
                F.col(f"mx_{c}").alias("max_val"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(rows).alias("p")).select("p.*")


@register(
    "referential_integrity_audit",
    """
    SELECT 'lineitem.l_orderkey -> orders' AS fk_edge,
           CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS child_rows,
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS orphan_rows
    UNION ALL
    SELECT 'orders.o_custkey -> customer',
           CAST((SELECT count(*) FROM orders) AS BIGINT),
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT)
    UNION ALL
    SELECT 'customer.c_nationkey -> nation',
           CAST((SELECT count(*) FROM customer) AS BIGINT),
           CAST((SELECT count(*) FROM customer cu
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = cu.c_nationkey))
                AS BIGINT)
    UNION ALL
    SELECT 'events.user_id -> customer',
           CAST((SELECT count(*) FROM events) AS BIGINT),
           CAST((SELECT count(*) FROM events e
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = e.user_id))
                AS BIGINT)
    """,
    "Referential-integrity audit: orphan counts along every FK edge of "
    "the star schema (lineitem→orders, orders→customer, "
    "customer→nation, events→customer) — the structural data-quality "
    "check that complements data_quality_gates' column-level rules "
    "(a broken FK silently drops rows from every inner join "
    "downstream). Each edge is one LEFT ANTI join counting misses: "
    "the anti join carries only the key column, broadcasts when the "
    "parent is dimension-sized, and shuffles 8-byte keys otherwise — "
    "at 100 TB this is how you audit a petabyte fact table against "
    "its dimensions without moving it.",
    tags=("join", "agg", "quality"),
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def edge(label: str, child: DataFrame, key, parent: DataFrame, pkey):
        total = child.agg(F.count(F.lit(1)).cast("bigint").alias("child_rows"))
        orphans = (
            child.select(key.alias("__k"))
            .join(parent.select(pkey.alias("__k")), "__k", "left_anti")
            .agg(F.count(F.lit(1)).cast("bigint").alias("orphan_rows"))
        )
        return (
            total.crossJoin(F.broadcast(orphans))
            .select(
                F.lit(label).alias("fk_edge"), "child_rows", "orphan_rows"
            )
        )

    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    ev = t(spark, sf_dir, "events")
    return (
        edge("lineitem.l_orderkey -> orders", li, F.col("l_orderkey"), o, F.col("o_orderkey"))
        .unionAll(edge("orders.o_custkey -> customer", o, F.col("o_custkey"), c, F.col("c_custkey")))
        .unionAll(edge("customer.c_nationkey -> nation", c, F.col("c_nationkey"), n, F.col("n_nationkey")))
        .unionAll(edge("events.user_id -> customer", ev, F.col("user_id"), c, F.col("c_custkey")))
    )


@register(
    "data_freshness_slo",
    """
    WITH anchor AS (
        SELECT greatest(
                 (SELECT max(epoch_us(o_orderdate)) FROM orders),
                 (SELECT max(epoch_us(l_shipdate)) FROM lineitem),
                 (SELECT max(epoch_us(ts)) FROM events)) AS now_us
    )
    SELECT t.table_name, t.n_rows, t.max_event_us,
           CAST((a.now_us - t.max_event_us) // 86400000000 AS BIGINT)
               AS staleness_days,
           CAST((a.now_us - t.max_event_us) // 86400000000 <= t.slo_days
                AS BOOLEAN) AS within_slo
    FROM (
        SELECT 'orders' AS table_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(max(epoch_us(o_orderdate)) AS BIGINT) AS max_event_us,
               90 AS slo_days
        FROM orders
        UNION ALL
        SELECT 'lineitem', CAST(count(*) AS BIGINT),
               CAST(max(epoch_us(l_shipdate)) AS BIGINT), 120
        FROM lineitem
        UNION ALL
        SELECT 'events', CAST(count(*) AS BIGINT),
               CAST(max(epoch_us(ts)) AS BIGINT), 7
        FROM events
    ) t CROSS JOIN anchor a
    """,
    "Data-freshness SLO audit: per-table row count, max event time, "
    "staleness vs the newest timestamp anywhere in the warehouse, "
    "and a per-table SLO verdict (orders 90d, lineitem 120d, events "
    "7d policies) — the pipeline-health check that pages before "
    "downstream aggregates silently go stale. Each branch is one "
    "metadata-cheap max/count aggregate (at 100 TB these come "
    "straight from partition-pruned tails or catalog stats); the "
    "anchor is a broadcast 1-row scalar. Pure integer epoch "
    "arithmetic end to end.",
    tags=("agg", "quality"),
)
def data_freshness_slo(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    ev = t(spark, sf_dir, "events")

    def branch(df: DataFrame, name: str, col: str, slo: int) -> DataFrame:
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.max(F.unix_micros(F.col(col))).cast("bigint").alias("max_event_us"),
            F.lit(slo).alias("slo_days"),
        )

    parts = (
        branch(o, "orders", "o_orderdate", 90)
        .unionAll(branch(li, "lineitem", "l_shipdate", 120))
        .unionAll(branch(ev, "events", "ts", 7))
    )
    anchor = parts.agg(F.max("max_event_us").alias("now_us"))
    stale = F.expr("(now_us - max_event_us) div 86400000000")
    return parts.crossJoin(F.broadcast(anchor)).select(
        "table_name",
        "n_rows",
        "max_event_us",
        stale.cast("bigint").alias("staleness_days"),
        (stale <= F.col("slo_days")).alias("within_slo"),
    )


@register(
    "fulfillment_lag_distribution",
    """
    WITH lag_days AS (
        SELECT (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
               // 86400000000 AS d
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), banded AS (
        SELECT CASE WHEN d < 0 THEN 'pre-dated'
                    WHEN d <= 7 THEN '0-7d'
                    WHEN d <= 30 THEN '8-30d'
                    WHEN d <= 90 THEN '31-90d'
                    ELSE '90d+' END AS sla_band,
               d
        FROM lag_days
    )
    SELECT sla_band,
           CAST(count(*) AS BIGINT)        AS n_lines,
           CAST(min(d) AS BIGINT)          AS min_days,
           CAST(max(d) AS BIGINT)          AS max_days,
           round(CAST(count(*) AS DOUBLE)
                 / CAST(sum(count(*)) OVER () AS DOUBLE), 6) AS share
    FROM banded GROUP BY 1
    """,
    "Order-fulfillment SLA distribution: ship-date minus order-date "
    "lag for every line item, banded into operational SLA buckets "
    "with shares — the logistics health readout (and a referential "
    "sanity check: a 'pre-dated' band would mean shipments before "
    "their order, the time-travel data bug). Lag is pure integer "
    "epoch arithmetic; the join shuffles only the two key+date "
    "columns; one partial-combined groupBy on a 5-value band key.",
    tags=("join", "agg", "analytics", "quality", "timeseries"),
)
def fulfillment_lag_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lag_days = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.expr(
            "(unix_micros(l_shipdate) - unix_micros(o_orderdate))"
            " div 86400000000"
        ).alias("d")
    )
    banded = lag_days.select(
        F.when(F.col("d") < 0, "pre-dated")
        .when(F.col("d") <= 7, "0-7d")
        .when(F.col("d") <= 30, "8-30d")
        .when(F.col("d") <= 90, "31-90d")
        .otherwise("90d+")
        .alias("sla_band"),
        "d",
    )
    g = banded.groupBy("sla_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.min("d").cast("bigint").alias("min_days"),
        F.max("d").cast("bigint").alias("max_days"),
    )
    return g.select(
        "sla_band",
        "n_lines",
        "min_days",
        "max_days",
        F.round(
            F.col("n_lines").cast("double")
            / F.sum("n_lines").over(W.partitionBy()).cast("double"),
            6,
        ).alias("share"),
    )


@register(
    "k_anonymity_audit",
    """
    WITH qi AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
               count(*) AS grp_n
        FROM customer GROUP BY 1, 2, 3
    ), ks AS (SELECT unnest([2, 5, 10]) AS k)
    SELECT CAST(ks.k AS INT) AS k,
           CAST(count(*) FILTER (qi.grp_n < ks.k) AS BIGINT)
               AS violating_groups,
           CAST(coalesce(sum(qi.grp_n) FILTER (qi.grp_n < ks.k), 0) AS BIGINT)
               AS affected_rows,
           round(CAST(coalesce(sum(qi.grp_n) FILTER (qi.grp_n < ks.k), 0)
                      AS DOUBLE)
                 / CAST(sum(qi.grp_n) AS DOUBLE), 6) AS affected_share
    FROM qi, ks GROUP BY ks.k ORDER BY k
    """,
    "k-anonymity audit over the quasi-identifier tuple (nation, "
    "market segment, account-balance band): for each policy k, how "
    "many equivalence classes have fewer than k members and what "
    "row share a release would have to suppress or generalize — the "
    "re-identification risk gate privacy governance runs before "
    "sharing derived data. One fact-sized groupBy on the "
    "quasi-identifier; the per-k sweep runs on the metadata-scale "
    "class histogram (classes x 3 policy rows). All counts exact "
    "BIGINTs; the share divides exact integers once.",
    tags=("quality", "governance", "agg"),
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    qi = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("grp_n"))
    ks = qi.sparkSession.createDataFrame([(2,), (5,), (10,)], "k int")
    joined = qi.crossJoin(F.broadcast(ks))
    viol = F.when(F.col("grp_n") < F.col("k"), F.col("grp_n"))
    return (
        joined.groupBy("k")
        .agg(
            F.count(viol).cast("bigint").alias("violating_groups"),
            F.coalesce(F.sum(viol), F.lit(0)).cast("bigint").alias("affected_rows"),
            F.round(
                F.coalesce(F.sum(viol), F.lit(0)).cast("double")
                / F.sum("grp_n").cast("double"),
                6,
            ).alias("affected_share"),
        )
        .orderBy("k")
    )


@register(
    "table_diff_summary",
    """
    WITH changed AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 97 = 0
                    THEN o_totalprice * 1.05 ELSE o_totalprice END AS p2,
               CASE WHEN o_orderkey % 131 = 0
                    THEN 'P' ELSE o_orderstatus END AS s2,
               o_totalprice, o_orderstatus
        FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN p2 <> o_totalprice THEN 1 ELSE 0 END) AS BIGINT)
               AS changed_totalprice,
           CAST(sum(CASE WHEN s2 <> o_orderstatus THEN 1 ELSE 0 END) AS BIGINT)
               AS changed_status,
           CAST(sum(CASE WHEN p2 <> o_totalprice OR s2 <> o_orderstatus
                         THEN 1 ELSE 0 END) AS BIGINT) AS changed_rows,
           round(sum(CASE WHEN p2 <> o_totalprice
                          THEN CAST(floor(p2 * 100) - floor(o_totalprice * 100)
                                    AS BIGINT)
                          ELSE 0 END) / 100.0, 2) AS totalprice_drift_dollars
    FROM changed
    """,
    "Table-diff reconciliation: compare a table against its next "
    "pipeline version (here a deterministically perturbed twin — 1/97 "
    "of prices bumped 5%, 1/131 of statuses rewritten — standing in "
    "for 'v2 of the job') and report per-column changed-cell counts "
    "plus net numeric drift in exact floor-cents. The "
    "regression-diff gate run before promoting a rewritten pipeline: "
    "at 100 TB this joins the two versions on the primary key "
    "(co-partitioned, one shuffle) and aggregates per-column "
    "inequality flags map-side; here the twin derives in-plan so the "
    "whole diff is one scan, zero joins. All counts and drift sums "
    "are exact integers.",
    tags=("quality", "agg", "governance"),
)
def table_diff_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    changed = o.select(
        "o_orderkey",
        "o_totalprice",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") * 1.05
        )
        .otherwise(F.col("o_totalprice"))
        .alias("p2"),
        F.when(F.col("o_orderkey") % 131 == 0, F.lit("P"))
        .otherwise(F.col("o_orderstatus"))
        .alias("s2"),
    )
    return changed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("p2") != F.col("o_totalprice"), 1).otherwise(0))
        .cast("bigint")
        .alias("changed_totalprice"),
        F.sum(F.when(F.col("s2") != F.col("o_orderstatus"), 1).otherwise(0))
        .cast("bigint")
        .alias("changed_status"),
        F.sum(
            F.when(
                (F.col("p2") != F.col("o_totalprice"))
                | (F.col("s2") != F.col("o_orderstatus")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("changed_rows"),
        F.round(
            F.sum(
                F.when(
                    F.col("p2") != F.col("o_totalprice"),
                    (
                        F.floor(F.col("p2") * 100)
                        - F.floor(F.col("o_totalprice") * 100)
                    ).cast("bigint"),
                ).otherwise(0)
            )
            / 100.0,
            2,
        ).alias("totalprice_drift_dollars"),
    )


@register(
    "table_checksum",
    """
    WITH o AS (
        SELECT bit_xor(CAST('0x' || substr(md5(
                   CAST(o_orderkey AS VARCHAR) || '|' ||
                   CAST(o_custkey AS VARCHAR) || '|' ||
                   o_orderstatus || '|' ||
                   CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR)
               ), 1, 15) AS BIGINT)) AS checksum,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM orders
    ), c AS (
        SELECT bit_xor(CAST('0x' || substr(md5(
                   CAST(c_custkey AS VARCHAR) || '|' ||
                   CAST(c_nationkey AS VARCHAR) || '|' ||
                   c_mktsegment || '|' ||
                   CAST(CAST(floor(c_acctbal * 100) AS BIGINT) AS VARCHAR)
               ), 1, 15) AS BIGINT)) AS checksum,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM customer
    )
    SELECT 'orders' AS table_name, n_rows, checksum FROM o
    UNION ALL
    SELECT 'customer', n_rows, checksum FROM c
    ORDER BY table_name
    """,
    "Content-addressed table checksum: every row serializes its "
    "business columns canonically (money as floor-cents BIGINT so no "
    "float formatting crosses engines), hashes through md5, and the "
    "table fingerprint is the XOR-fold of 60-bit hash prefixes — "
    "order-insensitive and partition-associative, so a 100 TB "
    "table's checksum computes map-side with a 16-byte merge state "
    "and NO shuffle of row data (the anti-entropy / "
    "replica-reconciliation primitive; two replicas disagree iff "
    "any row differs, detected without moving either table). "
    "Counts + checksums are exact integers.",
    tags=("quality", "agg", "governance", "functions"),
)
def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    def cksum(df: DataFrame, label: str, row_str: F.Column) -> DataFrame:
        h = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("bigint")
        return df.agg(
            F.lit(label).alias("table_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.bit_xor(h).alias("checksum"),
        )

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    orders_ck = cksum(
        o,
        "orders",
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.col("o_orderstatus"),
            F.floor(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
        ),
    )
    cust_ck = cksum(
        c,
        "customer",
        F.concat_ws(
            "|",
            F.col("c_custkey").cast("string"),
            F.col("c_nationkey").cast("string"),
            F.col("c_mktsegment"),
            F.floor(F.col("c_acctbal") * 100).cast("bigint").cast("string"),
        ),
    )
    return orders_ck.unionByName(cust_ck).orderBy("table_name")


@register(
    "functional_dependency_audit",
    """
    WITH fd1 AS (  -- c_custkey -> c_nationkey must hold (key FD)
        SELECT count(*) AS viol FROM (
            SELECT c_custkey FROM customer
            GROUP BY 1 HAVING count(DISTINCT c_nationkey) > 1)
    ), fd2 AS (    -- o_custkey -> o_orderstatus should NOT hold
        SELECT count(*) AS viol FROM (
            SELECT o_custkey FROM orders
            GROUP BY 1 HAVING count(DISTINCT o_orderstatus) > 1)
    ), fd3 AS (    -- n_nationkey -> n_regionkey must hold
        SELECT count(*) AS viol FROM (
            SELECT n_nationkey FROM nation
            GROUP BY 1 HAVING count(DISTINCT n_regionkey) > 1)
    ), fd4 AS (    -- l_orderkey -> o_orderdate through the join (FK FD)
        SELECT count(*) AS viol FROM (
            SELECT l.l_orderkey FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY 1 HAVING count(DISTINCT o.o_orderdate) > 1)
    )
    SELECT fd, CAST(viol AS BIGINT) AS violating_keys, holds FROM (
        SELECT 'custkey->nationkey' AS fd, viol, viol = 0 AS holds FROM fd1
        UNION ALL SELECT 'custkey->orderstatus', viol, viol = 0 FROM fd2
        UNION ALL SELECT 'nationkey->regionkey', viol, viol = 0 FROM fd3
        UNION ALL SELECT 'orderkey->orderdate', viol, viol = 0 FROM fd4
    ) ORDER BY fd
    """,
    "Functional-dependency audit (Metanome-style data profiling): "
    "for each candidate FD X -> Y, count determinant values mapping "
    "to more than one dependent value — zero violations means the "
    "dependency holds and can back a constraint, a normalization, or "
    "a join-cardinality assumption. The suite checks two FDs that "
    "must hold (key and FK-derived), one that must NOT (behavioral "
    "column), so the audit itself is regression-tested by the hash. "
    "Each FD is one partial-combined groupBy with a count-distinct "
    "HAVING — at 100 TB, candidate FDs batch into one pass per "
    "determinant via multi-aggregate grouping.",
    tags=("quality", "governance", "agg"),
)
def functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    n = t(spark, sf_dir, "nation")
    li = t(spark, sf_dir, "lineitem")

    def fd(df: DataFrame, det: str, dep, name: str) -> DataFrame:
        viol = (
            df.groupBy(det)
            .agg(F.count_distinct(dep).alias("nd"))
            .filter(F.col("nd") > 1)
            .agg(F.count(F.lit(1)).cast("bigint").alias("violating_keys"))
        )
        return viol.select(
            F.lit(name).alias("fd"),
            "violating_keys",
            (F.col("violating_keys") == 0).alias("holds"),
        )

    joined = li.select("l_orderkey").join(
        o.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    out = (
        fd(c, "c_custkey", F.col("c_nationkey"), "custkey->nationkey")
        .unionByName(fd(o, "o_custkey", F.col("o_orderstatus"), "custkey->orderstatus"))
        .unionByName(fd(n, "n_nationkey", F.col("n_regionkey"), "nationkey->regionkey"))
        .unionByName(fd(joined, "l_orderkey", F.col("o_orderdate"), "orderkey->orderdate"))
    )
    return out.orderBy("fd")


@register(
    "three_way_reconciliation",
    """
    WITH a AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 11 <> 0),
         b AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 13 <> 0),
         c AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 17 <> 0),
         u AS (
        SELECT coalesce(a.k, b.k, c.k) AS k,
               a.k IS NOT NULL AS in_a,
               b.k IS NOT NULL AS in_b,
               c.k IS NOT NULL AS in_c
        FROM a FULL JOIN b ON a.k = b.k FULL JOIN c ON coalesce(a.k, b.k) = c.k
    )
    SELECT CAST(in_a AS INT) AS in_source,
           CAST(in_b AS INT) AS in_staging,
           CAST(in_c AS INT) AS in_prod,
           CAST(count(*) AS BIGINT) AS n_keys
    FROM u GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
    "Three-way reconciliation (source vs staging vs prod): one "
    "full-outer join chain on the business key yields every Venn "
    "region's key count — which rows each environment is missing and "
    "where they diverge, the promotion gate for multi-environment "
    "pipelines (three deterministic drop patterns stand in for the "
    "three environments). At 100 TB all three legs co-partition on "
    "the key, so the chain is one shuffle-stage of key-only rows; "
    "region counts partial-combine. Every region count is exact.",
    tags=("join", "quality", "governance", "agg"),
)
def three_way_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    a = o.filter(F.col("k") % 11 != 0).select(F.col("k").alias("ka"))
    b = o.filter(F.col("k") % 13 != 0).select(F.col("k").alias("kb"))
    c = o.filter(F.col("k") % 17 != 0).select(F.col("k").alias("kc"))
    u = (
        a.join(b, a.ka == b.kb, "full")
        .join(c, F.coalesce(F.col("ka"), F.col("kb")) == c.kc, "full")
        .select(
            F.col("ka").isNotNull().cast("int").alias("in_source"),
            F.col("kb").isNotNull().cast("int").alias("in_staging"),
            F.col("kc").isNotNull().cast("int").alias("in_prod"),
        )
    )
    return (
        u.groupBy("in_source", "in_staging", "in_prod")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_keys"))
        .orderBy("in_source", "in_staging", "in_prod")
    )


@register(
    "open_backlog_aging",
    """
    WITH anchor AS (
        SELECT max(epoch_us(o_orderdate)) // 86400000000 AS today FROM orders
    ), open_orders AS (
        SELECT (SELECT today FROM anchor)
                 - epoch_us(o_orderdate) // 86400000000 AS age_days,
               o_totalprice
        FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT CASE WHEN age_days <= 30 THEN '0-30d'
                WHEN age_days <= 90 THEN '31-90d'
                WHEN age_days <= 365 THEN '91-365d'
                ELSE '365d+' END AS age_band,
           CAST(count(*) AS BIGINT) AS n_open,
           CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2)))) AS BIGINT)
               AS open_value_floor,
           CAST(max(age_days) AS BIGINT) AS oldest_days
    FROM open_orders GROUP BY 1 ORDER BY 1
    """,
    "Open-order backlog aging: unfulfilled ('O') orders bucketed by "
    "age against the data's own anchor date, with open value per "
    "band — the AR-aging-style operations report (a growing 365d+ "
    "band is stuck demand or a dead status pipeline; this fixture's "
    "perpetually-open old orders land there by construction, which "
    "the quality narrative flags). Integer epoch-day ages, DECIMAL "
    "value partials floored to BIGINT, broadcast scalar anchor; one "
    "filtered fact scan with a 4-value band key.",
    tags=("agg", "analytics", "quality", "timeseries"),
)
def open_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    anchor = o.agg(
        F.expr("max(unix_micros(o_orderdate)) div 86400000000").alias("today")
    )
    open_orders = (
        o.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(anchor))
        .select(
            (
                F.col("today")
                - F.expr("unix_micros(o_orderdate) div 86400000000")
            ).alias("age_days"),
            "o_totalprice",
        )
    )
    band = (
        F.when(F.col("age_days") <= 30, "0-30d")
        .when(F.col("age_days") <= 90, "31-90d")
        .when(F.col("age_days") <= 365, "91-365d")
        .otherwise("365d+")
    )
    return (
        open_orders.groupBy(band.alias("age_band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_open"),
            F.floor(F.sum(F.col("o_totalprice").cast("decimal(18,2)")))
            .cast("bigint")
            .alias("open_value_floor"),
            F.max("age_days").cast("bigint").alias("oldest_days"),
        )
        .orderBy("age_band")
    )


# =====================================================================
# Local differential privacy: randomized response
# =====================================================================
_DP_RR_ORACLE = """
    -- Warner's randomized response (1965), the canonical local-DP
    -- mechanism at epsilon = ln 3: each record reports its true bit
    -- with prob 3/4 and the flipped bit with prob 1/4, so the curator
    -- never holds an individual's true value, yet the de-biased
    -- aggregate S_hat = (4R - n)/2 is unbiased. The coin is the
    -- engine-independent congruence (ck * 2654435761) % 4 = 0 (the
    -- same derandomized-mechanism pattern as the codec/bootstrap
    -- queries), so the oracle replays every flip and the driver hash
    -- checks mechanism, estimator, and realized error exactly.
    WITH c AS MATERIALIZED (
        SELECT n_name,
               CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END AS b,
               CASE WHEN (c_custkey * 2654435761) % 4 = 0 THEN 1 ELSE 0 END
                   AS flip
        FROM customer JOIN nation ON c_nationkey = n_nationkey
    ),
    rr AS (
        SELECT n_name, b,
               CASE WHEN flip = 1 THEN 1 - b ELSE b END AS r
        FROM c
    )
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(b) AS BIGINT) AS true_cnt,
           CAST(sum(r) AS BIGINT) AS reported_cnt,
           round((4.0 * sum(r) - count(*)) / 2.0, 1) AS debiased_est,
           CAST(abs(4 * sum(r) - count(*) - 2 * sum(b)) AS BIGINT)
               AS abs_err_x2,
           round(ln(3), 6) AS epsilon
    FROM rr
    GROUP BY n_name
    ORDER BY n_name
"""


@register(
    "dp_randomized_response",
    _DP_RR_ORACLE,
    "LOCAL differential privacy via Warner's randomized response "
    "(epsilon = ln 3): the high-balance bit of every customer is "
    "flipped with probability 1/4 BEFORE aggregation - the "
    "per-record privatization a trusted-curator Laplace mechanism "
    "cannot give - then the per-nation count is de-biased with the "
    "exact rational estimator S_hat = (4R - n)/2 (halves are exact "
    "doubles, so the hash is safe). The coin is a deterministic "
    "congruence, making the whole mechanism replayable by the "
    "oracle: flips, reported counts, estimator, and realized "
    "absolute error (x2, integer) all hash-match. Scale shape: the "
    "flip is a map-side expression, the nation dim broadcasts, one "
    "partial-combined groupBy - indistinguishable from any other "
    "aggregate at 100 TB. Completes the governance tier "
    "(k-anonymity audit, PII redaction) with a release mechanism.",
    tags=("governance", "privacy", "aggregation", "round4"),
)
def dp_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    c = cust.join(
        F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey")
    ).select(
        "n_name",
        F.when(F.col("c_acctbal") > 5000, 1).otherwise(0).alias("b"),
        F.when((F.col("c_custkey") * 2654435761) % 4 == 0, 1)
        .otherwise(0)
        .alias("flip"),
    )
    rr = c.select(
        "n_name",
        "b",
        F.when(F.col("flip") == 1, 1 - F.col("b"))
        .otherwise(F.col("b"))
        .alias("r"),
    )
    return (
        rr.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("b").cast("long").alias("true_cnt"),
            F.sum("r").cast("long").alias("reported_cnt"),
        )
        .select(
            "n_name",
            "n",
            "true_cnt",
            "reported_cnt",
            F.round(
                (4.0 * F.col("reported_cnt") - F.col("n")) / 2.0, 1
            ).alias("debiased_est"),
            F.abs(
                4 * F.col("reported_cnt") - F.col("n") - 2 * F.col("true_cnt")
            )
            .cast("long")
            .alias("abs_err_x2"),
            F.round(F.log(F.lit(3.0)), 6).alias("epsilon"),
        )
        .orderBy("n_name")
    )


# =====================================================================
# l-diversity audit: the sensitive-attribute complement of
# k_anonymity_audit.
# =====================================================================
_LDIV_ORACLE = """
    WITH j AS (
        SELECT c.c_nationkey AS nation, c.c_mktsegment AS segment,
               o.o_orderstatus AS sensitive
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS MATERIALIZED (
        SELECT nation, segment,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT sensitive) AS BIGINT) AS diversity
        FROM j GROUP BY 1, 2
    ),
    ls AS (SELECT unnest([2, 3]) AS l)
    SELECT CAST(ls.l AS INT) AS l,
           CAST(count(*) AS BIGINT) AS groups_total,
           CAST(sum(CASE WHEN g.diversity >= ls.l THEN 1 ELSE 0 END)
                AS BIGINT) AS groups_ok,
           CAST(sum(CASE WHEN g.diversity < ls.l THEN g.n_rows ELSE 0 END)
                AS BIGINT) AS rows_at_risk,
           CAST(min(g.diversity) AS BIGINT) AS min_diversity
    FROM g, ls GROUP BY ls.l ORDER BY l
"""


@register(
    "l_diversity_audit",
    _LDIV_ORACLE,
    "l-diversity audit (Machanavajjhala et al. 2007), the "
    "sensitive-attribute complement of k_anonymity_audit: for each "
    "quasi-identifier group (nation, segment) count DISTINCT values "
    "of the sensitive attribute (order status); a group is l-diverse "
    "iff it carries >= l distinct sensitive values, else its rows "
    "are vulnerable to homogeneity attacks even when k-anonymous. "
    "Per-l sweep (l in 2, 3) over the metadata-scale group table: "
    "groups passing, rows at risk, minimum diversity. One "
    "fact-sized groupBy (count + count distinct per QI tuple); "
    "the l sweep is a 2-row broadcast cross join.",
    tags=("governance", "privacy", "agg", "round4"),
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.col("o_orderstatus").alias("sensitive"),
    )
    g = j.groupBy("nation", "segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count_distinct("sensitive").cast("bigint").alias("diversity"),
    )
    ls = spark.range(2, 4).select(F.col("id").cast("int").alias("l"))
    return (
        g.crossJoin(F.broadcast(ls))
        .groupBy("l")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("groups_total"),
            F.sum(F.when(F.col("diversity") >= F.col("l"), 1).otherwise(0))
            .cast("bigint")
            .alias("groups_ok"),
            F.sum(
                F.when(F.col("diversity") < F.col("l"), F.col("n_rows")).otherwise(0)
            )
            .cast("bigint")
            .alias("rows_at_risk"),
            F.min("diversity").cast("bigint").alias("min_diversity"),
        )
        .orderBy("l")
    )


# =====================================================================
# t-closeness audit: the distributional member of the privacy trio
# (k-anonymity, l-diversity, t-closeness).
# =====================================================================
_TCLOSE_ORACLE = """
    -- Earth-mover distance between each QI group's sensitive-value
    -- distribution (order status, ordered F < O < P) and the global
    -- one, computed EXACTLY: with cumulative counts cum_g over n_g
    -- rows and CUM over N rows, EMD = sum_j |cum_g_j*N - CUM_j*n_g|
    -- / ((k-1) * n_g * N) - one common denominator, so the 1e-12
    -- floor-scaled value is a pure integer and the t <= 0.2 flag is
    -- an integer comparison.
    WITH j AS (
        SELECT c.c_nationkey AS nation, c.c_mktsegment AS segment,
               o.o_orderstatus AS s
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS MATERIALIZED (
        SELECT nation, segment,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN s = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS le_f,
               CAST(sum(CASE WHEN s IN ('F', 'O') THEN 1 ELSE 0 END)
                    AS BIGINT) AS le_o
        FROM j GROUP BY 1, 2
    ),
    tot AS MATERIALIZED (
        SELECT CAST(sum(n_rows) AS BIGINT) AS nn,
               CAST(sum(le_f) AS BIGINT)   AS tle_f,
               CAST(sum(le_o) AS BIGINT)   AS tle_o
        FROM g
    )
    SELECT g.nation, g.segment, g.n_rows,
           CAST(((abs(g.le_f::HUGEINT * tot.nn - tot.tle_f::HUGEINT * g.n_rows)
                  + abs(g.le_o::HUGEINT * tot.nn - tot.tle_o::HUGEINT * g.n_rows))
                 * 1000000000000)
                // (2::HUGEINT * g.n_rows * tot.nn) AS BIGINT) AS emd_q,
           (((abs(g.le_f::HUGEINT * tot.nn - tot.tle_f::HUGEINT * g.n_rows)
              + abs(g.le_o::HUGEINT * tot.nn - tot.tle_o::HUGEINT * g.n_rows))
             * 1000000000000)
            // (2::HUGEINT * g.n_rows * tot.nn) <= 200000000000) AS t_close_02
    FROM g CROSS JOIN tot
    ORDER BY nation, segment
"""


@register(
    "t_closeness_audit",
    _TCLOSE_ORACLE,
    "t-closeness audit (Li, Li, Venkatasubramanian 2007), completing "
    "the privacy trio next to k_anonymity_audit and "
    "l_diversity_audit: a QI group leaks through its sensitive-value "
    "DISTRIBUTION even when it is k-anonymous and l-diverse, so each "
    "(nation, segment) group's order-status distribution is compared "
    "to the global one by ordered earth-mover distance. Exactness: "
    "cumulative counts share the single common denominator "
    "(k-1)*n_g*N, so the EMD floor-scales to a pure 1e-12-grid "
    "integer (DECIMAL/HUGEINT - floats never enter) and the "
    "t <= 0.2 flag is an integer comparison. One fact-sized groupBy; "
    "the global totals broadcast from the group table itself.",
    tags=("governance", "privacy", "agg", "round4"),
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.col("o_orderstatus").alias("s"),
    )
    g = j.groupBy("nation", "segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("s") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("le_f"),
        F.sum(F.when(F.col("s").isin("F", "O"), 1).otherwise(0))
        .cast("bigint")
        .alias("le_o"),
    )
    tot = g.agg(
        F.sum("n_rows").cast("bigint").alias("nn"),
        F.sum("le_f").cast("bigint").alias("tle_f"),
        F.sum("le_o").cast("bigint").alias("tle_o"),
    )
    emd_q = (
        "CAST(((abs(CAST(le_f AS DECIMAL(38,0)) * nn "
        "- CAST(tle_f AS DECIMAL(38,0)) * n_rows) "
        "+ abs(CAST(le_o AS DECIMAL(38,0)) * nn "
        "- CAST(tle_o AS DECIMAL(38,0)) * n_rows)) * 1000000000000) "
        "div (CAST(2 AS DECIMAL(38,0)) * n_rows * nn) AS BIGINT)"
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .selectExpr(
            "nation",
            "segment",
            "n_rows",
            f"{emd_q} AS emd_q",
            f"({emd_q} <= 200000000000) AS t_close_02",
        )
        .orderBy("nation", "segment")
    )


# =====================================================================
# Governed view: row-level security + column masking as a reusable
# view layer.
# =====================================================================
_GOVERNED_ORACLE = """
    -- The analyst-facing governed view: rows restricted to an
    -- allowlisted nation set (row-level security), phone masked to
    -- its last four digits (column masking), balances bucketed to
    -- $1000 bands (generalization). The audit aggregates run ON the
    -- governed view only - raw values never appear in the output.
    WITH governed AS (
        SELECT c_nationkey,
               '***-' || substring(c_name, length(c_name) - 3, 4)
                   AS name_masked,
               CAST(floor(c_acctbal / 1000) AS BIGINT) * 1000 AS bal_band
        FROM customer
        WHERE c_nationkey IN (1, 3, 5, 7, 9, 11)
    )
    SELECT CAST(c_nationkey AS BIGINT) AS nation,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(count(DISTINCT name_masked) AS BIGINT) AS distinct_masks,
           CAST(min(bal_band) AS BIGINT) AS min_band,
           CAST(max(bal_band) AS BIGINT) AS max_band
    FROM governed GROUP BY 1 ORDER BY 1
"""


@register(
    "governed_view_masking",
    _GOVERNED_ORACLE,
    "Row- and column-level security as a governed VIEW layer - the "
    "pattern warehouses implement policies with when native RLS "
    "isn't available: the view restricts rows to an allowlisted "
    "nation set, masks the customer name to its last four characters, "
    "and generalizes balances to $1000 bands; downstream analytics "
    "run ONLY against the view, so raw values cannot leak into "
    "results (the audit output proves it: distinct mask counts and "
    "band extrema only). The row filter pushes down to the scan "
    "like any predicate - governance costs nothing at 100 TB. "
    "Complements pii_redaction (content scrubbing) and the "
    "k-anonymity/l-diversity/t-closeness audits (risk measurement) "
    "with the ACCESS-layer control.",
    tags=("governance", "privacy", "sql", "round4"),
)
def governed_view_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    governed = c.filter(F.col("c_nationkey").isin(1, 3, 5, 7, 9, 11)).select(
        "c_nationkey",
        F.concat(
            F.lit("***-"),
            F.substring(F.col("c_name"), -4, 4),
        ).alias("name_masked"),
        (F.floor(F.col("c_acctbal") / 1000).cast("bigint") * 1000).alias(
            "bal_band"
        ),
    )
    return (
        governed.groupBy(F.col("c_nationkey").cast("bigint").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.count_distinct("name_masked").cast("bigint").alias("distinct_masks"),
            F.min("bal_band").cast("bigint").alias("min_band"),
            F.max("bal_band").cast("bigint").alias("max_band"),
        )
        .orderBy("nation")
    )
