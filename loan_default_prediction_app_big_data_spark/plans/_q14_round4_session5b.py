"""Round-4 session-5 additions, part 2: SQL-surface modernization,
temporal/ML/IR closures, and exact-geometry tiers.

Registration ORDER is part of the driver contract - segments are
imported by the facade in fixed sequence; do not reorder.
"""

from __future__ import annotations

from ..scratch import tmp_io
from ._core import F, SparkSession, DataFrame, register, t


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
# Exact k-NN classification over embeddings: the supervised complement
# of the ANN retrieval tier.
# =====================================================================

_KNN_ORACLE = """
    -- Exact 5-NN majority-vote classification: queries are every
    -- 100th vector, the gallery is the rest; neighbors rank by
    -- 6dp-rounded cosine (rounding collapses last-ulp summation
    -- differences; ties break on gallery id), votes tie-break to the
    -- smaller label. Every step is deterministic, so the full
    -- prediction table hash-matches.
    WITH q AS MATERIALIZED (
        SELECT vec_id AS qid, embedding AS qvec, label AS true_label
        FROM embeddings WHERE vec_id % 100 = 0
    ),
    g AS MATERIALIZED (
        SELECT vec_id AS gid, embedding AS gvec, label
        FROM embeddings WHERE vec_id % 100 <> 0
    ),
    nn AS MATERIALIZED (
        SELECT qid, true_label, gid, label,
               row_number() OVER (
                   PARTITION BY qid
                   ORDER BY round(list_cosine_similarity(
                       qvec::DOUBLE[], gvec::DOUBLE[]), 6) DESC, gid
               ) AS rn
        FROM q, g
        QUALIFY rn <= 5
    ),
    votes AS (
        SELECT qid, true_label, label,
               CAST(count(*) AS BIGINT) AS n_votes,
               row_number() OVER (
                   PARTITION BY qid ORDER BY count(*) DESC, label
               ) AS vr
        FROM nn GROUP BY qid, true_label, label
    )
    SELECT qid AS query_id,
           CAST(true_label AS BIGINT) AS true_label,
           CAST(label AS BIGINT)      AS pred_label,
           n_votes,
           (label = true_label)       AS correct
    FROM votes WHERE vr = 1
    ORDER BY query_id
"""


@register(
    "knn_classify_exact",
    _KNN_ORACLE,
    "Exact k-NN classification (k=5, cosine) over the embedding "
    "table - the supervised complement of the ANN retrieval tier "
    "(ann_lsh_topk / ivf_*): every 100th vector is a query, the "
    "rest are the labeled gallery, neighbors rank by 6dp-rounded "
    "native-expression cosine with gallery-id tie-breaks, and the "
    "majority vote tie-breaks to the smaller label, so the whole "
    "prediction table is deterministic and hash-exact. Scale: the "
    "bounded query set BROADCASTS against the gallery scan "
    "(map-side scoring, the brute-force baseline every ANN recall "
    "certification needs); per-query top-5 extraction shuffles "
    "only (query x 5) rows after partial rank pruning; at larger "
    "query sets the IVF-bucketed path takes over.",
    tags=("similarity", "ml", "llm-pipeline", "round4"),
)
def knn_classify_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.similarity import cosine

    emb = t(spark, sf_dir, "embeddings")
    # Probe-set contract: the broadcast query side is capped (identity
    # at fixture scale; at corpus scale a query-table-sized kNN belongs
    # on the blocked-GEMM path, not a broadcast cross join). The limit
    # makes the bound provable to the BNLJ plan audit.
    q = (
        emb.filter(F.col("vec_id") % 100 == 0)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qvec"),
            F.col("label").alias("true_label"),
        )
        .limit(10_000)
    )
    g = emb.filter(F.col("vec_id") % 100 != 0).select(
        F.col("vec_id").alias("gid"),
        F.col("embedding").alias("gvec"),
        "label",
    )
    scored = g.crossJoin(F.broadcast(q)).select(
        "qid",
        "true_label",
        "gid",
        "label",
        F.round(
            cosine(
                F.col("qvec").cast("array<double>"),
                F.col("gvec").cast("array<double>"),
            ),
            6,
        ).alias("cos6"),
    )
    wq = W.partitionBy("qid").orderBy(F.desc("cos6"), "gid")
    nn = scored.withColumn("rn", F.row_number().over(wq)).filter(F.col("rn") <= 5)
    wv = W.partitionBy("qid").orderBy(F.desc("n_votes"), "label")
    votes = (
        nn.groupBy("qid", "true_label", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_votes"))
        .withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
    )
    return votes.select(
        F.col("qid").alias("query_id"),
        F.col("true_label").cast("bigint").alias("true_label"),
        F.col("label").cast("bigint").alias("pred_label"),
        "n_votes",
        (F.col("label") == F.col("true_label")).alias("correct"),
    ).orderBy("query_id")


# =====================================================================
# Multivariate OLS by normal equations (Cramer 3x3) - exact moment
# sums, one shared closed-form text.
# =====================================================================

# 3x3 Cramer solution of the normal equations. The determinant texts
# are SHARED between engines; the moment-sum CTE supplies
# exactly-summed integers cast to DOUBLE once.
_D = {
    "n": "CAST(n AS DOUBLE)", "s1": "CAST(s1 AS DOUBLE)",
    "s2": "CAST(s2 AS DOUBLE)", "sy": "CAST(sy AS DOUBLE)",
    "s11": "CAST(s11 AS DOUBLE)", "s12": "CAST(s12 AS DOUBLE)",
    "s22": "CAST(s22 AS DOUBLE)", "s1y": "CAST(s1y AS DOUBLE)",
    "s2y": "CAST(s2y AS DOUBLE)", "syy": "CAST(syy AS DOUBLE)",
}


def _det3(a, b, c, d, e, f, g, h, i):
    """Text of a 3x3 determinant |a b c; d e f; g h i| with pinned
    association order."""
    return (f"({a} * ({e} * {i} - {f} * {h}) "
            f"- {b} * ({d} * {i} - {f} * {g}) "
            f"+ {c} * ({d} * {h} - {e} * {g}))")


_OLS_DET = _det3(_D["n"], _D["s1"], _D["s2"],
                 _D["s1"], _D["s11"], _D["s12"],
                 _D["s2"], _D["s12"], _D["s22"])
_OLS_B0 = _det3(_D["sy"], _D["s1"], _D["s2"],
                _D["s1y"], _D["s11"], _D["s12"],
                _D["s2y"], _D["s12"], _D["s22"])
_OLS_B1 = _det3(_D["n"], _D["sy"], _D["s2"],
                _D["s1"], _D["s1y"], _D["s12"],
                _D["s2"], _D["s2y"], _D["s22"])
_OLS_B2 = _det3(_D["n"], _D["s1"], _D["sy"],
                _D["s1"], _D["s11"], _D["s1y"],
                _D["s2"], _D["s12"], _D["s2y"])

_OLS_EXPRS = [
    f"round({_OLS_B0} / {_OLS_DET}, 6) AS b0",
    f"round({_OLS_B1} / {_OLS_DET}, 6) AS b1",
    f"round({_OLS_B2} / {_OLS_DET}, 6) AS b2",
    # R^2 = 1 - SSE/SST with SSE = Syy - b.rhs (exact-moment identity)
    f"round(1 - ({_D['syy']} - ({_OLS_B0} / {_OLS_DET}) * {_D['sy']} "
    f"- ({_OLS_B1} / {_OLS_DET}) * {_D['s1y']} "
    f"- ({_OLS_B2} / {_OLS_DET}) * {_D['s2y']}) "
    f"/ ({_D['syy']} - {_D['sy']} * {_D['sy']} / {_D['n']}), 6) AS r2",
]

_OLS_ORACLE = f"""
    WITH per_order AS MATERIALIZED (
        SELECT l_orderkey,
               CAST(count(*) AS HUGEINT) AS x1,
               CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS HUGEINT) AS x2,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS HUGEINT) AS y
        FROM lineitem GROUP BY 1
    ),
    sums AS MATERIALIZED (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
               sum(x1 * x1) AS s11, sum(x1 * x2) AS s12,
               sum(x2 * x2) AS s22, sum(x1 * y) AS s1y,
               sum(x2 * y) AS s2y, sum(y * y) AS syy
        FROM per_order
    )
    SELECT n, {', '.join(_OLS_EXPRS)}
    FROM sums
"""


@register(
    "multivariate_ols_normal_eq",
    _OLS_ORACLE,
    "Multivariate OLS (order revenue ~ item count + total quantity, "
    "with intercept) solved by the 3x3 normal equations through "
    "Cramer's rule: ten moment sums accumulate EXACTLY in "
    "DECIMAL(38,0)/HUGEINT partials over one per-order aggregate, "
    "then the closed-form determinants run once on doubles cast "
    "from those integers with byte-identical formula text on both "
    "engines - the multivariate extension of the certified "
    "regression_aggregates (slope/intercept) and "
    "correlation_matrix_exact moment discipline. R^2 comes from "
    "the SSE = Syy - b.rhs identity, no second data pass. Scale: "
    "two partial-combined aggregates (per-order, then moments); "
    "the solve is a 1-row expression.",
    tags=("ml", "stats", "agg", "round4"),
)
def multivariate_ols_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("x1"),
        F.sum(F.floor("l_quantity").cast("bigint"))
        .cast("decimal(38,0)")
        .alias("x2"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("y"),
    )
    sums = per_order.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    return sums.selectExpr("n", *_OLS_EXPRS)


# =====================================================================
# Exact decision stump (CART root split) - tree learning as prefix
# sums + an exact rational argmin.
# =====================================================================

_STUMP_ORACLE = """
    WITH scored AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad,
               ((o_orderkey % 99991) * 31 + (o_custkey % 99991) * 17)
                   % 99991 % 70000
                   + CASE WHEN o_orderstatus = 'F' THEN 30000 ELSE 0 END
                   AS score
        FROM orders
    ),
    b AS MATERIALIZED (
        SELECT score // 2000 AS band,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(bad) AS BIGINT) AS n_bad
        FROM scored GROUP BY 1
    ),
    c AS MATERIALIZED (
        SELECT band,
               CAST(sum(n) OVER (ORDER BY band) AS BIGINT)     AS nl,
               CAST(sum(n_bad) OVER (ORDER BY band) AS BIGINT) AS badl,
               CAST(sum(n) OVER () AS BIGINT)     AS nt,
               CAST(sum(n_bad) OVER () AS BIGINT) AS badt
        FROM b
    ),
    cand AS (
        -- Gini argmin over candidate splits: maximize
        -- f = (bad_l^2+good_l^2)/n_l + (bad_r^2+good_r^2)/n_r,
        -- floor-scaled to the 1e-12 grid over the common denominator
        -- n_l*n_r so the comparison never touches a float.
        SELECT band, nl, badl, nt - nl AS nr, badt - badl AS badr,
               CAST((((badl::HUGEINT * badl + (nl - badl)::HUGEINT * (nl - badl))
                       * (nt - nl)
                     + ((badt - badl)::HUGEINT * (badt - badl)
                        + ((nt - nl) - (badt - badl))::HUGEINT
                          * ((nt - nl) - (badt - badl)))
                       * nl) * 1000000000000)
                    // (nl::HUGEINT * (nt - nl)) AS BIGINT) AS purity_q
        FROM c WHERE nl > 0 AND nt - nl > 0
    ),
    best AS (
        SELECT *, row_number() OVER (ORDER BY purity_q DESC, band) AS rn
        FROM cand
    )
    SELECT CAST((band + 1) * 2000 AS BIGINT) AS split_threshold,
           purity_q,
           nl AS n_left, badl AS bad_left,
           nr AS n_right, badr AS bad_right,
           round(CAST(badl AS DOUBLE) / CAST(nl AS DOUBLE), 6) AS left_rate,
           round(CAST(badr AS DOUBLE) / CAST(nr AS DOUBLE), 6) AS right_rate
    FROM best WHERE rn = 1
"""


@register(
    "decision_stump_exact",
    _STUMP_ORACLE,
    "Exact decision-stump learning (the CART root split) as prefix "
    "sums plus an exact rational argmin: candidate thresholds are "
    "the 50 score-band boundaries, each split's Gini objective "
    "f = (bad_l^2+good_l^2)/n_l + (bad_r^2+good_r^2)/n_r is "
    "floor-scaled over the common denominator n_l*n_r to the 1e-12 "
    "grid (HUGEINT/DECIMAL - no float ever enters the comparison), "
    "and the argmax tie-breaks to the smaller threshold. This is "
    "the primitive a distributed tree learner evaluates per node - "
    "histogram counts, prefix sums, one argmin - expressed "
    "declaratively; iterating it per tree level is the XGBoost/"
    "LightGBM histogram algorithm. One fact pass (50-band groupBy); "
    "everything after runs on 50 rows.",
    tags=("ml", "credit", "agg", "round4"),
)
def decision_stump_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ._q06_credit_stats import _scored_orders

    b = (
        _scored_orders(spark, sf_dir)
        .groupBy(F.expr("score div 2000").alias("band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("bad").cast("bigint").alias("n_bad"),
        )
    )
    wcum = W.orderBy("band").rowsBetween(W.unboundedPreceding, 0)
    wall = W.partitionBy()
    c = b.select(
        "band",
        F.sum("n").over(wcum).cast("bigint").alias("nl"),
        F.sum("n_bad").over(wcum).cast("bigint").alias("badl"),
        F.sum("n").over(wall).cast("bigint").alias("nt"),
        F.sum("n_bad").over(wall).cast("bigint").alias("badt"),
    )
    cand = c.filter((F.col("nl") > 0) & (F.col("nt") - F.col("nl") > 0)).selectExpr(
        "band",
        "nl",
        "badl",
        "nt - nl AS nr",
        "badt - badl AS badr",
        "CAST((((CAST(badl AS DECIMAL(38,0)) * badl "
        "+ CAST(nl - badl AS DECIMAL(38,0)) * (nl - badl)) * (nt - nl) "
        "+ (CAST(badt - badl AS DECIMAL(38,0)) * (badt - badl) "
        "+ CAST((nt - nl) - (badt - badl) AS DECIMAL(38,0)) "
        "* ((nt - nl) - (badt - badl))) * nl) * 1000000000000) "
        "div (CAST(nl AS DECIMAL(38,0)) * (nt - nl)) AS BIGINT) AS purity_q",
    )
    best = cand.withColumn(
        "rn",
        F.row_number().over(W.orderBy(F.desc("purity_q"), "band")),
    ).filter(F.col("rn") == 1)
    return best.select(
        ((F.col("band") + 1) * 2000).cast("bigint").alias("split_threshold"),
        F.col("purity_q").cast("bigint").alias("purity_q"),
        F.col("nl").alias("n_left"),
        F.col("badl").alias("bad_left"),
        F.col("nr").alias("n_right"),
        F.col("badr").alias("bad_right"),
        F.round(F.col("badl").cast("double") / F.col("nl").cast("double"), 6).alias(
            "left_rate"
        ),
        F.round(F.col("badr").cast("double") / F.col("nr").cast("double"), 6).alias(
            "right_rate"
        ),
    )


# =====================================================================
# Item-item collaborative filtering: the oracle-exact neighborhood
# model next to the (rows-only) MLlib ALS.
# =====================================================================

_ITEMCF_ORACLE = """
    -- Item-item cosine over binary basket vectors: co-occurrence
    -- counts from one within-order pair join, cosine =
    -- co / sqrt(n_a * n_b) on exact integers rounded to 6dp, top-3
    -- neighbors for the 20 most-popular anchor items. Deterministic
    -- end to end (anchor and neighbor ranks tie-break on part id) -
    -- the hash-exact collaborative-filtering twin of the seed-bound
    -- MLlib ALS factorization (als_recommendations, rows-only).
    WITH baskets AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    ni AS MATERIALIZED (
        SELECT pk, CAST(count(*) AS BIGINT) AS n FROM baskets GROUP BY pk
    ),
    anchors AS MATERIALIZED (
        SELECT pk, n, row_number() OVER (ORDER BY n DESC, pk) AS ar
        FROM ni QUALIFY ar <= 20
    ),
    pairs AS MATERIALIZED (
        SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS co
        FROM baskets a
        JOIN anchors an ON an.pk = a.pk
        JOIN baskets b ON a.ok = b.ok AND b.pk <> a.pk
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ),
    scored AS (
        SELECT p.pa, p.pb, p.co,
               round(CAST(p.co AS DOUBLE)
                     / sqrt(CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)), 6)
                   AS cos_sim,
               row_number() OVER (
                   PARTITION BY p.pa
                   ORDER BY round(CAST(p.co AS DOUBLE)
                     / sqrt(CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)), 6)
                     DESC, p.pb
               ) AS rk
        FROM pairs p
        JOIN ni na ON na.pk = p.pa
        JOIN ni nb ON nb.pk = p.pb
    )
    SELECT pa AS item, CAST(rk AS BIGINT) AS rank, pb AS neighbor,
           co AS co_orders, cos_sim
    FROM scored WHERE rk <= 3
    ORDER BY item, rank
"""


@register(
    "item_item_collaborative_topk",
    _ITEMCF_ORACLE,
    "Item-item collaborative filtering (the neighborhood model of "
    "Sarwar et al. 2001): binary basket vectors per part, "
    "co-occurrence via ONE within-order self-join restricted to the "
    "20 most-popular anchor items, cosine co/sqrt(n_a*n_b) on exact "
    "BIGINT counts rounded at 6dp, top-3 neighbors per anchor with "
    "part-id tie-breaks - fully deterministic and hash-exact, the "
    "oracle-checkable complement to the seed-bound MLlib ALS "
    "(als_recommendations stays rows-only because factorization has "
    "no portable oracle). Scale: the pair join fans out only from "
    "anchor rows (anchor filter BEFORE the join, so pair volume is "
    "anchors x basket-width, not catalog^2); counts partial-"
    "aggregate; the min-support HAVING prunes the tail.",
    tags=("analytics", "ml", "similarity", "round4"),
)
def item_item_collaborative_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    li = t(spark, sf_dir, "lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    ni = baskets.groupBy("pk").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    anchors = (
        ni.orderBy(F.desc("n"), "pk")
        .limit(20)
        .select("pk")
    )
    a = baskets.join(F.broadcast(anchors), "pk").select(
        F.col("ok"), F.col("pk").alias("pa")
    )
    b = baskets.select(F.col("ok"), F.col("pk").alias("pb"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("pb") != F.col("pa"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("co"))
        .filter(F.col("co") >= 2)
    )
    # Anchor-side counts: semi-restrict the catalog-sized `ni` to the
    # 20 anchors BEFORE broadcasting (broadcasting full `ni` would be
    # the ADVICE-r3 scale bug — part counts are catalog-bounded, not
    # small). The neighbor-side counts join shuffle-side, co-keyed.
    na = (
        ni.join(F.broadcast(anchors), "pk")
        .select(F.col("pk").alias("pa"), F.col("n").alias("n_a"))
    )
    nb = ni.select(F.col("pk").alias("pb"), F.col("n").alias("n_b"))
    cos = F.round(
        F.col("co").cast("double")
        / F.sqrt(F.col("n_a").cast("double") * F.col("n_b").cast("double")),
        6,
    )
    scored = (
        pairs.join(F.broadcast(na), "pa")
        .join(nb, "pb")
        .select("pa", "pb", "co", cos.alias("cos_sim"))
    )
    wk = W.partitionBy("pa").orderBy(F.desc("cos_sim"), "pb")
    return (
        scored.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("pa").alias("item"),
            F.col("rk").cast("bigint").alias("rank"),
            F.col("pb").alias("neighbor"),
            F.col("co").alias("co_orders"),
            "cos_sim",
        )
        .orderBy("item", "rank")
    )


# =====================================================================
# Sequential probability ratio test (Wald): anytime-valid monitoring
# of the daily failure rate.
# =====================================================================

_SPRT_ORACLE = """
    -- Wald SPRT of H0: p = 0.24 vs H1: p = 0.26 over the daily
    -- order-failure stream, alpha = beta = 0.05 (log boundaries
    -- +-ln(19)). Each day's log-likelihood-ratio increment is
    -- micro-nat-rounded then cumulated as BIGINT (associative ->
    -- layout-independent); the first boundary crossing is a window
    -- min over the day table (metadata scale). decision is the
    -- sticky post-crossing state - the anytime-valid sequential
    -- monitor a daily quality gate runs.
    WITH daily AS MATERIALIZED (
        SELECT epoch_us(o_orderdate) // 86400000000 AS day,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    llr AS MATERIALIZED (
        SELECT day, n, x,
               x * CAST(round(ln(0.26 / 0.24) * 1e6) AS BIGINT)
               + (n - x) * CAST(round(ln(0.74 / 0.76) * 1e6) AS BIGINT)
                   AS llr_micro
        FROM daily
    ),
    cum AS MATERIALIZED (
        SELECT day, n, x, llr_micro,
               CAST(sum(llr_micro) OVER (ORDER BY day) AS BIGINT)
                   AS cum_llr_micro
        FROM llr
    ),
    crossings AS (
        SELECT day, n, x, llr_micro, cum_llr_micro,
               min(CASE WHEN cum_llr_micro >=
                        CAST(round(ln(19.0) * 1e6) AS BIGINT)
                        THEN day END) OVER () AS first_hi,
               min(CASE WHEN cum_llr_micro <=
                        -CAST(round(ln(19.0) * 1e6) AS BIGINT)
                        THEN day END) OVER () AS first_lo
        FROM cum
    )
    SELECT CAST(day AS BIGINT) AS day, n, x, llr_micro, cum_llr_micro,
           CASE
             WHEN first_hi IS NOT NULL
                  AND (first_lo IS NULL OR first_hi <= first_lo)
                  AND day >= first_hi THEN 'accept_h1'
             WHEN first_lo IS NOT NULL
                  AND (first_hi IS NULL OR first_lo < first_hi)
                  AND day >= first_lo THEN 'accept_h0'
             ELSE 'continue'
           END AS decision
    FROM crossings
    ORDER BY day
"""


@register(
    "sprt_sequential_test",
    _SPRT_ORACLE,
    "Wald sequential probability ratio test over the daily order-"
    "failure stream (H0: p=0.24 vs H1: p=0.26, alpha=beta=0.05): the "
    "anytime-valid monitor that modern experimentation stacks run "
    "instead of fixed-horizon tests - peeking is sound because the "
    "+-ln(19) boundaries bound both error rates at ANY stopping "
    "day. Exactness: per-day LLR increments use micro-nat-rounded "
    "ln constants times exact BIGINT counts, cumulate associatively, "
    "and the first-crossing day is a window min over the day table; "
    "the decision column is the sticky post-crossing state with the "
    "earlier crossing winning. One fact pass (daily groupBy); all "
    "windows run on ~2.4k day rows.",
    tags=("stats", "analytics", "window", "round4"),
)
def sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            (F.unix_micros(F.col("o_orderdate").cast("timestamp")) / F.lit(86400000000))
            .cast("bigint")
            .alias("day")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
            .cast("bigint")
            .alias("x"),
        )
    )
    import math

    up = int(round(math.log(0.26 / 0.24) * 1e6))
    dn = int(round(math.log(0.74 / 0.76) * 1e6))
    bound = int(round(math.log(19.0) * 1e6))
    llr = daily.select(
        "day",
        "n",
        "x",
        (F.col("x") * F.lit(up) + (F.col("n") - F.col("x")) * F.lit(dn)).alias(
            "llr_micro"
        ),
    )
    wc = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    wall = W.partitionBy()
    cum = llr.select(
        "day",
        "n",
        "x",
        "llr_micro",
        F.sum("llr_micro").over(wc).cast("bigint").alias("cum_llr_micro"),
    )
    crossings = cum.select(
        "*",
        F.min(F.when(F.col("cum_llr_micro") >= bound, F.col("day")))
        .over(wall)
        .alias("first_hi"),
        F.min(F.when(F.col("cum_llr_micro") <= -bound, F.col("day")))
        .over(wall)
        .alias("first_lo"),
    )
    decision = (
        F.when(
            F.col("first_hi").isNotNull()
            & (F.col("first_lo").isNull() | (F.col("first_hi") <= F.col("first_lo")))
            & (F.col("day") >= F.col("first_hi")),
            F.lit("accept_h1"),
        )
        .when(
            F.col("first_lo").isNotNull()
            & (F.col("first_hi").isNull() | (F.col("first_lo") < F.col("first_hi")))
            & (F.col("day") >= F.col("first_lo")),
            F.lit("accept_h0"),
        )
        .otherwise(F.lit("continue"))
    )
    return crossings.select(
        F.col("day").cast("bigint").alias("day"),
        "n",
        "x",
        "llr_micro",
        "cum_llr_micro",
        decision.alias("decision"),
    ).orderBy("day")


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
# nDCG@10 ranking evaluation: the graded-relevance IR metric next to
# the RRF fusion and recall certifications.
# =====================================================================

import math as _math

_NDCG_K = 10
#: discount constants round(1e9 / log2(i+1)) for positions 1..10 -
#: fixed integers, identical on both engines by construction.
_NDCG_C = [int(round(1e9 / _math.log2(i + 1))) for i in range(1, _NDCG_K + 1)]

_NDCG_ORACLE = f"""
    -- nDCG@10 of the term-frequency retriever against graded labels
    -- (en=3, de/fr=2, else=1 - independent of the ranking signal):
    -- DCG = sum rel_i * c_i with c_i = round(1e9/log2(i+1)) pinned
    -- INTEGER constants, so both DCG and the ideal DCG are exact
    -- BIGINTs and only the final ratio divides.
    WITH scored AS MATERIALIZED (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '),
                                    x -> x = 'data')) AS BIGINT) AS tf,
               CASE WHEN lang = 'en' THEN 3
                    WHEN lang IN ('de', 'fr') THEN 2
                    ELSE 1 END AS rel
        FROM documents
    ),
    ranked AS (
        SELECT rel, row_number() OVER (ORDER BY tf DESC, doc_id) AS r
        FROM scored QUALIFY r <= {_NDCG_K}
    ),
    ideal AS (
        SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS r
        FROM scored QUALIFY r <= {_NDCG_K}
    ),
    c AS (
        SELECT unnest(generate_series(1, {_NDCG_K})) AS r,
               CAST(unnest({_NDCG_C}) AS BIGINT) AS disc
    ),
    dcg AS (
        SELECT CAST(sum(ranked.rel * c.disc) AS BIGINT) AS dcg_nano
        FROM ranked JOIN c ON ranked.r = c.r
    ),
    idcg AS (
        SELECT CAST(sum(ideal.rel * c.disc) AS BIGINT) AS idcg_nano
        FROM ideal JOIN c ON ideal.r = c.r
    )
    SELECT dcg_nano, idcg_nano,
           round(CAST(dcg_nano AS DOUBLE) / CAST(idcg_nano AS DOUBLE), 6)
               AS ndcg
    FROM dcg CROSS JOIN idcg
"""


@register(
    "ranking_ndcg_eval",
    _NDCG_ORACLE,
    "nDCG@10 evaluation of a retriever against graded relevance "
    "labels - the standard ranking metric (Jarvelin-Kekalainen "
    "2002) completing the IR-eval surface next to "
    "reciprocal_rank_fusion and the ANN recall certifications. "
    "Exactness trick: the position discounts 1/log2(i+1) are "
    "PRECOMPUTED integer constants round(1e9/log2(i+1)) baked into "
    "both plans, so DCG and ideal-DCG are exact BIGINT dot products "
    "(relevance x discount) and only the final ndcg ratio divides. "
    "The ideal ranking ties on doc_id, making every step "
    "deterministic. Scale: two TakeOrderedAndProject top-10s; the "
    "discount join touches 10 rows.",
    tags=("text", "analytics", "llm-pipeline", "round4"),
)
def ranking_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.text import tokens

    docs = t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.size(F.filter(tokens("text"), lambda x: x == "data"))
        .cast("bigint")
        .alias("tf"),
        F.when(F.col("lang") == "en", 3)
        .when(F.col("lang").isin("de", "fr"), 2)
        .otherwise(1)
        .alias("rel"),
    )

    disc = spark.createDataFrame(
        [(i + 1, _NDCG_C[i]) for i in range(_NDCG_K)], "r int, disc long"
    )

    def topk(order_cols):
        top = scored.orderBy(*order_cols).limit(_NDCG_K)
        return top.select(
            "rel", F.row_number().over(W.orderBy(*order_cols)).alias("r")
        )

    ranked = topk([F.desc("tf"), F.col("doc_id")])
    ideal = topk([F.desc("rel"), F.col("doc_id")])
    dcg = (
        ranked.join(F.broadcast(disc), "r")
        .agg(F.sum(F.col("rel") * F.col("disc")).cast("bigint").alias("dcg_nano"))
    )
    idcg = (
        ideal.join(F.broadcast(disc), "r")
        .agg(F.sum(F.col("rel") * F.col("disc")).cast("bigint").alias("idcg_nano"))
    )
    return dcg.crossJoin(F.broadcast(idcg)).select(
        "dcg_nano",
        "idcg_nano",
        F.round(
            F.col("dcg_nano").cast("double") / F.col("idcg_nano").cast("double"),
            6,
        ).alias("ndcg"),
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
# Loan amortization schedules: pure-integer banking arithmetic,
# sequential per loan, parallel across loans.
# =====================================================================

_AMORT_ORACLE = """
    -- Recursive-CTE replay of the amortization run: principal =
    -- order price in cents, monthly interest = round-half-up 1%
    -- ((bal+50)//100 - PURE integer, no floats anywhere), fixed
    -- payment = principal//10, iterate until the balance crosses
    -- zero (the final payment absorbs the remainder). Recursion is
    -- bounded (~11 months at these rates; hard cap 600 on both
    -- engines).
    WITH RECURSIVE loans AS (
        SELECT o_orderkey AS loan_id,
               CAST(round(o_totalprice * 100) AS BIGINT) AS principal
        FROM orders WHERE o_orderkey % 97 = 0
    ),
    sched AS (
        SELECT loan_id, principal, principal // 10 AS payment,
               0 AS m, principal AS bal,
               CAST(0 AS BIGINT) AS interest_paid
        FROM loans
        UNION ALL
        SELECT loan_id, principal, payment,
               m + 1,
               bal + (bal + 50) // 100 - payment,
               interest_paid + (bal + 50) // 100
        FROM sched
        WHERE bal > 0 AND m < 600
    )
    SELECT loan_id, principal AS principal_cents,
           CAST(m AS BIGINT) AS months,
           interest_paid AS total_interest_cents,
           CAST(payment + bal AS BIGINT) AS final_payment_cents
    FROM sched
    WHERE bal <= 0
    ORDER BY loan_id
"""


@register(
    "loan_amortization_schedule",
    _AMORT_ORACLE,
    "Loan amortization run-off - the reference app's own domain "
    "(loan default risk) done with BANKING arithmetic: monthly "
    "interest is round-half-up 1% computed as (balance+50) div 100 "
    "in pure BIGINT cents (floats never exist, so there is nothing "
    "to drift), fixed payment = principal div 10, iterate until "
    "payoff; the final payment absorbs the remainder. The recursion "
    "is inherently sequential PER LOAN and embarrassingly parallel "
    "ACROSS loans, so the engine runs it as an Arrow-batched "
    "mapInPandas integer loop (bounded ~11 iterations/loan) while "
    "the oracle replays it as a recursive CTE - the "
    "holt_linear_forecast discipline, strengthened to exact "
    "integers. Emits months-to-payoff, total interest, and the "
    "final short payment per loan. Scale: per-partition compute, "
    "zero shuffle before the bounded output sort.",
    tags=("ml", "credit", "analytics", "udf", "round4"),
)
def loan_amortization_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    loans = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 == 0)
        .select(
            F.col("o_orderkey").alias("loan_id"),
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("principal"),
        )
    )

    schema = T.StructType(
        [
            T.StructField("loan_id", T.LongType(), False),
            T.StructField("principal_cents", T.LongType(), False),
            T.StructField("months", T.LongType(), False),
            T.StructField("total_interest_cents", T.LongType(), False),
            T.StructField("final_payment_cents", T.LongType(), False),
        ]
    )

    def run(batches):
        for pdf in batches:
            out = []
            for loan_id, principal in zip(pdf["loan_id"], pdf["principal"]):
                principal = int(principal)
                payment = principal // 10
                bal, m, interest_paid = principal, 0, 0
                while bal > 0 and m < 600:
                    intr = (bal + 50) // 100
                    bal = bal + intr - payment
                    interest_paid += intr
                    m += 1
                out.append(
                    (int(loan_id), principal, m, interest_paid, payment + bal)
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "loan_id",
                    "principal_cents",
                    "months",
                    "total_interest_cents",
                    "final_payment_cents",
                ],
            )

    return loans.mapInPandas(run, schema=schema).orderBy("loan_id")


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
# Mutual information between discretized features - the
# feature-selection score completing the entropy/KL family.
# =====================================================================

_MI_ORACLE = """
    -- MI(score band; market segment) from exact joint counts: each
    -- cell's contribution (n_xy/N) * ln(n_xy*N / (n_x*n_y)) is
    -- nano-rounded THEN summed as BIGINT (associative), the
    -- lm_bigram discipline; marginals come from windows over the
    -- <=50-cell table. Entropies H(X), H(Y) the same way, and the
    -- normalized MI divides once at the end.
    WITH j AS (
        SELECT (((o_orderkey % 99991) * 31 + (o_custkey % 99991) * 17)
                % 99991 % 70000
                + CASE WHEN o_orderstatus = 'F' THEN 30000 ELSE 0 END)
                // 10000 AS band,
               c_mktsegment AS seg
        FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    cells AS MATERIALIZED (
        SELECT band, seg, CAST(count(*) AS BIGINT) AS n_xy
        FROM j GROUP BY 1, 2
    ),
    m AS MATERIALIZED (
        SELECT band, seg, n_xy,
               CAST(sum(n_xy) OVER (PARTITION BY band) AS BIGINT) AS n_x,
               CAST(sum(n_xy) OVER (PARTITION BY seg) AS BIGINT)  AS n_y,
               CAST(sum(n_xy) OVER () AS BIGINT)                  AS nn
        FROM cells
    ),
    terms AS (
        SELECT
            CAST(sum(CAST(round((CAST(n_xy AS DOUBLE) / CAST(nn AS DOUBLE))
                * ln(CAST(n_xy AS DOUBLE) * CAST(nn AS DOUBLE)
                     / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))) * 1e9)
                AS BIGINT)) AS BIGINT) AS mi_nano,
            CAST(sum(CASE WHEN seg = (SELECT min(seg) FROM cells) THEN
                CAST(round(-(CAST(n_x AS DOUBLE) / CAST(nn AS DOUBLE))
                    * ln(CAST(n_x AS DOUBLE) / CAST(nn AS DOUBLE)) * 1e9)
                AS BIGINT) ELSE 0 END) AS BIGINT) AS hx_nano,
            CAST(sum(CASE WHEN band = (SELECT min(band) FROM cells) THEN
                CAST(round(-(CAST(n_y AS DOUBLE) / CAST(nn AS DOUBLE))
                    * ln(CAST(n_y AS DOUBLE) / CAST(nn AS DOUBLE)) * 1e9)
                AS BIGINT) ELSE 0 END) AS BIGINT) AS hy_nano
        FROM m
    )
    SELECT mi_nano, hx_nano, hy_nano,
           round(CAST(mi_nano AS DOUBLE)
                 / CAST(LEAST(hx_nano, hy_nano) AS DOUBLE), 6)
               AS normalized_mi
    FROM terms
"""


@register(
    "mutual_information_features",
    _MI_ORACLE,
    "Mutual information between the credit-score band and the "
    "market segment - THE filter-method feature-selection score, "
    "completing the information-theoretic family next to "
    "entropy_kl_event_mix: each joint cell contributes "
    "(p_xy)ln(p_xy/(p_x p_y)) nano-rounded then BIGINT-summed "
    "(associative, layout-independent); marginal entropies ride the "
    "same 50-cell table using one-representative-per-marginal "
    "guards so no count is double-counted; normalized MI = "
    "MI/min(H_x, H_y) divides once. One fact pass (the 50-cell "
    "joint groupBy); windows run on metadata scale.",
    tags=("stats", "ml", "agg", "round4"),
)
def mutual_information_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.expr(
            "(((o_orderkey % 99991) * 31 + (o_custkey % 99991) * 17) "
            "% 99991 % 70000 "
            "+ CASE WHEN o_orderstatus = 'F' THEN 30000 ELSE 0 END) div 10000"
        ).alias("band"),
        F.col("c_mktsegment").alias("seg"),
    )
    cells = j.groupBy("band", "seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_xy")
    )
    # One-representative-per-marginal guards (min seg / min band) are
    # computed RELATIONALLY as two more windows over the same empty
    # partition the nn window already shuffles to — the oracle's
    # scalar subqueries, expressed inside the plan. (ADVICE r4: the
    # old shape collected both mins to the driver and spliced the seg
    # string into F.expr text — two extra round-trips at plan build
    # and an injection-shaped pattern.)
    w_all = W.partitionBy()
    m = cells.select(
        "band",
        "seg",
        "n_xy",
        F.sum("n_xy").over(W.partitionBy("band")).cast("bigint").alias("n_x"),
        F.sum("n_xy").over(W.partitionBy("seg")).cast("bigint").alias("n_y"),
        F.sum("n_xy").over(w_all).cast("bigint").alias("nn"),
        F.min("seg").over(w_all).alias("min_seg"),
        F.min("band").over(w_all).alias("min_band"),
    )
    terms = m.agg(
        F.expr(
            "CAST(sum(CAST(round((CAST(n_xy AS DOUBLE) / CAST(nn AS DOUBLE)) "
            "* ln(CAST(n_xy AS DOUBLE) * CAST(nn AS DOUBLE) "
            "/ (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))) * 1e9) "
            "AS BIGINT)) AS BIGINT)"
        ).alias("mi_nano"),
        F.expr(
            "CAST(sum(CASE WHEN seg = min_seg THEN "
            "CAST(round(-(CAST(n_x AS DOUBLE) / CAST(nn AS DOUBLE)) "
            "* ln(CAST(n_x AS DOUBLE) / CAST(nn AS DOUBLE)) * 1e9) "
            "AS BIGINT) ELSE 0 END) AS BIGINT)"
        ).alias("hx_nano"),
        F.expr(
            "CAST(sum(CASE WHEN band = min_band THEN "
            "CAST(round(-(CAST(n_y AS DOUBLE) / CAST(nn AS DOUBLE)) "
            "* ln(CAST(n_y AS DOUBLE) / CAST(nn AS DOUBLE)) * 1e9) "
            "AS BIGINT) ELSE 0 END) AS BIGINT)"
        ).alias("hy_nano"),
    )
    return terms.select(
        "mi_nano",
        "hx_nano",
        "hy_nano",
        F.round(
            F.col("mi_nano").cast("double")
            / F.least("hx_nano", "hy_nano").cast("double"),
            6,
        ).alias("normalized_mi"),
    )


# =====================================================================
# Weighted sampling WITHOUT replacement (Efraimidis-Spirakis), fully
# integer-keyed.
# =====================================================================

_AES_ORACLE = """
    -- A-ES weighted reservoir order: item i gets uniform u_i from a
    -- key congruence, and the k smallest values of -ln(u_i)/w_i are
    -- the size-k weighted sample WITHOUT replacement (Efraimidis-
    -- Spirakis 2006). The division runs as pico-scaled INTEGER
    -- floor-div on the NON-NEGATIVE numerator (engines agree on
    -- floor there), so the selection order is bit-exact.
    WITH u AS (
        SELECT doc_id, n_chars,
               ((doc_id * 2654435761 + 12345) % 4294967296) + 1 AS h
        FROM documents
    ),
    keyed AS (
        SELECT doc_id, n_chars,
               CAST(round(-ln(CAST(h AS DOUBLE) / 4294967296.0) * 1e12)
                    AS BIGINT) // n_chars AS key_q
        FROM u WHERE n_chars > 0
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, key_q
    FROM keyed
    ORDER BY key_q, doc_id
    LIMIT 25
"""


@register(
    "weighted_sample_without_replacement",
    _AES_ORACLE,
    "Weighted sampling WITHOUT replacement via Efraimidis-Spirakis "
    "(2006) exponential keys: each doc draws u from a key "
    "congruence and the 25 SMALLEST -ln(u)/weight keys are the "
    "sample - unlike the Bernoulli weighted_doc_sample, the output "
    "size is exact and inclusion is weight-proportional without "
    "replacement. Determinism: -ln(u) is pico-rounded to a "
    "NON-NEGATIVE BIGINT before the integer floor-div by the "
    "weight (Spark div truncates toward zero, DuckDB // floors - "
    "they agree only on non-negative operands, the kmeans_lloyd "
    "lesson applied), so selection order is bit-exact. Scale: "
    "map-side keys + TakeOrderedAndProject - no shuffle of the "
    "corpus, no RNG.",
    tags=("sampling", "llm-pipeline", "round4"),
)
def weighted_sample_without_replacement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    keyed = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.expr(
            "CAST(round(-ln(CAST(((doc_id * 2654435761 + 12345) "
            "% 4294967296) + 1 AS DOUBLE) / 4294967296.0) * 1e12) "
            "AS BIGINT) div n_chars"
        ).alias("key_q"),
    )
    return keyed.orderBy("key_q", "doc_id").limit(25)


# =====================================================================
# Rolling regression beta: windowed second moments, exact integer
# partials inside the frame.
# =====================================================================

_ROLLBETA_ORACLE = """
    -- 28-day rolling OLS beta of BUILDING-segment daily revenue
    -- against total daily revenue: the five moment sums accumulate
    -- EXACT integer cents inside the window frame, and the
    -- closed-form slope divides once per day with identical
    -- expression text - the regression_aggregates discipline lifted
    -- into a moving frame. Emitted once the frame is full (28 days).
    WITH daily AS MATERIALIZED (
        SELECT epoch_us(o.o_orderdate) // 86400000000 AS day,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS tot_cents,
               CAST(sum(CASE WHEN c.c_mktsegment = 'BUILDING'
                             THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS seg_cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
    ),
    w AS MATERIALIZED (
        SELECT day,
               CAST(count(*) OVER f AS BIGINT)                 AS n,
               CAST(sum(tot_cents) OVER f AS HUGEINT)          AS sx,
               CAST(sum(seg_cents) OVER f AS HUGEINT)          AS sy,
               CAST(sum(tot_cents::HUGEINT * seg_cents) OVER f AS HUGEINT)
                   AS sxy,
               CAST(sum(tot_cents::HUGEINT * tot_cents) OVER f AS HUGEINT)
                   AS sxx
        FROM daily
        WINDOW f AS (ORDER BY day ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(day AS BIGINT) AS day,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
               AS beta_28d
    FROM w WHERE n = 28
    ORDER BY day
"""


@register(
    "rolling_beta_28d",
    _ROLLBETA_ORACLE,
    "Rolling 28-day OLS beta of the BUILDING segment's daily revenue "
    "on total daily revenue - moving-window regression, the "
    "volatility/exposure diagnostic next to rolling_median_28d and "
    "autocorrelation: all five moment sums accumulate EXACT integer "
    "cents inside the ROWS frame (DECIMAL/HUGEINT - associative, so "
    "frame evaluation order cannot matter), and the closed-form "
    "slope divides once per emitted day with byte-identical formula "
    "text. Rows emit only when the frame is full. One fact pass to "
    "the ~2.4k-row day table; the windows run on metadata scale.",
    tags=("window", "stats", "analytics", "round4"),
)
def rolling_beta_28d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    daily = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            (
                F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                / F.lit(86400000000)
            )
            .cast("bigint")
            .alias("day")
        )
        .agg(
            F.sum(cents).cast("bigint").alias("tot_cents"),
            F.sum(
                F.when(F.col("c_mktsegment") == "BUILDING", cents).otherwise(0)
            )
            .cast("bigint")
            .alias("seg_cents"),
        )
    )
    f = W.orderBy("day").rowsBetween(-27, 0)
    dec = lambda c_: F.col(c_).cast("decimal(38,0)")  # noqa: E731
    w = daily.select(
        "day",
        F.count(F.lit(1)).over(f).cast("bigint").alias("n"),
        F.sum(dec("tot_cents")).over(f).alias("sx"),
        F.sum(dec("seg_cents")).over(f).alias("sy"),
        F.sum(dec("tot_cents") * dec("seg_cents")).over(f).alias("sxy"),
        F.sum(dec("tot_cents") * dec("tot_cents")).over(f).alias("sxx"),
    )
    return (
        w.filter(F.col("n") == 28)
        .selectExpr(
            "CAST(day AS BIGINT) AS day",
            "round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) "
            "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) "
            "/ (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
            "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS beta_28d",
        )
        .orderBy("day")
    )


# =====================================================================
# Stream-stream FULL OUTER join — completes the streaming join matrix
# =====================================================================


@register(
    "streaming_full_outer_join",
    """
    -- Both NULL extensions of a full-outer stream-stream join are
    -- negative claims, each gated by its own watermark proof derived
    -- from the interval condition: an unmatched purchase is final
    -- once the ms-floored final watermark (min(max view_ts, max
    -- purchase_ts) - 1 h) passes purchase_ts (its latest possible
    -- matching view time); an unmatched view once it passes
    -- view_ts + 24 h (its latest possible matching purchase time).
    WITH ev AS MATERIALIZED (
        SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
    ),
    views AS MATERIALIZED (
        SELECT user_id, ts_us FROM ev WHERE event_type = 'view'
    ),
    purch AS MATERIALIZED (
        SELECT user_id, ts_us FROM ev WHERE event_type = 'purchase'
    ),
    wm AS (
        SELECT least((SELECT max(ts_us) FROM views) // 1000,
                     (SELECT max(ts_us) FROM purch) // 1000)
               - 3600000 AS w_ms
    ),
    matched AS (
        SELECT p.user_id, p.ts_us AS purchase_ts_us, v.ts_us AS view_ts_us
        FROM purch p JOIN views v
          ON p.user_id = v.user_id
         AND v.ts_us BETWEEN p.ts_us - 86400000000 AND p.ts_us
    ),
    left_null AS (
        SELECT p.user_id, p.ts_us AS purchase_ts_us,
               CAST(-1 AS BIGINT) AS view_ts_us
        FROM purch p, wm
        WHERE NOT EXISTS (
                SELECT 1 FROM views v
                WHERE v.user_id = p.user_id
                  AND v.ts_us BETWEEN p.ts_us - 86400000000 AND p.ts_us)
          AND p.ts_us // 1000 < wm.w_ms
    ),
    right_null AS (
        SELECT v.user_id, CAST(-1 AS BIGINT) AS purchase_ts_us,
               v.ts_us AS view_ts_us
        FROM views v, wm
        WHERE NOT EXISTS (
                SELECT 1 FROM purch p
                WHERE p.user_id = v.user_id
                  AND v.ts_us BETWEEN p.ts_us - 86400000000 AND p.ts_us)
          AND (v.ts_us + 86400000000) // 1000 < wm.w_ms
    )
    SELECT CAST(user_id AS BIGINT)        AS user_id,
           CAST(purchase_ts_us AS BIGINT) AS purchase_ts_us,
           CAST(view_ts_us AS BIGINT)     AS view_ts_us,
           CASE WHEN purchase_ts_us < 0 THEN 'right_only'
                WHEN view_ts_us < 0     THEN 'left_only'
                ELSE 'both' END           AS side
    FROM (SELECT * FROM matched
          UNION ALL SELECT * FROM left_null
          UNION ALL SELECT * FROM right_null)
    ORDER BY user_id, purchase_ts_us, view_ts_us
    """,
    "Stream-stream FULL OUTER interval join with watermarks "
    "(streaming/windows.py run_stream_stream_full_outer_join) — "
    "completes the streaming join matrix (inner: "
    "streaming_stream_stream_join; left outer: "
    "streaming_left_outer_join): matched purchase/view pairs PLUS "
    "view-less purchases PLUS purchase-less views, each NULL "
    "extension emitted only after ITS watermark proof (asymmetric "
    "horizons: purchase_ts vs view_ts + 24 h — the interval "
    "condition's two bounds). On the finite replay both evictions "
    "are deterministic and the oracle encodes them relationally "
    "(NULL ts surfaces as -1 for a hash-stable representation). "
    "State at 100 TB/day = the inner join's two keyed buffers plus "
    "both unmatched buffers; the view side dominates by the "
    "interval width.",
    tags=("streaming", "join"),
)
def streaming_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import run_stream_stream_full_outer_join

    out = run_stream_stream_full_outer_join(spark, sf_dir)
    return (
        out.select(
            "user_id",
            F.coalesce(F.col("purchase_ts_us"), F.lit(-1)).alias("purchase_ts_us"),
            F.coalesce(F.col("view_ts_us"), F.lit(-1)).alias("view_ts_us"),
            F.when(F.col("purchase_ts_us").isNull(), "right_only")
            .when(F.col("view_ts_us").isNull(), "left_only")
            .otherwise("both")
            .alias("side"),
        )
        .orderBy("user_id", "purchase_ts_us", "view_ts_us")
    )
