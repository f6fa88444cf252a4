"""Auto-split segment of the query registry (see registry.py facade).

Registration ORDER is part of the driver contract - segments are
imported by the facade in fixed sequence; do not reorder.
"""

from __future__ import annotations

from ..functions.risk import _w_all
from ._core import DataFrame, F, SparkSession, W, register, t




# =====================================================================
# Credit-risk analytics tier — the model-evaluation readouts the
# reference's domain (loan-default prediction) runs on every scored
# portfolio: KS separation, WOE/IV, PSI drift, gains/lift, threshold
# confusion sweep, banded ROC-AUC. The reference computes AUC/accuracy
# once (spark.py:80-90 BinaryClassificationEvaluator, app.py:121-127
# test accuracy); a production credit engine additionally monitors the
# score DISTRIBUTION — these six queries are that surface.
#
# All six share one deterministic "model score" stand-in (at 100 TB
# this column is the output of batch inference, A16): an integer in
# [0, 99990] built from pure modular arithmetic on the order keys,
# shifted up by 30000 for defaulted orders so good/bad distributions
# overlap partially (uniform [0,70000) vs [30000,99991)) — a realistic
# mid-strength scorecard. Label: o_orderstatus = 'F' (closed-default
# proxy, ~33% bad rate). Score bands are fixed-width (score div
# 10000, 10 bands) — fixed bands, not quantile cuts, exactly as credit
# scorecards band FICO-style scores, and exactly reproducible on both
# engines with zero float ops.
#
# Scale shape (identical across the tier): one partial-combined
# groupBy on the 10-value band key — the only fact-sized work — then
# windows over the ≤10-row aggregate. Every rate/share/lift divides
# exact integer counts (one correctly-rounded IEEE division, identical
# expression trees both engines); WOE/PSI take ln() of one
# exact-integer-product ratio; IV/PSI totals sum MICRO-UNITS (rounded
# contributions scaled to BIGINT) so the cross-band sum is associative
# and layout-independent.
# =====================================================================

_SCORED_SQL = """
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad,
               ((o_orderkey % 99991) * 31 + (o_custkey % 99991) * 17)
                 % 99991 % 70000
                 + CASE WHEN o_orderstatus = 'F' THEN 30000 ELSE 0 END
                 AS score
        FROM orders
"""

_BANDS_SQL = f"""
    WITH scored AS ({_SCORED_SQL}),
    b AS (
        SELECT score // 10000 AS band,
               CAST(sum(bad) AS BIGINT)     AS n_bad,
               CAST(sum(1 - bad) AS BIGINT) AS n_good
        FROM scored GROUP BY 1
    )
"""


def _scored_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with the deterministic score/label twin of ``_SCORED_SQL``."""
    o = t(spark, sf_dir, "orders")
    bad = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    score = (
        ((F.col("o_orderkey") % 99991) * 31 + (F.col("o_custkey") % 99991) * 17)
        % 99991
        % 70000
        + F.when(F.col("o_orderstatus") == "F", 30000).otherwise(0)
    )
    return o.select(bad.alias("bad"), score.alias("score"))


def _score_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band exact bad/good counts — the tier's one fact-sized pass."""
    return (
        _scored_orders(spark, sf_dir)
        .groupBy(F.expr("score div 10000").alias("band"))
        .agg(
            F.sum("bad").cast("bigint").alias("n_bad"),
            F.sum(1 - F.col("bad")).cast("bigint").alias("n_good"),
        )
    )


@register(
    "ks_risk_separation",
    _BANDS_SQL
    + """
    , c AS (
        SELECT band, n_bad, n_good,
               CAST(sum(n_bad) OVER (ORDER BY band DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / CAST(sum(n_bad) OVER () AS DOUBLE)  AS cbs,
               CAST(sum(n_good) OVER (ORDER BY band DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / CAST(sum(n_good) OVER () AS DOUBLE) AS cgs
        FROM b
    )
    SELECT CAST(band AS BIGINT)          AS band,
           n_bad, n_good,
           round(cbs, 6)                 AS cum_bad_share,
           round(cgs, 6)                 AS cum_good_share,
           round(abs(cbs - cgs), 6)      AS ks_curve,
           round(max(abs(cbs - cgs)) OVER (), 6) AS ks_stat
    FROM c
    """,
    "Kolmogorov-Smirnov risk separation: sweep the score from riskiest "
    "band down, tracking cumulative bad-capture vs good-capture; KS is "
    "the max gap — the credit-scoring discrimination statistic "
    "(reference evaluates AUC at spark.py:80-90; KS is its sworn "
    "companion on every scorecard validation report). One "
    "partial-combined groupBy on the 10-value band key, then windows "
    "over 10 rows. Cumulative sums are exact BIGINT; each share is one "
    "IEEE division of exact integers — bit-identical on both engines.",
    tags=("agg", "window", "analytics", "credit"),
)
def ks_risk_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import risk

    return risk.ks_table(_score_bands(spark, sf_dir))


@register(
    "woe_iv_score_bands",
    _BANDS_SQL
    + """
    , c AS (
        SELECT band, n_bad, n_good,
               CAST(sum(n_bad) OVER () AS BIGINT)  AS tot_bad,
               CAST(sum(n_good) OVER () AS BIGINT) AS tot_good
        FROM b
    ), w AS (
        SELECT band, n_bad, n_good,
               ln(CAST((2 * n_good + 1) * tot_bad AS DOUBLE)
                  / CAST((2 * n_bad + 1) * tot_good AS DOUBLE))    AS woe,
               (CAST(2 * n_good + 1 AS DOUBLE) / CAST(2 * tot_good AS DOUBLE)
                - CAST(2 * n_bad + 1 AS DOUBLE) / CAST(2 * tot_bad AS DOUBLE))
               * ln(CAST((2 * n_good + 1) * tot_bad AS DOUBLE)
                    / CAST((2 * n_bad + 1) * tot_good AS DOUBLE)) AS contrib
        FROM c
    ), m AS (
        SELECT band, n_bad, n_good, woe,
               CAST(round(round(contrib, 6) * 1000000.0) AS BIGINT) AS iv_micro
        FROM w
    )
    SELECT CAST(band AS BIGINT) AS band, n_bad, n_good,
           round(woe, 6)        AS woe,
           CAST(iv_micro AS DOUBLE) / 1000000.0 AS iv_contrib,
           CAST(CAST(sum(iv_micro) OVER () AS BIGINT) AS DOUBLE) / 1000000.0
                                AS iv_total
    FROM m
    """,
    "Weight-of-Evidence / Information-Value banding — THE classic "
    "loan-default feature-screening readout (scorecard modelers gate "
    "features on IV before the reference's LogisticRegression ever "
    "sees them, spark.py:70-78). Zero-cell bands (three bands hold no "
    "bads) get the standard Laplace 0.5 adjustment, folded into "
    "doubled-integer products so WOE per band stays ln of one "
    "exact-integer-product ratio (both engines take ln of the "
    "IDENTICAL double); IV contributions are rounded to micro-units "
    "and summed as BIGINT, so the cross-band total is associative — "
    "exact under any partition layout. Same one-shuffle shape as the "
    "rest of the tier.",
    tags=("agg", "window", "analytics", "credit"),
)
def woe_iv_score_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import risk

    return risk.woe_iv_table(_score_bands(spark, sf_dir))


@register(
    "psi_score_drift",
    f"""
    WITH scored AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad,
               ((o_orderkey % 99991) * 31 + (o_custkey % 99991) * 17)
                 % 99991 % 70000
                 + CASE WHEN o_orderstatus = 'F' THEN 30000 ELSE 0 END
                 AS score,
               CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                    THEN 1 ELSE 0 END AS is_expected
        FROM orders
    ), b AS (
        SELECT score // 10000 AS band,
               CAST(sum(is_expected) AS BIGINT)     AS n_exp,
               CAST(sum(1 - is_expected) AS BIGINT) AS n_act
        FROM scored GROUP BY 1
    ), c AS (
        SELECT band, n_exp, n_act,
               CAST(sum(n_exp) OVER () AS BIGINT) AS tot_exp,
               CAST(sum(n_act) OVER () AS BIGINT) AS tot_act
        FROM b
    ), w AS (
        SELECT band, n_exp, n_act,
               (CAST(n_act AS DOUBLE) / CAST(tot_act AS DOUBLE)
                - CAST(n_exp AS DOUBLE) / CAST(tot_exp AS DOUBLE))
               * ln(CAST(n_act * tot_exp AS DOUBLE)
                    / CAST(n_exp * tot_act AS DOUBLE)) AS contrib
        FROM c
    ), m AS (
        SELECT band, n_exp, n_act,
               CAST(round(round(contrib, 6) * 1000000.0) AS BIGINT) AS psi_micro
        FROM w
    )
    SELECT CAST(band AS BIGINT) AS band, n_exp, n_act,
           CAST(psi_micro AS DOUBLE) / 1000000.0 AS psi_contrib,
           CAST(CAST(sum(psi_micro) OVER () AS BIGINT) AS DOUBLE) / 1000000.0
                                                 AS psi_total
    FROM m
    """,
    "Population Stability Index: score-distribution drift between the "
    "development cohort (orders before 1998) and the current one — the "
    "model-monitoring metric every deployed scorecard (reference "
    "app.py's saved .pth model serving rows forever) must watch; "
    "PSI > 0.25 means retrain. Per-band (population share delta) x "
    "ln(share ratio) with the ratio formed from exact integer "
    "products; contributions summed in micro-units for associativity. "
    "One partial-combined groupBy; windows over 10 rows.",
    tags=("agg", "window", "analytics", "credit"),
)
def psi_score_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    score = (
        ((F.col("o_orderkey") % 99991) * 31 + (F.col("o_custkey") % 99991) * 17)
        % 99991
        % 70000
        + F.when(F.col("o_orderstatus") == "F", 30000).otherwise(0)
    )
    is_exp = F.when(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), 1
    ).otherwise(0)
    scored = o.select(score.alias("score"), is_exp.alias("is_expected"))
    b = scored.groupBy(F.expr("score div 10000").alias("band")).agg(
        F.sum("is_expected").cast("bigint").alias("n_exp"),
        F.sum(1 - F.col("is_expected")).cast("bigint").alias("n_act"),
    )
    c = b.select(
        "band",
        "n_exp",
        "n_act",
        F.sum("n_exp").over(_w_all()).cast("bigint").alias("tot_exp"),
        F.sum("n_act").over(_w_all()).cast("bigint").alias("tot_act"),
    )
    contrib = (
        F.col("n_act").cast("double") / F.col("tot_act").cast("double")
        - F.col("n_exp").cast("double") / F.col("tot_exp").cast("double")
    ) * F.log(
        (F.col("n_act") * F.col("tot_exp")).cast("double")
        / (F.col("n_exp") * F.col("tot_act")).cast("double")
    )
    m = c.select(
        "band",
        "n_exp",
        "n_act",
        F.round(F.round(contrib, 6) * 1000000.0, 0)
        .cast("bigint")
        .alias("psi_micro"),
    )
    return m.select(
        F.col("band").cast("bigint").alias("band"),
        "n_exp",
        "n_act",
        (F.col("psi_micro").cast("double") / 1000000.0).alias("psi_contrib"),
        (
            F.sum("psi_micro").over(_w_all()).cast("bigint").cast("double")
            / 1000000.0
        ).alias("psi_total"),
    )


@register(
    "gains_lift_bands",
    _BANDS_SQL
    + """
    , c AS (
        SELECT band, n_bad, n_good, n_bad + n_good AS n,
               CAST(sum(n_bad) OVER (ORDER BY band DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_bad,
               CAST(sum(n_bad + n_good) OVER (ORDER BY band DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_n,
               CAST(sum(n_bad) OVER () AS BIGINT)          AS tot_bad,
               CAST(sum(n_bad + n_good) OVER () AS BIGINT) AS tot_n
        FROM b
    )
    SELECT CAST(band AS BIGINT) AS band,
           CAST(n AS BIGINT)    AS n,
           n_bad,
           round(CAST(cum_bad AS DOUBLE) / CAST(tot_bad AS DOUBLE), 6)
                                AS capture_rate,
           round((CAST(n_bad AS DOUBLE) / CAST(n AS DOUBLE))
                 / (CAST(tot_bad AS DOUBLE) / CAST(tot_n AS DOUBLE)), 6)
                                AS lift,
           round((CAST(cum_bad AS DOUBLE) / CAST(cum_n AS DOUBLE))
                 / (CAST(tot_bad AS DOUBLE) / CAST(tot_n AS DOUBLE)), 6)
                                AS cum_lift
    FROM c
    """,
    "Gains / lift table: walk score bands riskiest-first, reporting "
    "cumulative bad-capture (gains), per-band lift, and cumulative "
    "lift over the base rate — how collections teams decide how deep "
    "to work a scored portfolio (the reference's batch predictions, "
    "spark.py:79, feed exactly this readout downstream). Every rate "
    "is a division of exact BIGINT counts; one groupBy shuffle, "
    "windows over 10 rows.",
    tags=("agg", "window", "analytics", "credit"),
)
def gains_lift_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import risk

    return risk.gains_table(_score_bands(spark, sf_dir))


@register(
    "threshold_confusion_sweep",
    _BANDS_SQL
    + """
    , c AS (
        SELECT band,
               CAST(sum(n_bad) OVER (ORDER BY band DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS tp,
               CAST(sum(n_good) OVER (ORDER BY band DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS fp,
               CAST(sum(n_bad) OVER () AS BIGINT)  AS tot_bad,
               CAST(sum(n_good) OVER () AS BIGINT) AS tot_good
        FROM b
    )
    SELECT CAST(band * 10000 AS BIGINT) AS threshold,
           tp, fp,
           tot_bad - tp                 AS fn,
           tot_good - fp                AS tn,
           round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)   AS precision,
           round(CAST(tp AS DOUBLE) / CAST(tot_bad AS DOUBLE), 6)   AS recall,
           round(CAST(2 * tp AS DOUBLE)
                 / CAST(2 * tp + fp + (tot_bad - tp) AS DOUBLE), 6) AS f1
    FROM c
    """,
    "Threshold sweep: confusion matrix + precision/recall/F1 at every "
    "score cutoff — the operating-point picker for the reference's "
    "binary decision (app.py:151-158 renders exactly one threshold's "
    "Approved/Rejected; this query shows the whole frontier). TP/FP "
    "fall out of the same descending cumulative BIGINT sums as the "
    "gains table; FN/TN by subtraction from exact totals; every "
    "metric one exact-integer IEEE division. One shuffle, 10-row "
    "windows.",
    tags=("agg", "window", "analytics", "credit"),
)
def threshold_confusion_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import risk

    return risk.confusion_sweep(
        _score_bands(spark, sf_dir), F.col("band") * 10000
    )


@register(
    "roc_auc_banded",
    _BANDS_SQL
    + """
    , c AS (
        SELECT band,
               CAST(sum(n_bad) OVER (ORDER BY band DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cb,
               CAST(sum(n_good) OVER (ORDER BY band DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cg,
               CAST(sum(n_bad) OVER () AS BIGINT)  AS tot_bad,
               CAST(sum(n_good) OVER () AS BIGINT) AS tot_good
        FROM b
    ), seg AS (
        SELECT tot_bad, tot_good,
               (cg - coalesce(lag(cg) OVER (ORDER BY band DESC), 0))
               * (cb + coalesce(lag(cb) OVER (ORDER BY band DESC), 0))
               AS seg_area2
        FROM c
    )
    SELECT round(CAST(CAST(sum(seg_area2) AS BIGINT) AS DOUBLE)
                 / CAST(2 * max(tot_bad) * max(tot_good) AS DOUBLE), 6) AS auc,
           CAST(max(tot_bad) AS BIGINT)  AS tot_bad,
           CAST(max(tot_good) AS BIGINT) AS tot_good
    FROM seg
    """,
    "Banded ROC-AUC by exact trapezoid integration over the 10 ROC "
    "points — the reference's headline metric (spark.py:80-90 "
    "BinaryClassificationEvaluator areaUnderROC) recomputed with pure "
    "INTEGER arithmetic: each trapezoid's doubled area is a product "
    "of exact BIGINT cumulative counts, summed exactly, divided once "
    "at the end — bit-identical on any engine and any partition "
    "layout, unlike float-accumulated AUC. Equals the exact "
    "per-score-value AUC when ties are banded (here: band = score "
    "div 10000). One groupBy shuffle; windows and lag over 10 rows.",
    tags=("agg", "window", "analytics", "credit", "ml"),
)
def roc_auc_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import risk

    return risk.auc_banded(_score_bands(spark, sf_dir))


# =====================================================================
# Statistical analysis additions: categorical association, feature
# encoding, and time-series diagnostics. Same determinism discipline
# as the credit tier: fact-sized work is one partial-combined groupBy;
# every ratio divides exact integers or DECIMAL partials; float
# cross-row totals go through micro-unit BIGINT sums.
# =====================================================================


@register(
    "target_encoding",
    """
    WITH j AS (
        SELECT c.c_mktsegment AS segment,
               CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), g AS (
        SELECT segment,
               CAST(count(*) AS BIGINT)  AS n,
               CAST(sum(bad) AS BIGINT)  AS n_bad
        FROM j GROUP BY 1
    ), c AS (
        SELECT segment, n, n_bad,
               CAST(sum(n) OVER () AS BIGINT)     AS tot_n,
               CAST(sum(n_bad) OVER () AS BIGINT) AS tot_bad
        FROM g
    )
    SELECT segment, n, n_bad,
           round(CAST(n_bad AS DOUBLE) / CAST(n AS DOUBLE), 6) AS raw_rate,
           round((CAST(n_bad AS DOUBLE)
                  + 20.0 * (CAST(tot_bad AS DOUBLE) / CAST(tot_n AS DOUBLE)))
                 / (CAST(n AS DOUBLE) + 20.0), 6)              AS encoded
    FROM c
    """,
    "Smoothed target (mean) encoding of a categorical feature against "
    "the default label — the scorecard feature-engineering step that "
    "replaces high-cardinality categories before the reference's "
    "LogisticRegression (spark.py:70-78; its StringIndexer/OHE "
    "equivalent for wide categories). Empirical-Bayes shrinkage with "
    "prior weight m=20 pulls small categories toward the global rate "
    "(the leakage-resistant form). Dimension join broadcasts the "
    "customer segment; counts are exact BIGINT; rate and encoding are "
    "IEEE divisions of identical expression trees. At 100 TB the "
    "groupBy key is the category — thousands of groups, one shuffle.",
    tags=("agg", "join", "analytics", "ml", "credit"),
)
def target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    cdim = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(F.broadcast(cdim), o.o_custkey == cdim.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("bad"),
    )
    g = j.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("bad").cast("bigint").alias("n_bad"),
    )
    c = g.select(
        "segment",
        "n",
        "n_bad",
        F.sum("n").over(W.partitionBy()).cast("bigint").alias("tot_n"),
        F.sum("n_bad").over(W.partitionBy()).cast("bigint").alias("tot_bad"),
    )
    global_rate = F.col("tot_bad").cast("double") / F.col("tot_n").cast("double")
    return c.select(
        "segment",
        "n",
        "n_bad",
        F.round(
            F.col("n_bad").cast("double") / F.col("n").cast("double"), 6
        ).alias("raw_rate"),
        F.round(
            (F.col("n_bad").cast("double") + F.lit(20.0) * global_rate)
            / (F.col("n").cast("double") + F.lit(20.0)),
            6,
        ).alias("encoded"),
    )


@register(
    "chi_square_independence",
    """
    WITH j AS (
        SELECT c.c_mktsegment AS segment, o.o_orderstatus AS status
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), cell AS (
        SELECT segment, status, CAST(count(*) AS BIGINT) AS obs
        FROM j GROUP BY 1, 2
    ), m AS (
        SELECT segment, status, obs,
               CAST(sum(obs) OVER (PARTITION BY segment) AS BIGINT) AS row_tot,
               CAST(sum(obs) OVER (PARTITION BY status) AS BIGINT)  AS col_tot,
               CAST(sum(obs) OVER () AS BIGINT)                     AS n,
               CAST(count(DISTINCT segment) OVER () AS BIGINT)      AS nr,
               CAST(count(DISTINCT status) OVER () AS BIGINT)       AS ncol
        FROM cell
    ), w AS (
        SELECT segment, status, obs, nr, ncol, n,
               CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE) AS exp,
               (CAST(obs AS DOUBLE)
                - CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(obs AS DOUBLE)
                  - CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE))
                                                                     AS contrib
        FROM m
    ), mm AS (
        SELECT segment, status, obs, nr, ncol, n,
               round(exp, 4) AS expected,
               CAST(round(round(contrib, 6) * 1000000.0) AS BIGINT) AS chi_micro
        FROM w
    )
    SELECT segment, status, obs, expected,
           CAST(chi_micro AS DOUBLE) / 1000000.0 AS contrib,
           CAST(CAST(sum(chi_micro) OVER () AS BIGINT) AS DOUBLE) / 1000000.0
                                                 AS chi2,
           (nr - 1) * (ncol - 1)                 AS dof,
           round(sqrt((CAST(CAST(sum(chi_micro) OVER () AS BIGINT) AS DOUBLE)
                       / 1000000.0)
                      / (CAST(n AS DOUBLE)
                         * CAST(least(nr - 1, ncol - 1) AS DOUBLE))), 6)
                                                 AS cramers_v
    FROM mm
    """,
    "Chi-square test of independence (market segment x order status) "
    "with Cramer's V effect size — the categorical-association screen "
    "run before encoding features into the reference's model "
    "(spark.py:70-78). Observed counts are exact BIGINT; expected "
    "counts and per-cell contributions are IEEE-identical expression "
    "trees; the chi-square total sums micro-unit BIGINTs "
    "(associative, layout-independent); V = sqrt(chi2/(N*min(r-1,"
    "c-1))) uses only correctly-rounded ops. One fact-sized groupBy "
    "on the 15-cell contingency key, then windows over 15 rows.",
    tags=("agg", "join", "window", "analytics", "stats"),
)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    cdim = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(F.broadcast(cdim), o.o_custkey == cdim.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_orderstatus").alias("status"),
    )
    cell = j.groupBy("segment", "status").agg(
        F.count(F.lit(1)).cast("bigint").alias("obs")
    )
    w_all = W.partitionBy()
    m = cell.select(
        "segment",
        "status",
        "obs",
        F.sum("obs").over(W.partitionBy("segment")).cast("bigint").alias("row_tot"),
        F.sum("obs").over(W.partitionBy("status")).cast("bigint").alias("col_tot"),
        F.sum("obs").over(w_all).cast("bigint").alias("n"),
        F.size(F.collect_set("segment").over(w_all)).cast("bigint").alias("nr"),
        F.size(F.collect_set("status").over(w_all)).cast("bigint").alias("ncol"),
    )
    exp = (F.col("row_tot") * F.col("col_tot")).cast("double") / F.col("n").cast(
        "double"
    )
    contrib = (F.col("obs").cast("double") - exp) * (
        F.col("obs").cast("double") - exp
    ) / exp
    mm = m.select(
        "segment",
        "status",
        "obs",
        "nr",
        "ncol",
        "n",
        F.round(exp, 4).alias("expected"),
        F.round(F.round(contrib, 6) * 1000000.0, 0)
        .cast("bigint")
        .alias("chi_micro"),
    )
    chi2 = (
        F.sum("chi_micro").over(w_all).cast("bigint").cast("double") / 1000000.0
    )
    return mm.select(
        "segment",
        "status",
        "obs",
        "expected",
        (F.col("chi_micro").cast("double") / 1000000.0).alias("contrib"),
        chi2.alias("chi2"),
        ((F.col("nr") - 1) * (F.col("ncol") - 1)).alias("dof"),
        F.round(
            F.sqrt(
                chi2
                / (
                    F.col("n").cast("double")
                    * F.least(F.col("nr") - 1, F.col("ncol") - 1).cast("double")
                )
            ),
            6,
        ).alias("cramers_v"),
    )


@register(
    "autocorrelation_daily_revenue",
    """
    WITH daily AS (
        SELECT epoch_us(o_orderdate) // 86400000000 AS day,
               CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
                    AS BIGINT) AS rev
        FROM orders GROUP BY 1
    ), lags(k) AS (SELECT unnest([1, 7])),
    pairs AS (
        SELECT l.k, a.rev AS x, b.rev AS y
        FROM lags l
        JOIN daily a ON TRUE
        JOIN daily b ON b.day = a.day + l.k
    ), s AS (
        SELECT k,
               CAST(count(*) AS DOUBLE)           AS n,
               CAST(CAST(sum(x) AS BIGINT) AS DOUBLE)     AS sx,
               CAST(CAST(sum(y) AS BIGINT) AS DOUBLE)     AS sy,
               CAST(CAST(sum(x * y) AS BIGINT) AS DOUBLE) AS sxy,
               CAST(CAST(sum(x * x) AS BIGINT) AS DOUBLE) AS sxx,
               CAST(CAST(sum(y * y) AS BIGINT) AS DOUBLE) AS syy
        FROM pairs GROUP BY 1
    )
    SELECT CAST(k AS BIGINT) AS lag_days,
           CAST(n AS BIGINT) AS n_pairs,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
                             AS acf
    FROM s
    """,
    "Autocorrelation of the daily revenue series at lag 1 and lag 7 — "
    "the time-series diagnostic behind forecast models (is there "
    "weekly seasonality worth modeling?). Daily revenue sums "
    "DECIMAL(18,2) partials (associative) then floors to exact BIGINT "
    "dollars, so ALL five Pearson sufficient statistics are integer "
    "sums — exact under any layout; the final correlation is one "
    "closed-form expression of those exact values (sums stay under "
    "2^53, so the DOUBLE casts are value-preserving). Lagged pairs "
    "come from an equi-join on day+k (never a positional window that "
    "would misalign across calendar gaps). Fact-sized work: one "
    "groupBy(day); everything after runs on ~2,400 rows.",
    tags=("agg", "join", "analytics", "stats", "timeseries"),
)
def autocorrelation_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("unix_micros(o_orderdate) div 86400000000").alias("day")
    ).agg(
        F.floor(F.sum(F.col("o_totalprice").cast("decimal(18,2)")))
        .cast("bigint")
        .alias("rev")
    )
    lags = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(7))).alias("k")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = (
        lags.crossJoin(a)
        .join(b, F.col("b.day") == F.col("a.day") + F.col("k"))
        .select("k", F.col("a.rev").alias("x"), F.col("b.rev").alias("y"))
    )
    s = pairs.groupBy("k").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("bigint").cast("double").alias("sx"),
        F.sum("y").cast("bigint").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)"))
        .cast("double")
        .alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return s.select(
        F.col("k").cast("bigint").alias("lag_days"),
        F.col("n").cast("bigint").alias("n_pairs"),
        F.round(num / den, 6).alias("acf"),
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
    "welch_t_test",
    """
    WITH x AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS grp,
               CAST(floor(o_totalprice) AS BIGINT) AS v
        FROM orders
    ), s AS (
        SELECT grp,
               CAST(count(*) AS DOUBLE)               AS n,
               CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)     AS sx,
               CAST(CAST(sum(v * v) AS BIGINT) AS DOUBLE) AS sxx
        FROM x GROUP BY 1
    ), w AS (
        SELECT max(CASE WHEN grp = 1 THEN n END)   AS n1,
               max(CASE WHEN grp = 1 THEN sx END)  AS sx1,
               max(CASE WHEN grp = 1 THEN sxx END) AS sxx1,
               max(CASE WHEN grp = 0 THEN n END)   AS n2,
               max(CASE WHEN grp = 0 THEN sx END)  AS sx2,
               max(CASE WHEN grp = 0 THEN sxx END) AS sxx2
        FROM s
    )
    SELECT CAST(n1 AS BIGINT) AS n_defaulted,
           CAST(n2 AS BIGINT) AS n_other,
           round(sx1 / n1, 6) AS mean_defaulted,
           round(sx2 / n2, 6) AS mean_other,
           round((sx1 / n1 - sx2 / n2)
                 / sqrt(((sxx1 - sx1 * sx1 / n1) / (n1 - 1.0)) / n1
                        + ((sxx2 - sx2 * sx2 / n2) / (n2 - 1.0)) / n2), 6)
                              AS t_stat,
           round(
             (((sxx1 - sx1 * sx1 / n1) / (n1 - 1.0)) / n1
              + ((sxx2 - sx2 * sx2 / n2) / (n2 - 1.0)) / n2)
             * (((sxx1 - sx1 * sx1 / n1) / (n1 - 1.0)) / n1
                + ((sxx2 - sx2 * sx2 / n2) / (n2 - 1.0)) / n2)
             / ((((sxx1 - sx1 * sx1 / n1) / (n1 - 1.0)) / n1)
                * (((sxx1 - sx1 * sx1 / n1) / (n1 - 1.0)) / n1) / (n1 - 1.0)
                + (((sxx2 - sx2 * sx2 / n2) / (n2 - 1.0)) / n2)
                  * (((sxx2 - sx2 * sx2 / n2) / (n2 - 1.0)) / n2) / (n2 - 1.0)),
             4)               AS welch_dof
    FROM w
    """,
    "Welch's unequal-variance two-sample t-test: does order value "
    "differ between defaulted (status F) and non-defaulted orders? — "
    "the univariate screen run on every candidate feature before the "
    "reference's model sees it (spark.py:45 picks six features; this "
    "is how you rank the others). Sufficient statistics are exact "
    "BIGINT sums of floor-dollar values (one partial-combined "
    "aggregation, 2 groups); t and Satterthwaite dof are closed-form "
    "IEEE expressions of those exact values, mirrored "
    "symbol-for-symbol across engines.",
    tags=("agg", "analytics", "stats"),
)
def welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    x = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("grp"),
        F.floor("o_totalprice").cast("bigint").alias("v"),
    )
    s = x.groupBy("grp").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("v").cast("bigint").cast("double").alias("sx"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxx"),
    )
    w = s.agg(
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 1, F.col("sx"))).alias("sx1"),
        F.max(F.when(F.col("grp") == 1, F.col("sxx"))).alias("sxx1"),
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("grp") == 0, F.col("sx"))).alias("sx2"),
        F.max(F.when(F.col("grp") == 0, F.col("sxx"))).alias("sxx2"),
    )
    # se_g = (sample variance)/n for each group, from exact sums.
    se1 = ((F.col("sxx1") - F.col("sx1") * F.col("sx1") / F.col("n1"))
           / (F.col("n1") - F.lit(1.0))) / F.col("n1")
    se2 = ((F.col("sxx2") - F.col("sx2") * F.col("sx2") / F.col("n2"))
           / (F.col("n2") - F.lit(1.0))) / F.col("n2")
    return w.select(
        F.col("n1").cast("bigint").alias("n_defaulted"),
        F.col("n2").cast("bigint").alias("n_other"),
        F.round(F.col("sx1") / F.col("n1"), 6).alias("mean_defaulted"),
        F.round(F.col("sx2") / F.col("n2"), 6).alias("mean_other"),
        F.round(
            (F.col("sx1") / F.col("n1") - F.col("sx2") / F.col("n2"))
            / F.sqrt(se1 + se2),
            6,
        ).alias("t_stat"),
        F.round(
            (se1 + se2) * (se1 + se2)
            / (se1 * se1 / (F.col("n1") - F.lit(1.0))
               + se2 * se2 / (F.col("n2") - F.lit(1.0))),
            4,
        ).alias("welch_dof"),
    )


@register(
    "mannwhitney_amount_by_status",
    """
    WITH x AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS grp,
               CAST(floor(o_totalprice) AS BIGINT) // 1000 AS band
        FROM orders
    ), b AS (
        SELECT band,
               CAST(sum(grp) AS BIGINT)     AS t1,
               CAST(sum(1 - grp) AS BIGINT) AS t2
        FROM x GROUP BY 1
    ), c AS (
        SELECT band, t1, t2, t1 + t2 AS tt,
               CAST(coalesce(sum(t1 + t2) OVER (ORDER BY band
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cum_before,
               CAST(sum(t1) OVER () AS BIGINT) AS n1,
               CAST(sum(t2) OVER () AS BIGINT) AS n2
        FROM b
    ), agg AS (
        SELECT max(n1) AS n1, max(n2) AS n2, max(n1) + max(n2) AS n,
               CAST(sum(t1 * (2 * cum_before + tt + 1)) AS BIGINT) AS r1_dbl,
               CAST(sum(tt * tt * tt - tt) AS BIGINT)              AS tie_sum
        FROM c
    )
    SELECT CAST(n1 AS BIGINT) AS n_defaulted,
           CAST(n2 AS BIGINT) AS n_other,
           round((r1_dbl - n1 * (n1 + 1)) / 2.0 - CAST(n1 * n2 AS DOUBLE) / 2.0, 1)
                              AS u_minus_mean,
           round(((r1_dbl - n1 * (n1 + 1)) / 2.0
                  - CAST(n1 * n2 AS DOUBLE) / 2.0)
                 / sqrt((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
                        * (CAST(n + 1 AS DOUBLE)
                           - CAST(tie_sum AS DOUBLE)
                             / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))), 6)
                              AS z_score
    FROM agg
    """,
    "Mann-Whitney U (Wilcoxon rank-sum) nonparametric location test "
    "on order value by default status — the distribution-free "
    "complement to welch_t_test (banded AUC = U/(n1*n2) links it to "
    "roc_auc_banded). Values band to exact $1000 buckets; tie-aware "
    "average ranks come from DOUBLED-rank integer arithmetic "
    "(2*avg_rank = 2*cum_before + tiecount + 1), so the rank sum, "
    "tie-correction term (sum of t^3 - t), and U are all exact BIGINT "
    "before one closed-form z expression. One partial-combined "
    "groupBy on the ~500-value band key; windows over the band "
    "aggregate.",
    tags=("agg", "window", "analytics", "stats"),
)
def mannwhitney_amount_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    x = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("grp"),
        F.expr("CAST(floor(o_totalprice) AS BIGINT) div 1000").alias("band"),
    )
    b = x.groupBy("band").agg(
        F.sum("grp").cast("bigint").alias("t1"),
        F.sum(1 - F.col("grp")).cast("bigint").alias("t2"),
    )
    w_before = W.orderBy("band").rowsBetween(W.unboundedPreceding, -1)
    c = b.select(
        "band",
        "t1",
        "t2",
        (F.col("t1") + F.col("t2")).alias("tt"),
        F.coalesce(F.sum(F.col("t1") + F.col("t2")).over(w_before), F.lit(0))
        .cast("bigint")
        .alias("cum_before"),
        F.sum("t1").over(W.partitionBy()).cast("bigint").alias("n1"),
        F.sum("t2").over(W.partitionBy()).cast("bigint").alias("n2"),
    )
    agg = c.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        (F.max("n1") + F.max("n2")).alias("n"),
        F.sum(
            F.col("t1") * (2 * F.col("cum_before") + F.col("tt") + 1)
        )
        .cast("bigint")
        .alias("r1_dbl"),
        F.sum(F.col("tt") * F.col("tt") * F.col("tt") - F.col("tt"))
        .cast("bigint")
        .alias("tie_sum"),
    )
    u_minus_mean = (
        (F.col("r1_dbl") - F.col("n1") * (F.col("n1") + 1)) / F.lit(2.0)
        - (F.col("n1") * F.col("n2")).cast("double") / F.lit(2.0)
    )
    sigma = F.sqrt(
        (F.col("n1").cast("double") * F.col("n2").cast("double") / F.lit(12.0))
        * (
            (F.col("n") + 1).cast("double")
            - F.col("tie_sum").cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
        )
    )
    return agg.select(
        F.col("n1").cast("bigint").alias("n_defaulted"),
        F.col("n2").cast("bigint").alias("n_other"),
        F.round(u_minus_mean, 1).alias("u_minus_mean"),
        F.round(u_minus_mean / sigma, 6).alias("z_score"),
    )


@register(
    "benfords_law_digits",
    """
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                           1, 1) AS BIGINT) AS digit
        FROM orders
        WHERE o_totalprice >= 1
    ), g AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1
    ), c AS (
        SELECT digit, n, CAST(sum(n) OVER () AS BIGINT) AS tot FROM g
    ), w AS (
        SELECT digit, n, tot,
               log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS expected,
               (CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)
                - log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
               * (CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)
                  - log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
               / log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * CAST(tot AS DOUBLE)
                                                               AS contrib
        FROM c
    ), m AS (
        SELECT digit, n, tot,
               round(expected, 6) AS expected_share,
               CAST(round(round(contrib, 6) * 1000000.0) AS BIGINT) AS chi_micro
        FROM w
    )
    SELECT digit, n,
           round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS observed_share,
           expected_share,
           CAST(CAST(sum(chi_micro) OVER () AS BIGINT) AS DOUBLE) / 1000000.0
                                                             AS chi2_vs_benford
    FROM m
    """,
    "Benford's-law first-digit audit of order amounts — the "
    "fabricated-financial-data screen (auditors run exactly this on "
    "loan books; synthetic uniform-ish amounts should FAIL Benford, "
    "and the chi-square readout shows it). First digit via exact "
    "BIGINT-to-string arithmetic; observed shares divide exact "
    "counts; expected shares are log10 of one exact small-integer "
    "ratio; the chi-square total sums micro-unit BIGINTs. One "
    "fact-sized groupBy on a 9-value key.",
    tags=("agg", "window", "analytics", "stats", "quality"),
)
def benfords_law_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    d = o.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("digit")
    )
    g = d.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    c = g.select(
        "digit", "n", F.sum("n").over(W.partitionBy()).cast("bigint").alias("tot")
    )
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    share = F.col("n").cast("double") / F.col("tot").cast("double")
    contrib = (share - expected) * (share - expected) / expected * F.col(
        "tot"
    ).cast("double")
    m = c.select(
        "digit",
        "n",
        "tot",
        F.round(expected, 6).alias("expected_share"),
        F.round(F.round(contrib, 6) * 1000000.0, 0)
        .cast("bigint")
        .alias("chi_micro"),
    )
    return m.select(
        "digit",
        "n",
        F.round(
            F.col("n").cast("double") / F.col("tot").cast("double"), 6
        ).alias("observed_share"),
        "expected_share",
        (
            F.sum("chi_micro").over(W.partitionBy()).cast("bigint").cast("double")
            / 1000000.0
        ).alias("chi2_vs_benford"),
    )


@register(
    "gini_concentration",
    """
    WITH rev AS (
        SELECT o_custkey,
               CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
                    AS BIGINT) AS x
        FROM orders GROUP BY 1
    ), ranked AS (
        SELECT x,
               CAST(row_number() OVER (ORDER BY x, o_custkey) AS BIGINT) AS i,
               CAST(count(*) OVER () AS BIGINT)                AS n,
               CAST(sum(x) OVER () AS BIGINT)                  AS sx
        FROM rev
    )
    SELECT CAST(max(n) AS BIGINT)  AS n_customers,
           CAST(max(sx) AS BIGINT) AS total_revenue,
           round(2.0 * CAST(CAST(sum(i * x) AS BIGINT) AS DOUBLE)
                 / (CAST(max(n) AS DOUBLE) * CAST(max(sx) AS DOUBLE))
                 - (CAST(max(n) AS DOUBLE) + 1.0) / CAST(max(n) AS DOUBLE), 6)
                                   AS gini
    FROM ranked
    """,
    "Gini coefficient of customer revenue concentration — the "
    "single-number inequality summary behind pareto_customers' "
    "cumulative curve (and the same statistic credit portfolios "
    "report as 'Gini' = 2*AUC-1 for score power). Per-customer "
    "revenue sums DECIMAL partials then floors to exact BIGINT "
    "dollars; ranks are deterministic (revenue, custkey); the "
    "weighted sum i*x stays in exact BIGINT; one closed-form "
    "expression at the end. Fact-sized work is one groupBy(custkey); "
    "the rank window runs over the customer aggregate (at 100 TB: "
    "two-pass per-partition offsets, distributed_row_number).",
    tags=("agg", "window", "analytics", "stats"),
)
def gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.floor(F.sum(F.col("o_totalprice").cast("decimal(18,2)")))
        .cast("bigint")
        .alias("x")
    )
    w_rank = W.orderBy("x", "o_custkey")
    ranked = rev.select(
        "x",
        F.row_number().over(w_rank).cast("bigint").alias("i"),
        F.count(F.lit(1)).over(W.partitionBy()).cast("bigint").alias("n"),
        F.sum("x").over(W.partitionBy()).cast("bigint").alias("sx"),
    )
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_customers"),
        F.max("sx").cast("bigint").alias("total_revenue"),
        F.round(
            F.lit(2.0)
            * F.sum((F.col("i") * F.col("x")).cast("decimal(38,0)")).cast("double")
            / (F.max("n").cast("double") * F.max("sx").cast("double"))
            - (F.max("n").cast("double") + F.lit(1.0)) / F.max("n").cast("double"),
            6,
        ).alias("gini"),
    )

