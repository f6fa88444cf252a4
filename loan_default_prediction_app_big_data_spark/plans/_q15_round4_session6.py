"""Round-4 session-6 additions: the streaming session-window closure,
classical-statistics completions (one-way ANOVA, McNemar, runs test),
exact integer apportionment, and FIFO interval matching.

Registration ORDER is part of the driver contract - segments are
imported by the facade in fixed sequence; do not reorder.
"""

from __future__ import annotations

from ._core import F, SparkSession, DataFrame, register, t


# =====================================================================
# Streaming session windows - completes the streaming window-type
# matrix (tumbling and sliding runners are driver-certified; session
# windows are the third kind, state-store MERGED rather than assigned).
# =====================================================================

_STREAM_SESSWIN_ORACLE = """
    WITH flagged AS (
        -- Boundary rule: a new session starts only when the gap is
        -- STRICTLY greater than 30 min. ADVICE r4 suspected Spark
        -- splits at the exact-gap tie; empirically it MERGES (the
        -- state-store merge condition is inclusive), so `>` is the
        -- correct oracle. Pinned by
        -- test_session_window_exact_gap_boundary_merges.
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
           count(*) AS n_events,
           (max(ts_us) - min(ts_us)) // 1000000 AS span_s
    FROM sessions
    GROUP BY user_id, seq
"""


@register(
    "streaming_session_window",
    _STREAM_SESSWIN_ORACLE,
    "Native session_window ON THE STREAMING ENGINE - the third and "
    "last window kind after the driver-certified tumbling and sliding "
    "runners. Streaming session windows cannot be pre-assigned: the "
    "state store holds one open session per key and MERGES adjacent "
    "sessions when an event bridges two of them (Spark's "
    "merging-session state format, selected by the session_window "
    "keyword in a streaming groupBy). Complete mode on the finite "
    "replay emits every merged session, which must equal the batch "
    "lag+cumsum sessionization - the identical contract the batch "
    "twin session_window_native is certified against, now proven on "
    "the state-store path. At scale the watermark evicts sessions "
    "whose end+gap has passed, and session state shards by "
    "(user, window) with the shuffle.",
    tags=("streaming", "window", "sessionization", "round4"),
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import run_session_window_stream

    return run_session_window_stream(spark, sf_dir)


# =====================================================================
# One-way ANOVA F-test across the five order priorities - the k-group
# generalization of the driver-queued welch_t_test, from the same
# exact-integer-moment discipline.
# =====================================================================

_ANOVA_ORACLE = """
    WITH x AS (
        SELECT o_orderpriority AS grp,
               CAST(floor(o_totalprice) AS BIGINT) AS v
        FROM orders
    ), s AS (
        SELECT grp,
               CAST(count(*) AS DOUBLE)                   AS n,
               CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)     AS sx,
               CAST(CAST(sum(v * v) AS HUGEINT) AS DOUBLE) AS sxx
        FROM x GROUP BY 1
    ), w AS (
        SELECT max(CASE WHEN grp = '1-URGENT' THEN n END)    AS n1,
               max(CASE WHEN grp = '1-URGENT' THEN sx END)   AS sx1,
               max(CASE WHEN grp = '1-URGENT' THEN sxx END)  AS sxx1,
               max(CASE WHEN grp = '2-HIGH' THEN n END)      AS n2,
               max(CASE WHEN grp = '2-HIGH' THEN sx END)     AS sx2,
               max(CASE WHEN grp = '2-HIGH' THEN sxx END)    AS sxx2,
               max(CASE WHEN grp = '3-MEDIUM' THEN n END)    AS n3,
               max(CASE WHEN grp = '3-MEDIUM' THEN sx END)   AS sx3,
               max(CASE WHEN grp = '3-MEDIUM' THEN sxx END)  AS sxx3,
               max(CASE WHEN grp = '4-NOT SPECIFIED' THEN n END)   AS n4,
               max(CASE WHEN grp = '4-NOT SPECIFIED' THEN sx END)  AS sx4,
               max(CASE WHEN grp = '4-NOT SPECIFIED' THEN sxx END) AS sxx4,
               max(CASE WHEN grp = '5-LOW' THEN n END)       AS n5,
               max(CASE WHEN grp = '5-LOW' THEN sx END)      AS sx5,
               max(CASE WHEN grp = '5-LOW' THEN sxx END)     AS sxx5
        FROM s
    ), d AS (
        SELECT n1 + n2 + n3 + n4 + n5 AS nt,
               sx1 + sx2 + sx3 + sx4 + sx5 AS st,
               sxx1 + sxx2 + sxx3 + sxx4 + sxx5 AS qt,
               sx1 * sx1 / n1 + sx2 * sx2 / n2 + sx3 * sx3 / n3
                   + sx4 * sx4 / n4 + sx5 * sx5 / n5 AS bsum
        FROM w
    )
    SELECT CAST(nt AS BIGINT) AS n_total,
           round((bsum - st * st / nt) / 4.0
                 / ((qt - bsum) / (nt - 5.0)), 6) AS f_stat,
           round((bsum - st * st / nt)
                 / (bsum - st * st / nt + (qt - bsum)), 6) AS eta_squared
    FROM d
"""


@register(
    "anova_oneway_f",
    _ANOVA_ORACLE,
    "One-way ANOVA F-test: does order value differ across the FIVE "
    "order priorities? - the k-group generalization of welch_t_test, "
    "completing the classical-test tier (t / chi-square / "
    "Mann-Whitney / log-rank / permutation / ANOVA). Sufficient "
    "statistics are exact integer moments per group (BIGINT sums, "
    "DECIMAL(38,0) squared sums - one partial-combined aggregation "
    "over 5 groups); the 5 groups pivot into one row and SSB/SSW/F "
    "are closed-form IEEE expressions written in a FIXED left-to-"
    "right term order mirrored symbol-for-symbol by the oracle, so "
    "no cross-group float summation order is engine-dependent. "
    "eta_squared = SSB/SST is the effect size. Scale: 5-row shuffle "
    "after map-side combine; nothing else moves.",
    tags=("agg", "stats", "round4"),
)
def anova_oneway_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    x = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.floor("o_totalprice").cast("bigint").alias("v"),
    )
    s = x.groupBy("grp").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("v").cast("bigint").cast("double").alias("sx"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxx"),
    )
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    w = s.agg(
        *[
            F.max(F.when(F.col("grp") == p, F.col(c))).alias(f"{c}{i + 1}")
            for i, p in enumerate(prio)
            for c in ("n", "sx", "sxx")
        ]
    )
    nt = F.col("n1") + F.col("n2") + F.col("n3") + F.col("n4") + F.col("n5")
    st = F.col("sx1") + F.col("sx2") + F.col("sx3") + F.col("sx4") + F.col("sx5")
    qt = (
        F.col("sxx1") + F.col("sxx2") + F.col("sxx3") + F.col("sxx4")
        + F.col("sxx5")
    )
    bsum = (
        F.col("sx1") * F.col("sx1") / F.col("n1")
        + F.col("sx2") * F.col("sx2") / F.col("n2")
        + F.col("sx3") * F.col("sx3") / F.col("n3")
        + F.col("sx4") * F.col("sx4") / F.col("n4")
        + F.col("sx5") * F.col("sx5") / F.col("n5")
    )
    d = w.select(
        nt.alias("nt"), st.alias("st"), qt.alias("qt"), bsum.alias("bsum")
    )
    ssb = F.col("bsum") - F.col("st") * F.col("st") / F.col("nt")
    ssw = F.col("qt") - F.col("bsum")
    return d.select(
        F.col("nt").cast("bigint").alias("n_total"),
        F.round(ssb / F.lit(4.0) / (ssw / (F.col("nt") - F.lit(5.0))), 6).alias(
            "f_stat"
        ),
        F.round(ssb / (ssb + ssw), 6).alias("eta_squared"),
    )


# =====================================================================
# McNemar's paired test - do two deterministic default-screens
# disagree more in one direction than the other on the SAME orders?
# =====================================================================

_MCNEMAR_ORACLE = """
    WITH scored AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
               CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS a,
               CASE WHEN (o_orderkey * 31 + o_custkey) % 97 < 44
                    THEN 1 ELSE 0 END AS b
        FROM orders
    ), cells AS (
        SELECT CAST(count(*) FILTER (a = y AND b <> y) AS BIGINT) AS n10,
               CAST(count(*) FILTER (a <> y AND b = y) AS BIGINT) AS n01,
               CAST(count(*) FILTER (a = y AND b = y) AS BIGINT)  AS n11,
               CAST(count(*) FILTER (a <> y AND b <> y) AS BIGINT) AS n00
        FROM scored
    )
    SELECT n11 AS both_correct, n10 AS only_a_correct,
           n01 AS only_b_correct, n00 AS both_wrong,
           round((abs(CAST(n10 AS DOUBLE) - CAST(n01 AS DOUBLE)) - 1.0)
                 * (abs(CAST(n10 AS DOUBLE) - CAST(n01 AS DOUBLE)) - 1.0)
                 / (CAST(n10 AS DOUBLE) + CAST(n01 AS DOUBLE)), 6)
               AS mcnemar_chi2
    FROM cells
"""


@register(
    "mcnemar_paired_test",
    _MCNEMAR_ORACLE,
    "McNemar's test for PAIRED binary classifiers: two deterministic "
    "default screens (a price-threshold rule and a key-hash rule) "
    "score the SAME orders, and only the discordant cells - orders "
    "exactly one screen gets right - carry signal. This is the "
    "correct test when comparing two models evaluated on one "
    "dataset (accuracy deltas ignore pairing; McNemar does not) - "
    "the model-comparison step after the reference's single-model "
    "evaluator (spark.py:71-73). Continuity-corrected chi-square "
    "(|b-c|-1)^2/(b+c) from exact BIGINT cell counts; the 2x2 "
    "disagreement table is one conditional aggregation, nothing "
    "shuffles but four counters.",
    tags=("agg", "stats", "ml", "round4"),
)
def mcnemar_paired_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    scored = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        F.when(F.col("o_totalprice") > 150000, 1).otherwise(0).alias("a"),
        F.when(
            (F.col("o_orderkey") * 31 + F.col("o_custkey")) % 97 < 44, 1
        )
        .otherwise(0)
        .alias("b"),
    )
    cells = scored.agg(
        F.count(F.when((F.col("a") == F.col("y")) & (F.col("b") != F.col("y")), 1))
        .cast("bigint")
        .alias("n10"),
        F.count(F.when((F.col("a") != F.col("y")) & (F.col("b") == F.col("y")), 1))
        .cast("bigint")
        .alias("n01"),
        F.count(F.when((F.col("a") == F.col("y")) & (F.col("b") == F.col("y")), 1))
        .cast("bigint")
        .alias("n11"),
        F.count(F.when((F.col("a") != F.col("y")) & (F.col("b") != F.col("y")), 1))
        .cast("bigint")
        .alias("n00"),
    )
    diff = F.abs(F.col("n10").cast("double") - F.col("n01").cast("double"))
    return cells.select(
        F.col("n11").alias("both_correct"),
        F.col("n10").alias("only_a_correct"),
        F.col("n01").alias("only_b_correct"),
        F.col("n00").alias("both_wrong"),
        F.round(
            (diff - F.lit(1.0))
            * (diff - F.lit(1.0))
            / (F.col("n10").cast("double") + F.col("n01").cast("double")),
            6,
        ).alias("mcnemar_chi2"),
    )


# =====================================================================
# Wald-Wolfowitz runs test - is the daily revenue up/down sequence
# random, or does it trend/oscillate?
# =====================================================================

_RUNS_ORACLE = """
    WITH daily AS (
        SELECT o_orderdate AS d,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev
        FROM orders GROUP BY 1
    ), signs AS (
        SELECT d,
               CASE WHEN rev > lag(rev) OVER (ORDER BY d)
                    THEN 1 ELSE 0 END AS up,
               lag(rev) OVER (ORDER BY d) AS prev
        FROM daily
    ), seq AS (
        SELECT up,
               CASE WHEN lag(up) OVER (ORDER BY d) IS NULL
                         OR up <> lag(up) OVER (ORDER BY d)
                    THEN 1 ELSE 0 END AS new_run
        FROM signs WHERE prev IS NOT NULL
    ), agg AS (
        SELECT CAST(sum(up) AS DOUBLE) AS n1,
               CAST(count(*) - sum(up) AS DOUBLE) AS n2,
               CAST(sum(new_run) AS DOUBLE) AS r
        FROM seq
    )
    SELECT CAST(n1 AS BIGINT) AS n_up,
           CAST(n2 AS BIGINT) AS n_down,
           CAST(r AS BIGINT) AS n_runs,
           round((r - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
                 / sqrt((2.0 * n1 * n2 / (n1 + n2) + 1.0 - 1.0)
                        * (2.0 * n1 * n2 / (n1 + n2) + 1.0 - 2.0)
                        / (n1 + n2 - 1.0)), 6) AS z_stat
    FROM agg
"""


@register(
    "runs_test_randomness",
    _RUNS_ORACLE,
    "Wald-Wolfowitz runs test on the daily-revenue direction "
    "sequence: too FEW runs of consecutive up/down days means the "
    "series trends, too MANY means it oscillates - the "
    "nonparametric randomness screen that belongs next to the "
    "autocorrelation and CUSUM monitors in the drift tier. Daily "
    "revenue sums as exact integer cents; directions and run "
    "boundaries are integer window expressions (lag + change flag), "
    "and the normal-approximation z is a closed-form IEEE "
    "expression of the three exact counts, mirrored term-for-term. "
    "Ties (equal revenue) count as down - deterministic on both "
    "engines. Scale: the day-grain series is ~2.4k rows even at "
    "100 TB; the only wide stage is the partial-combined daily sum.",
    tags=("window", "stats", "timeseries", "round4"),
)
def runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    w = W.orderBy("d")
    signs = daily.select(
        "d",
        F.when(F.col("rev") > F.lag("rev").over(w), 1).otherwise(0).alias("up"),
        F.lag("rev").over(w).alias("prev"),
    )
    seq = signs.filter(F.col("prev").isNotNull()).select(
        "d", "up",
        F.when(
            F.lag("up").over(w).isNull() | (F.col("up") != F.lag("up").over(w)),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = seq.agg(
        F.sum("up").cast("double").alias("n1"),
        (F.count(F.lit(1)) - F.sum("up")).cast("double").alias("n2"),
        F.sum("new_run").cast("double").alias("r"),
    )
    mu = F.lit(2.0) * F.col("n1") * F.col("n2") / (F.col("n1") + F.col("n2")) + F.lit(1.0)
    return agg.select(
        F.col("n1").cast("bigint").alias("n_up"),
        F.col("n2").cast("bigint").alias("n_down"),
        F.col("r").cast("bigint").alias("n_runs"),
        F.round(
            (F.col("r") - mu)
            / F.sqrt(
                (mu - F.lit(1.0))
                * (mu - F.lit(2.0))
                / (F.col("n1") + F.col("n2") - F.lit(1.0))
            ),
            6,
        ).alias("z_stat"),
    )


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
# Cochran-Armitage trend test - is the default rate MONOTONE in the
# ordered priority levels? (chi_square_independence ignores order;
# this is the ordered-category counterpart.)
# =====================================================================

_TREND_ORACLE = """
    WITH x AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS score,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
    ), s AS (
        SELECT score,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS r
        FROM x GROUP BY 1
    ), w AS (
        SELECT max(CASE WHEN score = 1 THEN n END) AS n1,
               max(CASE WHEN score = 1 THEN r END) AS r1,
               max(CASE WHEN score = 2 THEN n END) AS n2,
               max(CASE WHEN score = 2 THEN r END) AS r2,
               max(CASE WHEN score = 3 THEN n END) AS n3,
               max(CASE WHEN score = 3 THEN r END) AS r3,
               max(CASE WHEN score = 4 THEN n END) AS n4,
               max(CASE WHEN score = 4 THEN r END) AS r4,
               max(CASE WHEN score = 5 THEN n END) AS n5,
               max(CASE WHEN score = 5 THEN r END) AS r5
        FROM s
    ), d AS (
        SELECT n1 + n2 + n3 + n4 + n5 AS nt,
               r1 + r2 + r3 + r4 + r5 AS rt,
               1.0 * r1 + 2.0 * r2 + 3.0 * r3 + 4.0 * r4 + 5.0 * r5 AS tr,
               1.0 * n1 + 2.0 * n2 + 3.0 * n3 + 4.0 * n4 + 5.0 * n5 AS tn,
               1.0 * n1 + 4.0 * n2 + 9.0 * n3 + 16.0 * n4 + 25.0 * n5 AS tn2
        FROM w
    )
    SELECT CAST(nt AS BIGINT) AS n_total,
           CAST(rt AS BIGINT) AS n_default,
           round((tr - rt / nt * tn)
                 / sqrt(rt / nt * (1.0 - rt / nt)
                        * (tn2 - tn * tn / nt)), 6) AS trend_z
    FROM d
"""


@register(
    "cochran_armitage_trend",
    _TREND_ORACLE,
    "Cochran-Armitage trend test: is the default (status F) rate "
    "monotone across the ORDERED priority levels 1-URGENT..5-LOW? "
    "chi_square_independence treats the levels as unordered and "
    "burns power; the trend test scores them 1..5 and tests the "
    "linear component - the standard epidemiology/credit screen for "
    "dose-response shapes. Exact integer (n, defaults) per level "
    "pivot into one row; the z statistic is a fixed-order IEEE "
    "expression of the ten exact counts, mirrored term-for-term in "
    "the oracle. Scale: 5-row shuffle after map-side combine.",
    tags=("agg", "stats", "credit", "round4"),
)
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    x = o.select(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("score"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    s = x.groupBy("score").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("y").cast("bigint").cast("double").alias("r"),
    )
    w = s.agg(
        *[
            F.max(F.when(F.col("score") == k, F.col(c))).alias(f"{c}{k}")
            for k in range(1, 6)
            for c in ("n", "r")
        ]
    )
    nt = F.col("n1") + F.col("n2") + F.col("n3") + F.col("n4") + F.col("n5")
    rt = F.col("r1") + F.col("r2") + F.col("r3") + F.col("r4") + F.col("r5")
    tr = (
        F.lit(1.0) * F.col("r1") + F.lit(2.0) * F.col("r2")
        + F.lit(3.0) * F.col("r3") + F.lit(4.0) * F.col("r4")
        + F.lit(5.0) * F.col("r5")
    )
    tn = (
        F.lit(1.0) * F.col("n1") + F.lit(2.0) * F.col("n2")
        + F.lit(3.0) * F.col("n3") + F.lit(4.0) * F.col("n4")
        + F.lit(5.0) * F.col("n5")
    )
    tn2 = (
        F.lit(1.0) * F.col("n1") + F.lit(4.0) * F.col("n2")
        + F.lit(9.0) * F.col("n3") + F.lit(16.0) * F.col("n4")
        + F.lit(25.0) * F.col("n5")
    )
    d = w.select(
        nt.alias("nt"), rt.alias("rt"), tr.alias("tr"),
        tn.alias("tn"), tn2.alias("tn2"),
    )
    p = F.col("rt") / F.col("nt")
    return d.select(
        F.col("nt").cast("bigint").alias("n_total"),
        F.col("rt").cast("bigint").alias("n_default"),
        F.round(
            (F.col("tr") - p * F.col("tn"))
            / F.sqrt(
                p * (F.lit(1.0) - p)
                * (F.col("tn2") - F.col("tn") * F.col("tn") / F.col("nt"))
            ),
            6,
        ).alias("trend_z"),
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
# Chunk-grain dedup REWRITE - the transform counterpart of
# duplicated_ngram_span_fraction's measurement: drop every chunk that
# already appeared anywhere else in the corpus, keep first occurrence,
# and re-emit the surviving text.
# =====================================================================

_CHUNK_K = 3

_CHUNK_DEDUP_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents
    ), chunks AS (
        SELECT doc_id, i AS idx,
               array_to_string(
                   ws[(i * {_CHUNK_K} + 1):(i * {_CHUNK_K} + {_CHUNK_K})],
                   ' ') AS chunk
        FROM toks, unnest(generate_series(0, len(ws) // {_CHUNK_K} - 1))
                 AS t(i)
        WHERE len(ws) >= {_CHUNK_K}
    ), ranked AS (
        SELECT doc_id, idx, chunk,
               row_number() OVER (
                   PARTITION BY chunk ORDER BY doc_id, idx) AS rn
        FROM chunks
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(*) FILTER (rn = 1) AS BIGINT) AS n_kept,
           coalesce(string_agg(chunk, ' ' ORDER BY idx)
                        FILTER (rn = 1), '') AS text_kept
    FROM ranked GROUP BY doc_id
"""


@register(
    "chunk_dedup_rewrite",
    _CHUNK_DEDUP_ORACLE,
    "Chunk-grain dedup REWRITE: split every document into fixed "
    "token chunks, keep only each chunk's globally FIRST occurrence "
    "(ordered by doc_id, position - the deterministic keeper rule), "
    "and re-emit the surviving text per document. This is the "
    "TRANSFORM counterpart of duplicated_ngram_span_fraction (which "
    "only measures): the Lee-et-al-style cross-document boilerplate "
    "actually gets REMOVED, the way a training-data pipeline "
    "rewrites its corpus. The chunk grain is {_CHUNK_K} tokens to "
    "match the synthetic fixture's vocabulary density; real corpora "
    "use paragraph/256-token grains with the identical plan. First "
    "occurrence is one row_number over the chunk hash partition - "
    "chunks shuffle, documents never pairwise compare; reassembly "
    "is an order-preserving grouped string fold. Scale: the only "
    "wide exchanges key on chunk text and doc_id.",
    tags=("dedup", "text", "llm-pipeline", "round4"),
)
def chunk_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.text import tokens

    k = _CHUNK_K
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("ws")).filter(
        F.size("ws") >= k
    )
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0), (F.floor(F.size("ws") / k) - 1).cast("int")
                ),
                lambda i: F.array_join(
                    F.slice(F.col("ws"), i * k + 1, k), " "
                ),
            )
        ).alias("idx", "chunk"),
    )
    ranked = chunks.select(
        "doc_id",
        "idx",
        "chunk",
        F.row_number()
        .over(W.partitionBy("chunk").orderBy("doc_id", "idx"))
        .alias("rn"),
    )
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rn") == 1,
                                F.struct(
                                    F.col("idx").alias("i"),
                                    F.col("chunk").alias("c"),
                                ),
                            )
                        )
                    ),
                    lambda s: s["c"],
                ),
                " ",
            ),
            F.lit(""),
        ).alias("text_kept"),
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
# Poisson rate-ratio test (conditional binomial form) - completes the
# count-data cell of the classical-test tier.
# =====================================================================

_POISSON_ORACLE = """
    WITH c AS (
        SELECT CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
                   AS n1,
               CAST(count(*) FILTER (event_type = 'view') AS BIGINT)
                   AS n2
        FROM events
    )
    SELECT n1 AS n_purchase, n2 AS n_view,
           round(CAST(n1 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) AS rate_ratio,
           round((CAST(n1 AS DOUBLE) - (CAST(n1 AS DOUBLE)
                   + CAST(n2 AS DOUBLE)) * 0.2)
                 / sqrt((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                        * 0.2 * 0.8), 6) AS z_vs_one_to_four
    FROM c
"""


@register(
    "poisson_rate_ratio_test",
    _POISSON_ORACLE,
    "Poisson rate-ratio test in its exact conditional form: given "
    "two Poisson streams (purchase and view events over the same "
    "exposure window), conditional on the total, the purchase count "
    "is Binomial(n1+n2, p0) under the null rate ratio - tested here "
    "against a 1:4 null (p0 = 0.2) with the normal approximation. "
    "The classical-test tier's COUNT-DATA cell next to the "
    "mean-shift (t/ANOVA), rank (Mann-Whitney), categorical "
    "(chi-square/trend), paired (McNemar), sequence (runs), and "
    "survival (log-rank) cells. Two exact BIGINT counters; z is a "
    "closed-form IEEE expression mirrored term-for-term. Scale: one "
    "conditional count-aggregate, nothing else moves.",
    tags=("agg", "stats", "round4"),
)
def poisson_rate_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    c = ev.agg(
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("n1"),
        F.count(F.when(F.col("event_type") == "view", 1))
        .cast("bigint")
        .alias("n2"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    return c.select(
        F.col("n1").alias("n_purchase"),
        F.col("n2").alias("n_view"),
        F.round(n1 / n2, 6).alias("rate_ratio"),
        F.round(
            (n1 - (n1 + n2) * F.lit(0.2))
            / F.sqrt((n1 + n2) * F.lit(0.2) * F.lit(0.8)),
            6,
        ).alias("z_vs_one_to_four"),
    )


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
# Cohen's kappa - chance-corrected agreement between the two paired
# screens from mcnemar_paired_test (McNemar asks "do they disagree
# asymmetrically?"; kappa asks "do they agree beyond chance?").
# =====================================================================

_KAPPA_ORACLE = """
    WITH scored AS (
        SELECT CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS a,
               CASE WHEN (o_orderkey * 31 + o_custkey) % 97 < 44
                    THEN 1 ELSE 0 END AS b
        FROM orders
    ), cells AS (
        SELECT CAST(count(*) FILTER (a = 1 AND b = 1) AS DOUBLE) AS n11,
               CAST(count(*) FILTER (a = 1 AND b = 0) AS DOUBLE) AS n10,
               CAST(count(*) FILTER (a = 0 AND b = 1) AS DOUBLE) AS n01,
               CAST(count(*) FILTER (a = 0 AND b = 0) AS DOUBLE) AS n00
        FROM scored
    )
    SELECT CAST(n11 + n10 + n01 + n00 AS BIGINT) AS n_total,
           round((n11 + n00) / (n11 + n10 + n01 + n00), 6) AS p_observed,
           round(((n11 + n10) * (n11 + n01)
                  + (n01 + n00) * (n10 + n00))
                 / ((n11 + n10 + n01 + n00)
                    * (n11 + n10 + n01 + n00)), 6) AS p_chance,
           round(((n11 + n00) / (n11 + n10 + n01 + n00)
                  - ((n11 + n10) * (n11 + n01)
                     + (n01 + n00) * (n10 + n00))
                    / ((n11 + n10 + n01 + n00)
                       * (n11 + n10 + n01 + n00)))
                 / (1.0 - ((n11 + n10) * (n11 + n01)
                           + (n01 + n00) * (n10 + n00))
                          / ((n11 + n10 + n01 + n00)
                             * (n11 + n10 + n01 + n00))), 6) AS kappa
    FROM cells
"""


@register(
    "cohens_kappa_agreement",
    _KAPPA_ORACLE,
    "Cohen's kappa for the two paired default screens: agreement "
    "CORRECTED FOR CHANCE - the complement of mcnemar_paired_test "
    "(McNemar tests asymmetric disagreement; kappa scores beyond-"
    "chance agreement; together they are the standard paired-rater "
    "readout). Four exact BIGINT cells; p_o, p_e and kappa are "
    "closed-form IEEE expressions mirrored term-for-term. Scale: "
    "four counters after map-side combine.",
    tags=("agg", "stats", "ml", "round4"),
)
def cohens_kappa_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    scored = o.select(
        F.when(F.col("o_totalprice") > 150000, 1).otherwise(0).alias("a"),
        F.when(
            (F.col("o_orderkey") * 31 + F.col("o_custkey")) % 97 < 44, 1
        )
        .otherwise(0)
        .alias("b"),
    )
    cells = scored.agg(
        F.count(F.when((F.col("a") == 1) & (F.col("b") == 1), 1))
        .cast("double")
        .alias("n11"),
        F.count(F.when((F.col("a") == 1) & (F.col("b") == 0), 1))
        .cast("double")
        .alias("n10"),
        F.count(F.when((F.col("a") == 0) & (F.col("b") == 1), 1))
        .cast("double")
        .alias("n01"),
        F.count(F.when((F.col("a") == 0) & (F.col("b") == 0), 1))
        .cast("double")
        .alias("n00"),
    )
    n = F.col("n11") + F.col("n10") + F.col("n01") + F.col("n00")
    po = (F.col("n11") + F.col("n00")) / n
    pe = (
        (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    ) / (n * n)
    return cells.select(
        n.cast("bigint").alias("n_total"),
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_chance"),
        F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


# =====================================================================
# Brown-Forsythe / Levene variance-homogeneity test - the assumption
# check behind anova_oneway_f, in EXACT integer arithmetic: the
# centered absolute deviations |x - mean_g| become integers after
# multiplying through by n_g.
# =====================================================================

def _levene_oracle() -> str:
    """The w-pivot CTE is shared with anova_oneway_f's shape; build the
    final F expression programmatically so the Spark side mirrors it
    term-for-term."""
    groups = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    pivot = ",\n               ".join(
        f"max(CASE WHEN grp = '{g}' THEN {c} END) AS {c}{i + 1}"
        for i, g in enumerate(groups)
        for c in ("n", "sz", "szz")
    )
    nt = " + ".join(f"n{i}" for i in range(1, 6))
    st = " + ".join(f"sz{i}" for i in range(1, 6))
    qt = " + ".join(f"szz{i}" for i in range(1, 6))
    bsum = " + ".join(f"sz{i} * sz{i} / n{i}" for i in range(1, 6))
    return f"""
    WITH x AS (
        SELECT o_orderpriority AS grp,
               CAST(floor(o_totalprice) AS BIGINT) AS v
        FROM orders
    ), m AS (
        SELECT grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v) AS BIGINT) AS s
        FROM x GROUP BY 1
    ), z AS (
        SELECT x.grp, m.n, abs(x.v * m.n - m.s) AS znum
        FROM x JOIN m ON m.grp = x.grp
    ), zs AS (
        SELECT grp,
               CAST(max(n) AS DOUBLE) AS n,
               CAST(CAST(sum(znum) AS HUGEINT) AS DOUBLE)
                   / CAST(max(n) AS DOUBLE) AS sz,
               CAST(CAST(sum(CAST(znum AS HUGEINT) * znum) AS HUGEINT)
                    AS DOUBLE)
                   / (CAST(max(n) AS DOUBLE) * CAST(max(n) AS DOUBLE))
                   AS szz
        FROM z GROUP BY 1
    ), w AS (
        SELECT {pivot}
        FROM zs
    ), d AS (
        SELECT {nt} AS nt, {st} AS st, {qt} AS qt, {bsum} AS bsum
        FROM w
    )
    SELECT CAST(nt AS BIGINT) AS n_total,
           round((bsum - st * st / nt) / 4.0
                 / ((qt - bsum) / (nt - 5.0)), 6) AS levene_w
    FROM d
    """


@register(
    "levene_brown_forsythe",
    _levene_oracle(),
    "Levene's variance-homogeneity test (mean-centered form) across "
    "the five order priorities - the ASSUMPTION CHECK behind "
    "anova_oneway_f (ANOVA assumes equal group variances; Levene is "
    "the one-way ANOVA of the absolute deviations from each group's "
    "center). Exactness trick: |v - mean_g| is irrational-free after "
    "multiplying through by n_g - znum = |v*n_g - s_g| is an exact "
    "BIGINT per row, its sums are exact HUGEINT/DECIMAL, and the "
    "1/n_g, 1/n_g^2 factors divide AFTER the exact integer "
    "aggregation, so no per-row float ever enters a layout-"
    "dependent sum. The W statistic is then the same fixed-order "
    "pivoted F expression as the ANOVA twin. Scale: one extra "
    "broadcast join (5-row means) over the fact pass.",
    tags=("agg", "stats", "round4"),
)
def levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    x = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.floor("o_totalprice").cast("bigint").alias("v"),
    )
    m = x.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
    )
    z = x.join(F.broadcast(m), "grp").select(
        "grp",
        "n",
        F.abs(F.col("v") * F.col("n") - F.col("s")).alias("znum"),
    )
    zs = z.groupBy("grp").agg(
        F.max("n").cast("double").alias("nn"),
        (
            F.sum(F.col("znum").cast("decimal(38,0)")).cast("double")
            / F.max("n").cast("double")
        ).alias("sz"),
        (
            F.sum(
                (F.col("znum").cast("decimal(38,0)") * F.col("znum"))
            ).cast("double")
            / (F.max("n").cast("double") * F.max("n").cast("double"))
        ).alias("szz"),
    )
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    cols = {"n": "nn", "sz": "sz", "szz": "szz"}
    w = zs.agg(
        *[
            F.max(F.when(F.col("grp") == p, F.col(src))).alias(f"{dst}{i + 1}")
            for i, p in enumerate(prio)
            for dst, src in cols.items()
        ]
    )
    nt = F.col("n1") + F.col("n2") + F.col("n3") + F.col("n4") + F.col("n5")
    st = F.col("sz1") + F.col("sz2") + F.col("sz3") + F.col("sz4") + F.col("sz5")
    qt = (
        F.col("szz1") + F.col("szz2") + F.col("szz3") + F.col("szz4")
        + F.col("szz5")
    )
    bsum = (
        F.col("sz1") * F.col("sz1") / F.col("n1")
        + F.col("sz2") * F.col("sz2") / F.col("n2")
        + F.col("sz3") * F.col("sz3") / F.col("n3")
        + F.col("sz4") * F.col("sz4") / F.col("n4")
        + F.col("sz5") * F.col("sz5") / F.col("n5")
    )
    d = w.select(
        nt.alias("nt"), st.alias("st"), qt.alias("qt"), bsum.alias("bsum")
    )
    ssb = F.col("bsum") - F.col("st") * F.col("st") / F.col("nt")
    ssw = F.col("qt") - F.col("bsum")
    return d.select(
        F.col("nt").cast("bigint").alias("n_total"),
        F.round(ssb / F.lit(4.0) / (ssw / (F.col("nt") - F.lit(5.0))), 6).alias(
            "levene_w"
        ),
    )


# =====================================================================
# Jarque-Bera normality test - composed from the exact central moments
# the moment_stats_skew_kurtosis tier already disciplines.
# =====================================================================

_JB_ORACLE = """
    WITH x AS (
        SELECT CAST(floor(o_totalprice) AS BIGINT) AS v FROM orders
    ), m AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(CAST(sum(v) AS HUGEINT) AS DOUBLE) AS s1,
               CAST(CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT)
                    AS DOUBLE) AS s2,
               CAST(CAST(sum(CAST(v AS HUGEINT) * v * v) AS HUGEINT)
                    AS DOUBLE) AS s3,
               CAST(CAST(sum(CAST(v AS HUGEINT) * v * v * v) AS HUGEINT)
                    AS DOUBLE) AS s4
        FROM x
    ), c AS (
        SELECT n,
               s2 / n - (s1 / n) * (s1 / n) AS m2,
               s3 / n - 3.0 * (s1 / n) * (s2 / n)
                   + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
               s4 / n - 4.0 * (s1 / n) * (s3 / n)
                   + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
                   - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        FROM m
    )
    SELECT CAST(n AS BIGINT) AS n_total,
           round(m3 / sqrt(m2 * m2 * m2), 6) AS skewness,
           round(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis,
           round(n / 6.0 * ((m3 / sqrt(m2 * m2 * m2))
                            * (m3 / sqrt(m2 * m2 * m2))
                            + (m4 / (m2 * m2) - 3.0)
                              * (m4 / (m2 * m2) - 3.0) / 4.0), 6)
               AS jarque_bera
    FROM c
"""


@register(
    "jarque_bera_normality",
    _JB_ORACLE,
    "Jarque-Bera normality test on order values: JB = n/6 (S^2 + "
    "K^2/4) from the exact raw moments (BIGINT/HUGEINT sums of v, "
    "v^2, v^3, v^4 - the same overflow-proof moment discipline as "
    "moment_stats_skew_kurtosis), converted to central moments and "
    "the statistic in one fixed-order IEEE expression mirrored "
    "term-for-term. The normality cell of the test tier - the "
    "pre-check for every z/t-approximation the other tests lean on. "
    "Scale: one partial-combined aggregate, four integer moments.",
    tags=("agg", "stats", "round4"),
)
def jarque_bera_normality(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    x = o.select(F.floor("o_totalprice").cast("bigint").alias("v"))
    v = F.col("v").cast("decimal(38,0)")
    m = x.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("v").cast("bigint").cast("double").alias("s1"),
        F.sum(v * F.col("v")).cast("double").alias("s2"),
        F.sum(v * F.col("v") * F.col("v")).cast("double").alias("s3"),
        F.sum(v * F.col("v") * F.col("v") * F.col("v"))
        .cast("double")
        .alias("s4"),
    )
    mean = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - mean * mean
    m3 = (
        F.col("s3") / F.col("n")
        - F.lit(3.0) * mean * (F.col("s2") / F.col("n"))
        + F.lit(2.0) * mean * mean * mean
    )
    m4 = (
        F.col("s4") / F.col("n")
        - F.lit(4.0) * mean * (F.col("s3") / F.col("n"))
        + F.lit(6.0) * mean * mean * (F.col("s2") / F.col("n"))
        - F.lit(3.0) * mean * mean * mean * mean
    )
    skew = m3 / F.sqrt(m2 * m2 * m2)
    kurt = m4 / (m2 * m2) - F.lit(3.0)
    return m.select(
        F.col("n").cast("bigint").alias("n_total"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
        F.round(
            F.col("n") / F.lit(6.0) * (skew * skew + kurt * kurt / F.lit(4.0)),
            6,
        ).alias("jarque_bera"),
    )
