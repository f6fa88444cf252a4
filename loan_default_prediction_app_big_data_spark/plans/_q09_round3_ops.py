"""Auto-split segment of the query registry (see registry.py facade).

Registration ORDER is part of the driver contract - segments are
imported by the facade in fixed sequence; do not reorder.
"""

from __future__ import annotations

from ..operators.text import merge_pair
from ..scratch import tmp_io
from ..session import scoped_conf
from ._core import DataFrame, F, SparkSession, W, pin_local, register, t
from ._q08_sequences_session2 import _bpe_oracle, bpe_merge_training




def _bpe_apply_oracle(n_merges: int = 5) -> str:
    """Oracle for bpe_tokenize_apply: the same n merge stages as
    _bpe_oracle, then per-doc token counts before/after."""
    base = _bpe_oracle(n_merges)
    # reuse the stage CTEs, swap the final SELECT for the apply readout
    cut = base.rindex("\n    SELECT CAST(merge_order AS INT)")
    return (
        base[:cut]
        + f"""
    SELECT a.doc_id,
           CAST(len(string_split(a.text, ' ')) AS BIGINT) AS n_tok_raw,
           CAST(len(string_split(b.text, ' ')) AS BIGINT) AS n_tok_bpe,
           round(1.0 - CAST(len(string_split(b.text, ' ')) AS DOUBLE)
                     / CAST(len(string_split(a.text, ' ')) AS DOUBLE), 6)
               AS compression
    FROM t0 a JOIN t{n_merges} b ON a.doc_id = b.doc_id
    WHERE a.doc_id % 25 = 0
    ORDER BY a.doc_id"""
    )


@register(
    "bpe_tokenize_apply",
    _bpe_apply_oracle(5),
    "BPE merge application (the encode side of bpe_merge_training): "
    "the learned merge table rewrites every document in rank order — "
    "the same greedy double-space replace semantics as training, so "
    "encode(train_corpus) is exactly the training loop's final "
    "state — and the readout is per-document token counts before and "
    "after plus the compression each document gets from the 5-rule "
    "vocabulary. The pipeline-shape point: tokenization cost at "
    "100 TB is per-row string work with a BROADCAST merge table, "
    "zero shuffles; the training loop is where the aggregations "
    "live. Sampled every-25th doc for a bounded readout.",
    tags=("text", "llm-pipeline", "functions"),
)
def bpe_tokenize_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = bpe_merge_training(spark, sf_dir).collect()
    # Encoded text is a pure per-row function of `text`, so the merge
    # stages chain into ONE column expression over ONE scan — the old
    # shape self-joined docs with a 5-stage-encoded twin on doc_id
    # (second scan + join for nothing; BENCH r4 flagged the query at
    # 6.4x committed). The every-25th-doc sample now precedes the
    # string work, so only sampled rows are ever encoded. The merge
    # table itself is 5 driver-side rows folded into literals — the
    # "broadcast" is the query plan, which is the right 100 TB shape
    # for tokenization: zero shuffles, zero joins, per-row work only.
    enc = F.col("text")
    for m in sorted(merges, key=lambda r: r.merge_order):
        enc = merge_pair(enc, m.w1, m.w2)
    n_raw = F.size(F.split(F.col("text"), " ")).cast("bigint")
    n_bpe = F.size(F.split(enc, " ")).cast("bigint")
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 25 == 0)
        .select(
            "doc_id",
            n_raw.alias("n_tok_raw"),
            n_bpe.alias("n_tok_bpe"),
            F.round(
                1.0 - n_bpe.cast("double") / n_raw.cast("double"), 6
            ).alias("compression"),
        )
        .orderBy("doc_id")
    )


@register(
    "streaming_append_mode_windows",
    """
    WITH wm AS (
        SELECT max(epoch_us(ts)) - 3600000000 AS watermark_us FROM events
    )
    SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT)
               AS window_start,
           event_type,
           count(*)              AS n_events,
           round(sum(value), 4)  AS total_value
    FROM events
    GROUP BY 1, 2
    HAVING CAST(epoch(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) * 1000000
           + 3600000000 <= (SELECT watermark_us FROM wm)
    """,
    "APPEND-mode streaming windows: each window row emits exactly "
    "once, only after the watermark (max event time - 1 h) passes "
    "its end — the contract file/queue sinks require (complete mode "
    "re-emits the whole state every trigger; append is the "
    "write-once form). On the bounded replay the final watermark "
    "withholds the newest still-open windows, and the oracle applies "
    "the SAME cutoff analytically: windows with end <= max(ts) - 1 h. "
    "A hash match therefore proves both the aggregation AND the "
    "emission policy (no early emit, no missing closed window).",
    tags=("streaming",),
)
def streaming_append_mode_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import run_append_mode_windows

    return run_append_mode_windows(spark, sf_dir)


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


@register(
    "theil_sen_mann_kendall",
    """
    WITH daily AS (
        SELECT epoch_us(o_orderdate) // 86400000000 AS x,
               CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
                    AS BIGINT) AS y
        FROM orders GROUP BY 1
    ), pairs AS (
        SELECT b.y - a.y AS dy, b.x - a.x AS dx
        FROM daily a JOIN daily b ON a.x < b.x
    ), stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN dy > 0 THEN 1
                             WHEN dy < 0 THEN -1 ELSE 0 END) AS BIGINT)
                   AS s_stat
        FROM pairs
    ), ranked AS (
        SELECT dy, dx,
               row_number() OVER (
                   ORDER BY CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE), dy, dx)
                   AS rn
        FROM pairs
    ), med AS (
        SELECT dy, dx FROM ranked, stats
        WHERE rn = (n_pairs + 1) // 2
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily)       AS n_days,
           s.n_pairs,
           s.s_stat,
           round(CAST(s.s_stat AS DOUBLE) / s.n_pairs, 6)     AS kendall_tau,
           (SELECT dy FROM med)                               AS med_dy,
           (SELECT dx FROM med)                               AS med_dx,
           round((SELECT CAST(dy AS DOUBLE) / dx FROM med), 6)
               AS theil_sen_slope
    FROM stats s
    """,
    "Robust trend analysis on the daily revenue series: the "
    "Mann-Kendall S statistic (sum of pairwise signs — the "
    "non-parametric is-there-a-trend test, exact integer) with "
    "Kendall's tau, plus the Theil-Sen estimator (median of all "
    "pairwise slopes — 29% breakdown point vs OLS's zero; "
    "rolling_trend_slope is the OLS sibling). Every pair statistic "
    "is exact integer arithmetic on (floor-dollar, day) deltas; the "
    "median slope is selected by explicit rank with a total "
    "(slope, dy, dx) ordering so engines can't disagree on ties, "
    "and the selected pair is output as exact integers alongside "
    "the rounded slope. Scale: pairs form over the metadata-scale "
    "daily aggregate (~n_days^2/2 rows of two BIGINTs), never the "
    "fact table; at larger histories Theil-Sen subsamples pairs — "
    "the plan shape is unchanged.",
    tags=("stats", "timeseries", "analytics", "window"),
)
def theil_sen_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("unix_micros(o_orderdate) div 86400000000").alias("x")
    ).agg(
        F.floor(F.sum(F.col("o_totalprice").cast("decimal(18,2)")))
        .cast("bigint")
        .alias("y")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(b, F.col("a.x") < F.col("b.x")).select(
        (F.col("b.y") - F.col("a.y")).alias("dy"),
        (F.col("b.x") - F.col("a.x")).alias("dx"),
    )
    pairs = pairs.localCheckpoint(eager=True)  # stats + ranking; days^2/2 rows
    stats = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(
            F.when(F.col("dy") > 0, 1).when(F.col("dy") < 0, -1).otherwise(0)
        )
        .cast("bigint")
        .alias("s_stat"),
    )
    # Exact median slope by DISTRIBUTED SELECTION instead of a global
    # row_number window: the old shape shuffled all ~n_days²/2 pair
    # rows into ONE partition and single-threaded-sorted them (4.7-6.6 s
    # of the query at sf0.1, guide §2.4 "orderBy used only to pick one
    # row"). Now approxQuantile(s, [0.499, 0.501], 1e-4) brackets the
    # median (rank error ≤ 1e-4·n, so the bracket PROVABLY contains
    # rank (n+1)/2 for any n ≥ ~600; a one-pass count guard checks the
    # bracket on the real data and falls back to the full range if it
    # ever fails — exactness never rests on the sketch), and the exact
    # (slope, dy, dx)-ordered pick runs over only the ~0.2% of pairs
    # inside the bracket. Ties are safe: the bracket filter is on s
    # alone, so every row sharing the boundary slope stays in the
    # window, and global rank = count(s < lo) + rank within the
    # window. This is also the 100 TB shape: the selection never
    # materializes a global sort.
    slope = F.col("dy").cast("double") / F.col("dx").cast("double")
    ps = pairs.withColumn("s", slope)
    n_pairs_v = pairs.count()
    target = (n_pairs_v + 1) // 2
    lo_hi = ps.approxQuantile("s", [0.499, 0.501], 1e-4)
    lo_v, hi_v = float(lo_hi[0]), float(lo_hi[1])
    guard = ps.agg(
        F.sum(F.when(F.col("s") < lo_v, 1).otherwise(0)).alias("below"),
        F.sum(
            F.when((F.col("s") >= lo_v) & (F.col("s") <= hi_v), 1).otherwise(0)
        ).alias("inside"),
    ).first()
    below = int(guard["below"] or 0)
    inside = int(guard["inside"] or 0)
    if not (below < target <= below + inside):  # pragma: no cover - guard
        lo_v, hi_v, below = float("-inf"), float("inf"), 0
    med = (
        ps.filter((F.col("s") >= lo_v) & (F.col("s") <= hi_v))
        .select(
            "dy",
            "dx",
            F.row_number().over(W.orderBy("s", "dy", "dx")).alias("rn"),
        )
        .filter(F.col("rn") == F.lit(target - below))
        .select(F.col("dy").alias("med_dy"), F.col("dx").alias("med_dx"))
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return (
        stats.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(n_days))
        .select(
            "n_days",
            "n_pairs",
            "s_stat",
            F.round(F.col("s_stat").cast("double") / F.col("n_pairs"), 6).alias(
                "kendall_tau"
            ),
            "med_dy",
            "med_dx",
            F.round(
                F.col("med_dy").cast("double") / F.col("med_dx"), 6
            ).alias("theil_sen_slope"),
        )
    )


@register(
    "logrank_test_segments",
    """
    WITH days AS (
        SELECT o.o_custkey,
               c.c_mktsegment = 'BUILDING' AS g1,
               epoch_us(o.o_orderdate) // 86400000000 AS day
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), bounds AS (
        SELECT max(day) AS obs_end FROM days
    ), cust AS (
        SELECT o_custkey, g1, min(day) AS first_day, max(day) AS last_day
        FROM days GROUP BY 1, 2
    ), labeled AS (
        SELECT g1, (last_day - first_day) // 90 AS band,
               CASE WHEN last_day <= (SELECT obs_end FROM bounds) - 90
                    THEN 1 ELSE 0 END AS event
        FROM cust
    ), banded AS (
        SELECT band,
               CAST(sum(CASE WHEN g1 THEN event ELSE 0 END) AS BIGINT) AS d1,
               CAST(sum(CASE WHEN g1 THEN 0 ELSE event END) AS BIGINT) AS d2,
               CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT)     AS x1,
               CAST(count(*) AS BIGINT)                                AS xt
        FROM labeled GROUP BY 1
    ), risk AS (
        SELECT band, d1, d2,
               CAST(sum(x1) OVER () - coalesce(sum(x1) OVER w, 0) AS BIGINT)
                   AS n1,
               CAST(sum(xt) OVER () - coalesce(sum(xt) OVER w, 0) AS BIGINT)
                   AS nt
        FROM banded
        WINDOW w AS (ORDER BY band ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING)
    ), terms AS (
        SELECT d1, d2, n1, nt,
               CAST(round(CAST((d1 + d2) * n1 AS DOUBLE) / nt * 1e6)
                    AS BIGINT) AS e1_micro,
               CASE WHEN nt > 1 THEN
                   CAST(round(CAST((d1 + d2) * n1 AS DOUBLE) / nt
                        * (1.0 - CAST(n1 AS DOUBLE) / nt)
                        * (nt - d1 - d2) / (nt - 1) * 1e6) AS BIGINT)
               ELSE 0 END AS v_micro
        FROM risk WHERE nt > 0
    )
    SELECT CAST(sum(d1) AS BIGINT)        AS observed_g1,
           CAST(sum(d2) AS BIGINT)        AS observed_g2,
           CAST(sum(e1_micro) AS BIGINT)  AS expected_g1_micro,
           round(pow(CAST(sum(d1) AS DOUBLE)
                     - CAST(sum(e1_micro) AS DOUBLE) / 1e6, 2)
                 / (CAST(sum(v_micro) AS DOUBLE) / 1e6), 4) AS logrank_chi2
    FROM terms
    """,
    "Log-rank test: do BUILDING-segment customers churn on a "
    "different survival curve than everyone else? Per tenure band, "
    "observed group-1 events compare against the expectation under "
    "the pooled-hazard null (d_total * n1/n_total), with the "
    "hypergeometric variance; the statistic is (O-E)^2/V ~ chi2(1). "
    "Completes the survival tier: survival_kaplan_meier estimates "
    "each curve, this tests their difference. Determinism: counts "
    "and at-risk sets are exact BIGINTs via the same "
    "suffix-cumulative recurrence as the KM query; each band's E and "
    "V terms round to micro-units and sum associatively, so only "
    "the final chi-square expression is IEEE. One fact-sized "
    "groupBy(custkey); all band math on the ~30-row frame.",
    tags=("stats", "analytics", "window", "agg"),
)
def logrank_test_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    days = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "o_custkey",
            (F.col("c_mktsegment") == "BUILDING").alias("g1"),
            F.expr("unix_micros(o_orderdate) div 86400000000").alias("day"),
        )
    )
    bounds = days.agg(F.max("day").alias("obs_end"))
    cust = days.groupBy("o_custkey", "g1").agg(
        F.min("day").alias("first_day"), F.max("day").alias("last_day")
    )
    labeled = cust.crossJoin(F.broadcast(bounds)).select(
        "g1",
        F.expr("(last_day - first_day) div 90").alias("band"),
        F.when(F.col("last_day") <= F.col("obs_end") - 90, 1)
        .otherwise(0)
        .alias("event"),
    )
    banded = labeled.groupBy("band").agg(
        F.sum(F.when(F.col("g1"), F.col("event")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.when(F.col("g1"), 0).otherwise(F.col("event")))
        .cast("bigint")
        .alias("d2"),
        F.sum(F.when(F.col("g1"), 1).otherwise(0)).cast("bigint").alias("x1"),
        F.count(F.lit(1)).cast("bigint").alias("xt"),
    )
    w_all = W.partitionBy()
    w_prior = W.orderBy("band").rowsBetween(W.unboundedPreceding, -1)
    risk = banded.select(
        "band",
        "d1",
        "d2",
        (F.sum("x1").over(w_all) - F.coalesce(F.sum("x1").over(w_prior), F.lit(0)))
        .cast("bigint")
        .alias("n1"),
        (F.sum("xt").over(w_all) - F.coalesce(F.sum("xt").over(w_prior), F.lit(0)))
        .cast("bigint")
        .alias("nt"),
    ).filter(F.col("nt") > 0)
    dt = F.col("d1") + F.col("d2")
    e1 = dt.cast("double") * F.col("n1") / F.col("nt")
    v = F.when(
        F.col("nt") > 1,
        F.round(
            dt.cast("double")
            * F.col("n1")
            / F.col("nt")
            * (1.0 - F.col("n1").cast("double") / F.col("nt"))
            * (F.col("nt") - dt)
            / (F.col("nt") - 1)
            * 1e6
        ).cast("bigint"),
    ).otherwise(0)
    terms = risk.select(
        "d1",
        "d2",
        F.round(dt.cast("double") * F.col("n1") / F.col("nt") * 1e6)
        .cast("bigint")
        .alias("e1_micro"),
        v.alias("v_micro"),
    )
    return terms.agg(
        F.sum("d1").cast("bigint").alias("observed_g1"),
        F.sum("d2").cast("bigint").alias("observed_g2"),
        F.sum("e1_micro").cast("bigint").alias("expected_g1_micro"),
        F.round(
            F.pow(
                F.sum("d1").cast("double")
                - F.sum("e1_micro").cast("double") / 1e6,
                2,
            )
            / (F.sum("v_micro").cast("double") / 1e6),
            4,
        ).alias("logrank_chi2"),
    )


@register(
    "cuped_variance_reduction",
    """
    WITH cust AS (
        SELECT o_custkey,
               CAST(sum(CASE WHEN epoch_us(o_orderdate) // 86400000000
                                  < 10000 THEN
                   CAST(floor(o_totalprice) AS BIGINT) ELSE 0 END) AS BIGINT)
                   AS pre,
               CAST(sum(CASE WHEN epoch_us(o_orderdate) // 86400000000
                                  >= 10000 THEN
                   CAST(floor(o_totalprice) AS BIGINT) ELSE 0 END) AS BIGINT)
                   AS post
        FROM orders GROUP BY 1
    ), m AS (
        SELECT CAST(count(*) AS HUGEINT)        AS n,
               CAST(sum(pre)  AS HUGEINT)       AS sx,
               CAST(sum(post) AS HUGEINT)       AS sy,
               CAST(sum(pre * pre)   AS HUGEINT) AS sxx,
               CAST(sum(post * post) AS HUGEINT) AS syy,
               CAST(sum(pre * post)  AS HUGEINT) AS sxy
        FROM cust
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6)      AS theta,
           round(1.0 - (1.0 - pow(CAST(n * sxy - sx * sy AS DOUBLE), 2)
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE))), 6) AS variance_reduction
    FROM m
    """,
    "CUPED (Controlled-experiment Using Pre-Existing Data): the "
    "variance-reduction adjustment every experimentation platform "
    "applies — post-period customer spend adjusted by "
    "theta * pre-period spend, theta = cov(pre,post)/var(pre), "
    "cutting metric variance by exactly rho^2. All five moments "
    "accumulate as EXACT integers (floor-dollar spends, "
    "HUGEINT/DECIMAL accumulators) in one pass over the per-customer "
    "frame; theta and the variance-reduction fraction are single "
    "closed-form IEEE expressions over exact moments — the same "
    "determinism contract as correlation_matrix_exact. Pre/post "
    "split at a fixed epoch-day boundary.",
    tags=("stats", "analytics", "agg"),
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    day = F.expr("unix_micros(o_orderdate) div 86400000000")
    dollars = F.floor("o_totalprice").cast("bigint")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.when(day < 10000, dollars).otherwise(0)).cast("bigint").alias("pre"),
        F.sum(F.when(day >= 10000, dollars).otherwise(0))
        .cast("bigint")
        .alias("post"),
    )
    D = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = cust.agg(
        D(F.count(F.lit(1))).alias("n"),
        F.sum(D(F.col("pre"))).alias("sx"),
        F.sum(D(F.col("post"))).alias("sy"),
        F.sum(D(F.col("pre")) * D(F.col("pre"))).alias("sxx"),
        F.sum(D(F.col("post")) * D(F.col("post"))).alias("syy"),
        F.sum(D(F.col("pre")) * D(F.col("post"))).alias("sxy"),
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.round(cov.cast("double") / varx.cast("double"), 6).alias("theta"),
        F.round(
            1.0
            - (
                1.0
                - F.pow(cov.cast("double"), 2)
                / (varx.cast("double") * vary.cast("double"))
            ),
            6,
        ).alias("variance_reduction"),
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
    "graph_assortativity",
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
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS np,
               CAST(sum(n_trades) AS BIGINT) AS tt FROM d
    ), e AS (
        -- heavy edges only (above-average trade volume, exact integer
        -- cross-multiplied compare) — the complete graph has constant
        -- degree and undefined assortativity
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM d, agg WHERE n_trades * np > tt
    ), deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS k FROM (
            SELECT a AS node FROM e UNION ALL SELECT b FROM e
        ) GROUP BY 1
    ), ends AS (
        -- each undirected edge contributes both orientations
        SELECT da.k AS x, db.k AS y FROM e
        JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
        UNION ALL
        SELECT db.k, da.k FROM e
        JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
    ), m AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(x) AS HUGEINT)   AS sx,
               CAST(sum(y) AS HUGEINT)   AS sy,
               CAST(sum(x*x) AS HUGEINT) AS sxx,
               CAST(sum(y*y) AS HUGEINT) AS syy,
               CAST(sum(x*y) AS HUGEINT) AS sxy
        FROM ends
    )
    SELECT CAST(n / 2 AS BIGINT) AS n_edges,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6)
               AS assortativity
    FROM m
    """,
    "Degree assortativity of the nation trade graph (Newman's r): "
    "the Pearson correlation of endpoint degrees over all edge "
    "orientations — positive means hubs trade with hubs, negative "
    "a hub-and-spoke economy. Completes the graph-metric tier "
    "(pagerank, triangles/clustering, components, BFS, SSSP). Both "
    "orientations of each undirected edge enter symmetrically "
    "(standard definition), all five moments are exact integers "
    "over BIGINT degrees, and the final r is one closed-form IEEE "
    "expression — the correlation_matrix_exact determinism contract "
    "applied to graph structure. Degrees join back via two "
    "broadcast lookups; nothing exceeds edge-table scale.",
    tags=("graph", "stats", "agg"),
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    d = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("n_trades"))
    )
    # The nation-pair aggregate (<= n_nations^2 rows, ~600 at any sf)
    # feeds FOUR downstream subtrees (agg, e, deg via two unions,
    # joined) — without materialization the heavy lineitem x orders
    # join above it re-executes per consumer (guide §3.3 "materialise
    # shared subtrees"). Pinning the tiny aggregate caps the fact join
    # at ONE execution; same-session A/B: 2.0-2.2 s -> 1.1-1.6 s.
    d = pin_local(spark, d)
    agg = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        F.sum("n_trades").cast("bigint").alias("tt"),
    )
    e = (
        d.crossJoin(F.broadcast(agg))
        .filter(F.col("n_trades") * F.col("np") > F.col("tt"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("k").alias("ka"))
    db = deg.select(F.col("node").alias("b"), F.col("k").alias("kb"))
    joined = e.join(F.broadcast(da), "a").join(F.broadcast(db), "b")
    ends = joined.select(F.col("ka").alias("x"), F.col("kb").alias("y")).unionAll(
        joined.select(F.col("kb").alias("x"), F.col("ka").alias("y"))
    )
    D = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    m = ends.agg(
        D(F.count(F.lit(1))).alias("n"),
        F.sum(D(F.col("x"))).alias("sx"),
        F.sum(D(F.col("y"))).alias("sy"),
        F.sum(D(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(D(F.col("y") * F.col("y"))).alias("syy"),
        F.sum(D(F.col("x") * F.col("y"))).alias("sxy"),
    )
    return m.select(
        (F.col("n") / 2).cast("bigint").alias("n_edges"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                    "double"
                )
            ),
            6,
        ).alias("assortativity"),
    )


@register(
    "distinctive_terms_by_source",
    """
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ), cnt AS (
        SELECT source, w, CAST(count(*) AS BIGINT) AS n
        FROM toks GROUP BY 1, 2
    ), tot AS (
        SELECT source, CAST(sum(n) AS BIGINT) AS nt FROM cnt GROUP BY 1
    ), gl AS (
        SELECT w, CAST(sum(n) AS BIGINT) AS g FROM cnt GROUP BY 1
    ), gt AS (
        SELECT CAST(sum(n) AS BIGINT) AS gtot FROM cnt
    ), scored AS (
        SELECT c.source, c.w,
               CAST(round(
                   (ln((CAST(c.n AS DOUBLE) + 1.0)
                       / (CAST(t.nt AS DOUBLE) + 1.0))
                  - ln((CAST(g.g AS DOUBLE) + 1.0)
                       / (CAST((SELECT gtot FROM gt) AS DOUBLE) + 1.0)))
                   * 1e6) AS BIGINT) AS lift_micro,
               c.n
        FROM cnt c JOIN tot t ON t.source = c.source
        JOIN gl g ON g.w = c.w
        WHERE c.n >= 20
    ), ranked AS (
        SELECT source, w, lift_micro, n,
               row_number() OVER (PARTITION BY source
                                  ORDER BY lift_micro DESC, w) AS rk
        FROM scored
    )
    SELECT source, CAST(rk AS INT) AS rank, w AS term, n AS term_count,
           round(CAST(lift_micro AS DOUBLE) / 1e6, 6) AS log_lift
    FROM ranked WHERE rk <= 5 ORDER BY source, rank
    """,
    "Distinctive vocabulary per source (add-one-smoothed log-lift of "
    "a term's in-source rate over its corpus-wide rate): the "
    "corpus-slice characterization tool — what makes each source "
    "read differently — behind domain-mix debugging and "
    "contamination triage; the per-source complement of "
    "tfidf_top_terms' per-document scores. Count tables are exact "
    "BIGINTs; each term's log-lift rounds to micro-units BEFORE the "
    "per-source ranking so ordering can't flip on a ulp; top-5 per "
    "source, term tie-broken. One tokenize pass, two bounded-key "
    "groupBys, broadcast joins of vocabulary-scale tables.",
    tags=("text", "llm-pipeline", "agg", "window"),
)
def distinctive_terms_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("w"))
    cnt = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = cnt.groupBy("source").agg(F.sum("n").cast("bigint").alias("nt"))
    glob = cnt.groupBy("w").agg(F.sum("n").cast("bigint").alias("g"))
    gtot = cnt.agg(F.sum("n").cast("bigint").alias("gtot"))
    scored = (
        cnt.filter(F.col("n") >= 20)
        .join(F.broadcast(tot), "source")
        .join(F.broadcast(glob), "w")
        .crossJoin(F.broadcast(gtot))
        .select(
            "source",
            "w",
            "n",
            F.round(
                (
                    F.log(
                        (F.col("n").cast("double") + 1.0)
                        / (F.col("nt").cast("double") + 1.0)
                    )
                    - F.log(
                        (F.col("g").cast("double") + 1.0)
                        / (F.col("gtot").cast("double") + 1.0)
                    )
                )
                * 1e6
            )
            .cast("bigint")
            .alias("lift_micro"),
        )
    )
    ranked = scored.select(
        "source",
        "w",
        "n",
        "lift_micro",
        F.row_number()
        .over(W.partitionBy("source").orderBy(F.desc("lift_micro"), "w"))
        .alias("rk"),
    )
    return (
        ranked.filter(F.col("rk") <= 5)
        .select(
            "source",
            F.col("rk").cast("int").alias("rank"),
            F.col("w").alias("term"),
            F.col("n").alias("term_count"),
            F.round(F.col("lift_micro").cast("double") / 1e6, 6).alias(
                "log_lift"
            ),
        )
        .orderBy("source", "rank")
    )


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
    "containment_detection",
    """
    WITH sh AS (
        SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                   AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS i) g
        WHERE len(ws) >= 3
    ), sizes AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1
    ), inter AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS n_common
        FROM sh x JOIN sh y ON x.shingle = y.shingle
                           AND x.doc_id < y.doc_id
        GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b, i.n_common,
           sa.n_sh AS n_sh_a, sb.n_sh AS n_sh_b,
           round(CAST(i.n_common AS DOUBLE)
                 / least(sa.n_sh, sb.n_sh), 6) AS containment,
           round(CAST(i.n_common AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE i.n_common * 10 >= least(sa.n_sh, sb.n_sh) * 7
    ORDER BY id_a, id_b
    """,
    "Asymmetric containment detection: document pairs where the "
    "smaller side's shingle set is >= 70% contained in the other — "
    "the quote-inclusion / boilerplate-wrapping duplicates that "
    "symmetric Jaccard thresholds MISS (a short doc embedded in a "
    "long one has high containment but low Jaccard; the output "
    "carries both so the gap is visible). Same set-similarity-join "
    "shape as ngram_jaccard_pairs: explode shingles once, equi-join "
    "on the shingle (work scales with shared shingles, never n^2), "
    "sizes join back broadcast. The threshold compares as "
    "cross-multiplied integers — no float cut ambiguity. At corpus "
    "scale the shingle key becomes the LSH band bucket, same as the "
    "dedup tier.",
    tags=("dedup", "text", "join", "llm-pipeline"),
)
def containment_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    sh = (
        docs.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 2),"
                    " i -> concat_ws(' ', ws[i-1], ws[i], ws[i+1]))"
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sh")
    )
    x = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    y = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        x.join(y, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_sh_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_sh_b"))
    out = (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .filter(
            F.col("n_common") * 10 >= F.least("n_sh_a", "n_sh_b") * 7
        )
    )
    return out.select(
        "id_a",
        "id_b",
        "n_common",
        "n_sh_a",
        "n_sh_b",
        F.round(
            F.col("n_common").cast("double") / F.least("n_sh_a", "n_sh_b"), 6
        ).alias("containment"),
        F.round(
            F.col("n_common").cast("double")
            / (F.col("n_sh_a") + F.col("n_sh_b") - F.col("n_common")),
            6,
        ).alias("jaccard"),
    ).orderBy("id_a", "id_b")


@register(
    "forecast_reconciliation",
    """
    WITH monthly AS (
        SELECT c.c_mktsegment AS segment,
               epoch_us(date_trunc('month', o.o_orderdate)) // 86400000000
                   AS m,
               CAST(floor(sum(CAST(o.o_totalprice AS DECIMAL(18,2))))
                    AS BIGINT) AS rev
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ), last3 AS (
        SELECT segment, m, rev,
               row_number() OVER (PARTITION BY segment ORDER BY m DESC) AS rn
        FROM monthly
    ), seg_fc AS (
        -- bottom-up naive forecast: mean of each segment's last 3 months
        SELECT segment,
               CAST(sum(rev) AS BIGINT) AS s3,
               CAST(count(*) AS BIGINT) AS k
        FROM last3 WHERE rn <= 3 GROUP BY 1
    ), tot_fc AS (
        -- independent top-level forecast: mean of the last 3 TOTAL months
        SELECT CAST(sum(mrev) AS BIGINT) AS t3, CAST(count(*) AS BIGINT) AS tk
        FROM (
            SELECT m, sum(rev) AS mrev FROM monthly GROUP BY 1
            ORDER BY m DESC LIMIT 3
        )
    )
    SELECT f.segment,
           round(CAST(f.s3 AS DOUBLE) / f.k, 2) AS bottom_up_forecast,
           round(CAST(f.s3 AS DOUBLE) / f.k
                 * ((SELECT CAST(t3 AS DOUBLE) / tk FROM tot_fc)
                    / (SELECT sum(CAST(s3 AS DOUBLE) / k) FROM seg_fc)), 2)
               AS reconciled_forecast
    FROM seg_fc f ORDER BY f.segment
    """,
    "Hierarchical forecast reconciliation (proportional top-down): "
    "per-segment naive forecasts (mean of the segment's last 3 "
    "months) are scaled so they sum EXACTLY to the independently "
    "computed total forecast — the coherence property dashboards "
    "require (unreconciled bottom-up forecasts never add up to the "
    "top-line forecast made from total history, because month "
    "boundaries and mixes differ). Monthly partials are floor-dollar "
    "BIGINTs; the scale factor is one ratio of exact-integer means "
    "applied uniformly, and the coherence test verifies "
    "sum(reconciled) == total forecast to the cent. Everything "
    "after the one fact-sized groupBy runs on the ~40-row "
    "segment-month frame.",
    tags=("timeseries", "analytics", "agg", "stats"),
)
def forecast_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    monthly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.expr(
                "unix_micros(date_trunc('month', o_orderdate)) div 86400000000"
            ).alias("m"),
        )
        .agg(
            F.floor(F.sum(F.col("o_totalprice").cast("decimal(18,2)")))
            .cast("bigint")
            .alias("rev")
        )
    )
    last3 = monthly.select(
        "segment",
        "m",
        "rev",
        F.row_number()
        .over(W.partitionBy("segment").orderBy(F.desc("m")))
        .alias("rn"),
    )
    seg_fc = (
        last3.filter(F.col("rn") <= 3)
        .groupBy("segment")
        .agg(
            F.sum("rev").cast("bigint").alias("s3"),
            F.count(F.lit(1)).cast("bigint").alias("k"),
        )
    )
    tot_fc = (
        monthly.groupBy("m")
        .agg(F.sum("rev").alias("mrev"))
        .orderBy(F.desc("m"))
        .limit(3)
        .agg(
            F.sum("mrev").cast("bigint").alias("t3"),
            F.count(F.lit(1)).cast("bigint").alias("tk"),
        )
    )
    seg_sum = seg_fc.agg(
        F.sum(F.col("s3").cast("double") / F.col("k")).alias("bu_total")
    )
    return (
        seg_fc.crossJoin(F.broadcast(tot_fc))
        .crossJoin(F.broadcast(seg_sum))
        .select(
            "segment",
            F.round(F.col("s3").cast("double") / F.col("k"), 2).alias(
                "bottom_up_forecast"
            ),
            F.round(
                F.col("s3").cast("double")
                / F.col("k")
                * (
                    (F.col("t3").cast("double") / F.col("tk"))
                    / F.col("bu_total")
                ),
                2,
            ).alias("reconciled_forecast"),
        )
        .orderBy("segment")
    )


@register(
    "ml_learning_curve",
    """
    SELECT CAST(train_pct AS INT) AS train_pct,
           CAST(n_rows AS BIGINT) AS n_rows,
           TRUE AS auc_in_band, TRUE AS spread_lt_002
    FROM (VALUES (25, 195), (50, 391), (100, 788)) v(train_pct, n_rows)
    ORDER BY train_pct
    """,
    "Learning-curve evaluation: the loan LR pipeline fits on "
    "deterministic-hash 25% / 50% / 100% subsets of the training "
    "split and reports holdout AUC per fraction — the "
    "data-efficiency readout that justifies (or kills) further data "
    "collection; a flat curve says collect features, not rows. "
    "Subsets nest (25% ⊂ 50% ⊂ 100% by hash threshold) so the "
    "curve measures data volume, not sampling luck. "
    "DRIVER-FALSIFIABLE (VERDICT r3 item 3): the loan CSV is a fixed "
    "repo fixture, so the oracle pins the EXACT nested-subset row "
    "counts (195/391/788 — any change to the xxhash64 bucketing or "
    "the 80/20 split breaks the hash) plus bound booleans the "
    "LBFGS layout-noise cannot flip: every holdout AUC inside "
    "[0.95, 1.0] (measured 0.988; zero-imputation encodes "
    "missingness, which correlates with Status in this data) and "
    "max-min AUC spread under 0.02 (measured 0.0005).",
    tags=("ml", "analytics", "iterative"),
)
def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import VectorAssembler

    repo = _os.path.dirname(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    )
    from ..schema import LOAN_FEATURES
    from ..sources.readers import read_loan_csv

    loan = read_loan_csv(spark, _os.path.join(repo, "data", "Loan_Default.csv"))
    base = loan.select(
        "ID", F.col("Status").cast("double").alias("label"), *LOAN_FEATURES
    ).na.fill(0.0, subset=LOAN_FEATURES)
    assembled = VectorAssembler(
        inputCols=LOAN_FEATURES, outputCol="features"
    ).transform(base)
    # deterministic 80/20 split by id hash; nested fractions inside train
    bucket = F.abs(F.xxhash64(F.col("ID").cast("string"))) % 100
    train = assembled.filter(bucket < 80).withColumn(
        "frac_bucket", F.abs(F.xxhash64(F.concat(F.lit("f"), F.col("ID").cast("string")))) % 100
    )
    test = assembled.filter(bucket >= 80).cache()

    # The three (count, fit, evaluate) chains are mutually independent
    # — they differ only in the hash-threshold subset — so submit them
    # from a small driver thread pool and let the scheduler overlap
    # their jobs (optimization guide §2.6: actions are only sequential
    # because driver code calls them sequentially). Each fit/evaluate
    # is deterministic given its subset, so the per-fraction results
    # are bit-identical to the sequential loop; same-session A/B
    # measured 4.8 s sequential vs 1.9 s overlapped (r9).
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    def _one(pct: int) -> tuple[int, int, float]:
        sub = train.filter(F.col("frac_bucket") < pct)
        n = sub.count()
        model = LogisticRegression(maxIter=20, regParam=0.01).fit(sub)
        auc = BinaryClassificationEvaluator().evaluate(model.transform(test))
        return pct, n, auc

    # inheritable_thread_target: under PySpark's pinned-thread mode a
    # plain pool thread maps to a JVM thread that is never reclaimed
    # when the Python thread exits (~3 leaked JVM threads per call,
    # ADVICE r9); the documented wrapper inherits and cleans up the
    # JVM thread-locals.
    with ThreadPoolExecutor(max_workers=3) as pool:
        results = list(pool.map(inheritable_thread_target(_one), (25, 50, 100)))
    counts = {pct: n for pct, n, _ in results}
    aucs = {pct: auc for pct, _, auc in results}
    # The three evaluates are done — release the held-out cache so it
    # doesn't stay pinned for the rest of the session.
    test.unpersist()
    spread = max(aucs.values()) - min(aucs.values())
    rows = [
        (pct, counts[pct], 0.95 <= aucs[pct] <= 1.0, spread < 0.02)
        for pct in (25, 50, 100)
    ]
    return spark.createDataFrame(
        rows, "train_pct int, n_rows bigint, auc_in_band boolean, "
        "spread_lt_002 boolean"
    ).orderBy("train_pct")


@register(
    "cluster_canonical_keeper",
    """
    WITH sh AS (
        SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                   AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS i) g
        WHERE len(ws) >= 3
    ), sizes AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1
    ), inter AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS nc
        FROM sh x JOIN sh y ON x.shingle = y.shingle
                           AND x.doc_id < y.doc_id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT i.id_a, i.id_b FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE 3 * i.nc >= sa.n_sh + sb.n_sh  -- jaccard >= 0.5, exact ints
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs
    ), labels AS (
        WITH RECURSIVE reach(a, b) AS (
            SELECT src, src FROM edges
            UNION
            SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
        )
        SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster
        FROM reach GROUP BY 1
    ), members AS (
        SELECT l.cluster, l.doc_id, d.n_chars
        FROM labels l JOIN documents d ON d.doc_id = l.doc_id
    ), ranked AS (
        SELECT cluster, doc_id, n_chars,
               row_number() OVER (PARTITION BY cluster
                                  ORDER BY n_chars DESC, doc_id) AS rk
        FROM members
    )
    SELECT m.cluster,
           CAST(count(*) AS BIGINT)  AS n_members,
           CAST(max(CASE WHEN r.rk = 1 THEN r.doc_id END) AS BIGINT)
               AS keeper_id,
           CAST(max(CASE WHEN r.rk = 1 THEN r.n_chars END) AS BIGINT)
               AS keeper_chars
    FROM members m JOIN ranked r
      ON r.cluster = m.cluster AND r.doc_id = m.doc_id
    GROUP BY 1 ORDER BY 1
    """,
    "Near-dup cluster resolution WITH an exact oracle: similarity "
    "edges are exact 3-shingle Jaccard >= 0.5 (integer-cross-"
    "multiplied threshold over the set-similarity join — "
    "deterministic, unlike hash-seeded LSH candidates), transitive "
    "closure assigns each member its minimum reachable id as the "
    "cluster label, and each cluster elects a canonical keeper by "
    "the curation policy (longest document, id tie-break) — the "
    "decision step that turns near-dup DETECTION into an actionable "
    "drop list. The Spark side runs the engine's iterative min-label "
    "propagation (the 100 TB shape: join + groupBy-min per round, "
    "diameter-bounded); the oracle reproduces the closure with a "
    "bounded recursive CTE — making this the registry's "
    "ORACLE-VERIFIED connected components (neardup_clusters' LSH "
    "pipeline stays rows-only by necessity).",
    tags=("dedup", "graph", "iterative", "llm-pipeline"),
)
def cluster_canonical_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components
    from ..operators.text import widen_to_parallelism

    docs = t(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    # zip_with chain instead of transform-over-indexes: the old
    # ``transform(sequence(1, size(ws)-2), i -> concat_ws(ws[i-1]…))``
    # re-ran the split once per shingle index after CollapseProject
    # inlined ``ws`` into the lambda — O(n²) interpreted work per row
    # (the same trap the shared shingles() fixed in r9; this site
    # keeps its own chain because the oracle tokenizes WITHOUT the
    # empty-token filter). ``ws`` appears only as a direct HOF
    # argument here, so the split evaluates a constant number of
    # times per row. concat(x,' ',y) == concat_ws over non-null
    # strings; null-padded tails (incomplete windows) drop in the
    # filter, leaving exactly the n-2 shingles sequence(1, n-2) built.
    n_ws = F.size(ws)
    acc = F.zip_with(
        ws,
        F.slice(ws, 2, F.greatest(n_ws - 1, F.lit(1))),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    acc = F.zip_with(
        acc,
        F.slice(ws, 3, F.greatest(n_ws - 2, F.lit(1))),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    sh = (
        widen_to_parallelism(docs.select("doc_id", "text"))
        .filter(n_ws >= 3)
        .select(
            "doc_id",
            F.explode(F.filter(acc, lambda x: x.isNotNull())).alias("shingle"),
        )
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_sh"))
    x = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    y = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        x.join(y, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nc"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    pairs = (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .filter(3 * F.col("nc") >= F.col("n_a") + F.col("n_b"))
        .select("id_a", "id_b")
    )
    labels = connected_components(pairs).select(
        F.col("node_id").alias("doc_id"), F.col("cluster_id").alias("cluster")
    )
    members = labels.join(docs.select("doc_id", "n_chars"), "doc_id")
    # keeper: longest doc, lowest id on ties — packed into one max_by
    # key. DECIMAL(38,0) * 1e12 keeps the primary ordering exact for
    # any doc_id < 1e12 (past the 100 TB posture); a BIGINT 1e7 pack
    # corrupts past 10M ids.
    key = F.col("n_chars").cast("decimal(38,0)") * F.lit(10**12) - F.col("doc_id")
    return (
        members.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.max_by("doc_id", key).cast("bigint").alias("keeper_id"),
            F.max("n_chars").cast("bigint").alias("keeper_chars"),
        )
        .orderBy("cluster")
    )


@register(
    "quantized_code_collisions",
    """
    WITH d AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    ), q AS (
        SELECT vec_id,
               list_max(list_transform(emb, x -> abs(x))) AS scale, emb
        FROM d
    ), coded AS (
        SELECT vec_id,
               array_to_string(list_transform(emb,
                   x -> CAST(CAST(round(x / scale * 7) AS BIGINT) AS VARCHAR)),
                   ',') AS code
        FROM q WHERE scale > 0
    ), groups AS (
        SELECT code, CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(min(vec_id) AS BIGINT) AS first_vec
        FROM coded GROUP BY 1 HAVING count(*) > 1
    )
    SELECT CAST(count(*) AS BIGINT)          AS n_collision_groups,
           CAST(coalesce(sum(n_vectors), 0) AS BIGINT) AS n_colliding_vectors,
           CAST(coalesce(max(n_vectors), 0) AS BIGINT) AS largest_group,
           CAST(coalesce(min(first_vec), -1) AS BIGINT) AS min_first_vec
    FROM groups
    """,
    "Quantization as a near-dup blocking key: embeddings coarsely "
    "quantized to 4-bit symmetric codes (absmax scale, levels "
    "-7..7), and vectors sharing an IDENTICAL code string are "
    "collision candidates — the zero-join blocking stage a vector "
    "store runs before exact re-scoring (the coarse sibling of "
    "embedding_int8_quantization; collisions at 4 bits are the "
    "candidate set the 8-bit codes then verify). One per-element "
    "lambda pass + one groupBy on the code string; at corpus scale "
    "the code IS the shuffle key, exactly like a SimHash signature. "
    "Summary counts keep the output driver-hashable at any "
    "collision density.",
    tags=("similarity", "dedup", "sketch", "llm-pipeline"),
)
def quantized_code_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    q = emb.select(
        "vec_id",
        "emb",
        F.array_max(F.transform("emb", lambda x: F.abs(x))).alias("scale"),
    ).filter(F.col("scale") > 0)
    coded = q.select(
        "vec_id",
        F.array_join(
            F.transform(
                "emb",
                lambda x: F.round(x / F.col("scale") * 7)
                .cast("bigint")
                .cast("string"),
            ),
            ",",
        ).alias("code"),
    )
    groups = (
        coded.groupBy("code")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.min("vec_id").cast("bigint").alias("first_vec"),
        )
        .filter(F.col("n_vectors") > 1)
    )
    return groups.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_collision_groups"),
        F.coalesce(F.sum("n_vectors"), F.lit(0))
        .cast("bigint")
        .alias("n_colliding_vectors"),
        F.coalesce(F.max("n_vectors"), F.lit(0))
        .cast("bigint")
        .alias("largest_group"),
        F.coalesce(F.min("first_vec"), F.lit(-1))
        .cast("bigint")
        .alias("min_first_vec"),
    )


@register(
    "class_reweighting_plan",
    """
    WITH counts AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n FROM embeddings GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS nt,
               CAST(count(*) AS BIGINT) AS k FROM counts
    )
    SELECT c.label,
           c.n,
           round(CAST(t.nt AS DOUBLE) / (t.k * c.n), 6) AS class_weight,
           round(CAST(c.n AS DOUBLE) * CAST(t.nt AS DOUBLE)
                 / (t.k * c.n), 2) AS effective_rows
    FROM counts c, tot t ORDER BY c.label
    """,
    "Inverse-frequency class reweighting plan (sklearn's 'balanced' "
    "formula, n_total / (k * n_class)): the weights an imbalanced "
    "classifier fit attaches per class so every class contributes "
    "equal effective mass — effective_rows = n * weight is constant "
    "across classes by construction, which the test pins. One "
    "bounded-key groupBy; weights divide exact integers once. The "
    "ML-prep counterpart of domain_mix_rebalance (corpora) applied "
    "to label space.",
    tags=("ml", "agg", "sampling"),
)
def class_reweighting_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    counts = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = counts.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "label",
            "n",
            F.round(
                F.col("nt").cast("double") / (F.col("k") * F.col("n")), 6
            ).alias("class_weight"),
            F.round(
                F.col("n").cast("double")
                * F.col("nt").cast("double")
                / (F.col("k") * F.col("n")),
                2,
            ).alias("effective_rows"),
        )
        .orderBy("label")
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
    "stratified_kfold_assignment",
    """
    WITH ranked AS (
        SELECT vec_id, label,
               row_number() OVER (PARTITION BY label
                                  ORDER BY (vec_id * 2654435761) % 1000003,
                                           vec_id) AS rnk
        FROM embeddings
    ), folded AS (
        SELECT label, (rnk - 1) % 5 AS fold FROM ranked
    )
    SELECT CAST(fold AS INT) AS fold, label,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM folded GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "Stratified k-fold assignment (k=5): within each label, rows "
    "shuffle by a multiplicative-hash order (deterministic — no "
    "engine RNG, so every engine and every rerun builds the SAME "
    "folds) and deal round-robin, so every fold's label distribution "
    "matches the population within one row per class — the "
    "leakage-free CV splitter for imbalanced labels (plain random "
    "folds can starve a rare class from a fold entirely). The "
    "per-label rank is one window over label partitions; at 100 TB "
    "the same construction runs through the distributed row-number "
    "primitive per label shard. Output is the fold x label census "
    "the balance test checks.",
    tags=("ml", "sampling", "window"),
)
def stratified_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "label")
    ranked = emb.select(
        "label",
        F.row_number()
        .over(
            W.partitionBy("label").orderBy(
                (F.col("vec_id") * 2654435761) % 1000003, "vec_id"
            )
        )
        .alias("rnk"),
    )
    return (
        ranked.select("label", ((F.col("rnk") - 1) % 5).alias("fold"))
        .groupBy(F.col("fold").cast("int").alias("fold"), "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .orderBy("fold", "label")
    )


@register(
    "supplier_concentration_hhi",
    """
    WITH vol AS (
        SELECT p.p_brand AS brand, l.l_suppkey,
               CAST(sum(l.l_quantity) AS BIGINT) AS q
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ), tot AS (
        SELECT brand, CAST(sum(q) AS BIGINT) AS qt,
               CAST(count(*) AS BIGINT) AS n_suppliers
        FROM vol GROUP BY 1
    )
    SELECT v.brand, t.n_suppliers,
           round(CAST(sum(CAST(v.q AS HUGEINT) * v.q) AS DOUBLE)
                 / (CAST(t.qt AS DOUBLE) * t.qt) * 10000, 2) AS hhi,
           round(CAST(max(v.q) AS DOUBLE) / t.qt, 6) AS top_share
    FROM vol v JOIN tot t ON t.brand = v.brand
    GROUP BY v.brand, t.n_suppliers, t.qt ORDER BY hhi DESC, v.brand LIMIT 15
    """,
    "Supplier-concentration risk via the Herfindahl-Hirschman index "
    "per brand: HHI = 10000 * sum(share^2) over each brand's supplier "
    "volume mix (the antitrust/procurement concentration metric; "
    ">2500 is 'highly concentrated' — single-supplier brands are the "
    "supply-chain fragility list). Exact arithmetic: per-supplier "
    "volumes and their squares accumulate as integers "
    "(HUGEINT/DECIMAL partials), so HHI is one closed-form division "
    "of exact sums — and sum(q^2)/qt^2 never loses a share to "
    "rounding before the square. Top-15 most-concentrated brands, "
    "deterministic tie-break. Two partial-combined groupBys on "
    "(brand, supplier) then brand.",
    tags=("agg", "analytics", "stats"),
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    vol = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), "l_suppkey")
        .agg(F.sum("l_quantity").cast("bigint").alias("q"))
    )
    tot = vol.groupBy("brand").agg(
        F.sum("q").cast("bigint").alias("qt"),
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
    )
    return (
        vol.join(tot, "brand")
        .groupBy("brand", "n_suppliers", "qt")
        .agg(
            F.round(
                F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)")).cast(
                    "double"
                )
                / (F.col("qt").cast("double") * F.col("qt"))
                * 10000,
                2,
            ).alias("hhi"),
            F.round(F.max("q").cast("double") / F.col("qt"), 6).alias(
                "top_share"
            ),
        )
        .drop("qt")
        .orderBy(F.desc("hhi"), "brand")
        .limit(15)
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


@register(
    "vocab_growth_curve",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), births AS (
        SELECT w, CAST(min(doc_id) AS BIGINT) AS first_doc FROM toks GROUP BY 1
    ), doc_tokens AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok
        FROM toks GROUP BY 1
    ), milestones AS (
        SELECT unnest([50, 100, 200, 300, 400, 500]) AS m
    )
    SELECT CAST(ms.m AS BIGINT) AS docs_processed,
           (SELECT CAST(coalesce(sum(n_tok), 0) AS BIGINT)
              FROM doc_tokens WHERE doc_id <= ms.m) AS tokens_processed,
           (SELECT CAST(count(*) AS BIGINT)
              FROM births WHERE first_doc <= ms.m) AS distinct_terms
    FROM milestones ms ORDER BY docs_processed
    """,
    "Vocabulary growth curve (the Heaps'-law diagnostic every corpus "
    "scaling study plots): distinct terms seen vs tokens processed "
    "at document milestones, computed WITHOUT any sequential scan — "
    "each term's 'birth' is min(doc_id) over its occurrences (one "
    "groupBy), and every milestone's vocabulary is a count of births "
    "at or before it. Saturating growth says the corpus is "
    "exhausting its domain (more data adds tokens, not words — the "
    "dedup/diversity signal); power-law growth says keep "
    "collecting. All counts exact; milestones are a 6-row literal "
    "table joined against two bounded aggregates.",
    tags=("text", "llm-pipeline", "agg", "analytics"),
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    births = toks.groupBy("w").agg(
        F.min("doc_id").cast("bigint").alias("first_doc")
    )
    doc_tokens = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tok")
    )
    # one conditional-sum pass per side — no inequality join (which
    # would nested-loop milestones x docs at scale)
    MS = [50, 100, 200, 300, 400, 500]
    tok_row = doc_tokens.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("doc_id") <= m, F.col("n_tok"))), F.lit(0)
            )
            .cast("bigint")
            .alias(f"t{m}")
            for m in MS
        ]
    )
    voc_row = births.agg(
        *[
            F.sum(F.when(F.col("first_doc") <= m, 1).otherwise(0))
            .cast("bigint")
            .alias(f"v{m}")
            for m in MS
        ]
    )
    stack_t = ", ".join(f"{m}L, t{m}" for m in MS)
    stack_v = ", ".join(f"{m}L, v{m}" for m in MS)
    t_long = tok_row.select(
        F.expr(f"stack({len(MS)}, {stack_t}) AS (docs_processed, tokens_processed)")
    )
    v_long = voc_row.select(
        F.expr(f"stack({len(MS)}, {stack_v}) AS (docs_processed, distinct_terms)")
    )
    return (
        t_long.join(v_long, "docs_processed")
        .select(
            F.col("docs_processed").cast("bigint").alias("docs_processed"),
            "tokens_processed",
            "distinct_terms",
        )
        .orderBy("docs_processed")
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

