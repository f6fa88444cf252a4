"""Auto-split segment of the query registry (see registry.py facade).

Registration ORDER is part of the driver contract - segments are
imported by the facade in fixed sequence; do not reorder.
"""

from __future__ import annotations

from ._core import DataFrame, F, SparkSession, W, pin_local, register, t




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
    "vocab_prune_topk",
    """
    WITH tok AS (
        SELECT doc_id,
               unnest(l)                     AS token,
               unnest(range(1, len(l) + 1)) AS pos
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS l
              FROM documents)
    ),
    top AS (
        SELECT token FROM (
            SELECT token, count(DISTINCT doc_id) AS df
            FROM tok GROUP BY token
        ) ORDER BY df DESC, token LIMIT 20
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT)             AS n_kept,
           string_agg(token, ' ' ORDER BY pos)  AS pruned_text
    FROM tok ANTI JOIN top USING (token)
    GROUP BY doc_id
    """,
    "Corpus-wide vocabulary pruning (training-data prep): find the 20 "
    "highest-document-frequency tokens, then strip them from every "
    "document, preserving original token order. Two shuffles total — "
    "token DF aggregation, then doc reassembly — and the stoplist "
    "itself is 20 rows, BROADCAST to make the strip map-side. "
    "Deterministic top-k tiebreak (df DESC, token ASC) so both "
    "engines pick the identical stoplist. At 100 TB the DF table is "
    "vocabulary-sized (millions of rows, not corpus-sized) and the "
    "reassembly groupBy carries only surviving (pos, token) pairs.",
    tags=("text", "textprep"),
)
def vocab_prune_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.expr("filter(split(text, ' '), x -> x != '')")).alias(
            "pos", "token"
        ),
    # posexplode is 0-based; the oracle's generate_series is 1-based —
    # order (not the index value) is all that must agree, and pos is
    # not emitted.
    )
    top = (
        tok.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(20)
        .select("token")
    )
    pruned = tok.join(F.broadcast(top), "token", "left_anti")
    return pruned.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.expr(
            "concat_ws(' ', transform(array_sort(collect_list(struct(pos, token))),"
            " s -> s.token))"
        ).alias("pruned_text"),
    )


@register(
    "ewma_daily_value",
    """
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day, avg(value) AS v
        FROM events GROUP BY 1, 2
    ),
    arrs AS (
        SELECT event_type, list(v ORDER BY day) AS vals
        FROM daily GROUP BY 1
    )
    SELECT event_type,
           CAST(len(vals) AS BIGINT) AS n_days,
           CAST(FLOOR(list_reduce(vals,
                    (acc, x) -> CAST(0.2 AS DOUBLE) * x
                              + CAST(0.8 AS DOUBLE) * acc) * 10000.0 + 0.5)
                / 10000.0 AS DOUBLE) AS ewma
    FROM arrs
    """,
    "Exponentially-weighted moving average of daily event values per "
    "type — the classic time-series smoothing feature. Daily partial "
    "aggregate first (corpus -> #days x #types rows), THEN an ordered "
    "fold per key via the aggregate() lambda — so the sequential "
    "recursion runs over a metadata-scale array, never the raw "
    "events. Both engines fold left-to-right from the first day's "
    "value with identical IEEE ops (DuckDB list_reduce seeds with "
    "element 1; Spark aggregate(slice(...,2,...), element_at(...,1)) "
    "mirrors it), and the result lands on the 1e-4 grid via the "
    "floor(x*1e4+0.5) trick.",
    tags=("events", "window", "ml"),
)
def ewma_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.avg("value").alias("v"))
    arrs = daily.groupBy("event_type").agg(
        F.expr("transform(array_sort(collect_list(struct(day, v))), s -> s.v)").alias(
            "vals"
        )
    )
    return arrs.select(
        "event_type",
        F.size("vals").cast("bigint").alias("n_days"),
        F.expr(
            "cast(floor(aggregate(slice(vals, 2, size(vals) - 1),"
            " element_at(vals, 1),"
            " (acc, x) -> 0.2d * x + 0.8d * acc) * 10000.0 + 0.5)"
            " / 10000.0 as double)"
        ).alias("ewma"),
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
    "winsorize_robust_scale",
    """
    WITH b AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.01) AS p01,
               quantile_cont(l_extendedprice, 0.99) AS p99
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_orderkey, l.l_linenumber,
           CAST(FLOOR(least(greatest(l.l_extendedprice, b.p01), b.p99)
                      * 10000.0 + 0.5) / 10000.0 AS DOUBLE) AS price_winsorized,
           CAST(l.l_extendedprice < b.p01 OR l.l_extendedprice > b.p99
                AS INT) AS clipped
    FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
    """,
    "Winsorization (robust feature scaling): clamp each value into its "
    "group's [p01, p99] — the outlier-taming transform applied before "
    "training on heavy-tailed features. Exact interpolated percentiles "
    "here for oracle parity; at 100 TB swap percentile() for "
    "approx_percentile (single-pass sketch, no per-group sort) — the "
    "clamp join is a broadcast of one tiny bounds row per group either "
    "way. Grid-stable 4dp flooring because the clamp boundaries are "
    "interpolated doubles that sit on no decimal grid.",
    tags=("agg", "ml", "stats"),
)
def winsorize_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    b = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.01)").alias("p01"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("p99"),
    )
    j = li.join(F.broadcast(b), "l_returnflag")
    clamped = F.least(F.greatest(F.col("l_extendedprice"), F.col("p01")), F.col("p99"))
    return j.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(clamped * 10000.0 + 0.5) / 10000.0)
        .cast("double")
        .alias("price_winsorized"),
        (
            (F.col("l_extendedprice") < F.col("p01"))
            | (F.col("l_extendedprice") > F.col("p99"))
        )
        .cast("int")
        .alias("clipped"),
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
    "skipgram_cooccurrence",
    """
    WITH toks AS (
      SELECT d.doc_id, u.tok, u.pos
      FROM (SELECT doc_id,
                   list_filter(string_split(lower(text), ' '), x -> x <> '') AS ls
            FROM documents) d,
           LATERAL (SELECT unnest(ls) AS tok,
                           generate_subscripts(ls, 1) AS pos) u
    )
    SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_cooc
    FROM toks a
    JOIN toks b ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 3
    GROUP BY 1, 2
    HAVING count(*) >= 5
    """,
    "Skip-gram co-occurrence counts (window 3, forward-only) — the "
    "word2vec/GloVe training-pair extraction. Spark formulation avoids "
    "the range self-join entirely: each token row is replicated to its "
    "3 offsets (explode over a constant sequence) and matched with a "
    "pure two-key EQUI-join on (doc_id, pos+k = pos'), so the join "
    "hash-partitions perfectly and never evaluates a range predicate "
    "against a replicated build side. Count aggregation is partial "
    "(map-side) before its single shuffle on the (tok_a, tok_b) key. "
    "At 100 TB the token table is the corpus ×≈55 and the pair agg "
    "dominates — both stay linear in corpus size for a fixed window.",
    tags=("text", "training-data", "join"),
)
def skipgram_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
        ).alias("pos", "tok"),
    )
    left = toks.select(
        "doc_id",
        F.col("tok").alias("tok_a"),
        F.explode(F.sequence(F.lit(1), F.lit(3))).alias("off"),
        (F.col("pos") + F.col("off")).alias("pos_b"),
    )
    right = toks.select(
        "doc_id", F.col("pos").alias("pos_b"), F.col("tok").alias("tok_b")
    )
    return (
        left.join(right, ["doc_id", "pos_b"])
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_cooc"))
        .filter(F.col("n_cooc") >= 5)
    )


@register(
    "mad_robust_stats",
    """
    WITH med AS (
      SELECT l_returnflag,
             CAST(median(l_extendedprice) AS DOUBLE) AS med_price
      FROM lineitem GROUP BY 1
    )
    SELECT l.l_returnflag,
           CAST(FLOOR(any_value(m.med_price) * 10000.0 + 0.5) / 10000.0
                AS DOUBLE) AS med_price,
           CAST(FLOOR(CAST(median(abs(l.l_extendedprice - m.med_price))
                           AS DOUBLE) * 10000.0 + 0.5) / 10000.0
                AS DOUBLE) AS mad_price,
           count(*) AS n
    FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
    GROUP BY 1
    """,
    "Median absolute deviation — the robust (outlier-immune) scale "
    "estimator paired with the median center: two exact-median passes, "
    "the second over |x - group_median| after a broadcast join of the "
    "1-row-per-group centers. Exact interpolated medians for oracle "
    "parity; at 100 TB both passes swap to approx_percentile sketches "
    "(single-pass, mergeable, no per-group sort) with the same plan "
    "shape. Grid-stable 4dp flooring because interpolated medians sit "
    "on no decimal grid.",
    tags=("agg", "stats", "ml"),
)
def mad_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.median("l_extendedprice").cast("double").alias("med_price")
    )
    j = li.join(F.broadcast(med), "l_returnflag")
    grid = lambda c: (F.floor(c * 10000.0 + 0.5) / 10000.0).cast("double")  # noqa: E731
    return j.groupBy("l_returnflag").agg(
        grid(F.any_value("med_price")).alias("med_price"),
        grid(
            F.median(F.abs(F.col("l_extendedprice") - F.col("med_price"))).cast(
                "double"
            )
        ).alias("mad_price"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "nfc_normalization",
    """
    SELECT doc_id,
           length(raw)                      AS len_raw,
           length(nfc_normalize(raw))       AS len_nfc,
           right(nfc_normalize(raw), 6)     AS nfc_tail
    FROM (SELECT doc_id, substring(text, 1, 40) || 'cafe' || chr(769) AS raw
          FROM documents WHERE doc_id % 25 = 0) s
    """,
    "Unicode NFC normalization — the canonicalization step before any "
    "text dedup/fingerprint (é as e+combining-acute must hash like é "
    "composed). Spark has no native normalizer, so this is the "
    "documented Arrow path: a vectorized pandas UDF over "
    "unicodedata.normalize, one Python worker round-trip per batch, "
    "never per row. A decomposed combining acute is appended to each "
    "prefix so the transform provably composes (len shrinks by 1). "
    "Oracle is DuckDB's native nfc_normalize. At 100 TB this is "
    "embarrassingly parallel map-side work; batch size is bounded by "
    "spark.sql.execution.arrow.maxRecordsPerBatch.",
    tags=("text", "training-data", "udf"),
)
def nfc_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    import unicodedata

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no signature annotations: PEP-563 lazy annotations (module-wide
    # `from __future__ import annotations`) stringify them, which the
    # pandas_udf signature validator rejects.
    @pandas_udf("string")
    def nfc(s):
        return s.map(lambda x: unicodedata.normalize("NFC", x))

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    raw = F.concat(F.substring("text", 1, 40), F.lit("café"))
    base = docs.select("doc_id", raw.alias("raw")).withColumn(
        "norm", nfc(F.col("raw"))
    )
    return base.select(
        "doc_id",
        F.length("raw").alias("len_raw"),
        F.length("norm").alias("len_nfc"),
        F.expr("right(norm, 6)").alias("nfc_tail"),
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
    "inverted_index_postings",
    """
    WITH toks AS (
        SELECT DISTINCT doc_id,
               unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS term
        FROM documents
    ), df AS (
        SELECT term, count(*) AS doc_freq FROM toks GROUP BY 1
    )
    SELECT t.term,
           CAST(d.doc_freq AS BIGINT) AS doc_freq,
           array_to_string(list_sort(list(t.doc_id)), ',') AS postings
    FROM toks t JOIN df d USING (term)
    WHERE d.doc_freq BETWEEN 5 AND 40
    GROUP BY t.term, d.doc_freq
    """,
    "Inverted-index construction: term -> sorted posting list of the "
    "documents containing it (the IR primitive behind BM25/boolean "
    "retrieval; bm25_topk scores over exactly this structure). "
    "Posting lists serialize as comma-joined sorted strings so the "
    "output is scalar and deterministic — collect_list order is "
    "partition-dependent, sort_array pins it. Mid-frequency band "
    "filter (5..40 docs) models the stoplist+hapax pruning a real "
    "index applies. At 100 TB postings for stop-words would dwarf "
    "executor memory — the doc_freq pre-filter drops them BEFORE "
    "collect_list materializes anything (vocab_prune_topk is the "
    "standalone form), and ultra-long survivors shard into "
    "(term, bucket) segment postings.",
    tags=("text", "training-data", "agg"),
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
            )
        ).alias("term"),
    )
    df_counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    band = df_counts.filter(F.col("doc_freq").between(5, 40))
    return (
        toks.join(band, "term")
        .groupBy("term", "doc_freq")
        .agg(
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias(
                "postings"
            )
        )
        .select("term", F.col("doc_freq").cast("bigint").alias("doc_freq"), "postings")
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
    "dedup_keep_latest",
    """
    SELECT user_id, event_type,
           epoch_us(ts)  AS last_ts_us,
           event_id      AS last_event_id,
           round(value, 4) AS last_value
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    "Keep-latest compaction: the newest record per business key "
    "((user, event_type) here), ties broken deterministically by "
    "event_id — the CDC upsert-log -> current-state primitive (what a "
    "MERGE against an append log reduces to, and the read-side of "
    "merge_upsert's write-side). One shuffle on the key; row_number "
    "with a rank-limit pushes a per-partition top-1 (Spark plans a "
    "WindowGroupLimit) so each task keeps one row per key before any "
    "data concentrates. At 100 TB this is strictly cheaper than "
    "groupBy(max_by(...)) chains for wide rows: the payload never "
    "enters an aggregation buffer.",
    tags=("window", "events", "dedup"),
)
def dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.expr("unix_micros(ts)").alias("last_ts_us"),
            F.col("event_id").alias("last_event_id"),
            F.round("value", 4).alias("last_value"),
        )
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
    "doc_quality_filter",
    """
    WITH d AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ), s AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               len(list_distinct(toks)) * 1.0 / len(toks) AS distinct_ratio,
               len(list_filter(toks, x -> list_contains(
                   ['the','a','of','and','to','in','is','that','for','it'],
                   lower(x)))) * 1.0 / len(toks) AS stopword_ratio
        FROM d WHERE len(toks) > 0
    )
    SELECT doc_id, n_tokens,
           CAST(floor(distinct_ratio * 10000.0 + 0.5) / 10000.0 AS DOUBLE)
               AS distinct_ratio,
           CAST(floor(stopword_ratio * 10000.0 + 0.5) / 10000.0 AS DOUBLE)
               AS stopword_ratio,
           CAST(n_tokens >= 30 AND distinct_ratio >= 0.35
                AND stopword_ratio >= 0.02 AS INT) AS keep,
           concat_ws(',',
               CASE WHEN n_tokens < 30           THEN 'too_short' END,
               CASE WHEN distinct_ratio < 0.35   THEN 'repetitive' END,
               CASE WHEN stopword_ratio < 0.02   THEN 'unnatural' END)
               AS drop_reasons
    FROM s
    """,
    "Composite training-data quality gate (Gopher/C4-style rule "
    "filter): minimum length, lexical diversity (distinct-token "
    "ratio), and natural-language signal (stopword ratio) evaluated "
    "in ONE projection pass, emitting keep/drop plus machine-readable "
    "reason codes — the auditable form every corpus-curation pipeline "
    "needs (reasons feed the drop-rate dashboards that catch filter "
    "drift). Thresholds split the fixture corpus non-trivially. All "
    "per-row native expressions: at 100 TB this is embarrassingly "
    "parallel map work with zero shuffles; the component stats have "
    "standalone queries (text_stats, repetition_stats) and this gate "
    "composes them without re-tokenizing per rule (one split, one "
    "pass). Ratio outputs grid-floored at 4dp on both engines; the "
    "keep/drop decisions compare raw doubles computed by identical "
    "IEEE expressions, so no boundary drift.",
    tags=("text", "training-data", "quality"),
)
def doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    stop = F.array(*[F.lit(w) for w in
                     ["the", "a", "of", "and", "to", "in", "is", "that", "for", "it"]])
    d = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    n = F.size("toks")
    s = d.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        (F.size(F.array_distinct("toks")) * F.lit(1.0) / n).alias("dr"),
        (
            F.size(F.filter("toks", lambda x: F.array_contains(stop, F.lower(x))))
            * F.lit(1.0)
            / n
        ).alias("sr"),
    )
    grid = lambda c: (F.floor(c * 10000.0 + 0.5) / 10000.0).cast("double")  # noqa: E731
    return s.select(
        "doc_id",
        "n_tokens",
        grid(F.col("dr")).alias("distinct_ratio"),
        grid(F.col("sr")).alias("stopword_ratio"),
        (
            (F.col("n_tokens") >= 30)
            & (F.col("dr") >= 0.35)
            & (F.col("sr") >= 0.02)
        )
        .cast("int")
        .alias("keep"),
        F.concat_ws(
            ",",
            F.when(F.col("n_tokens") < 30, F.lit("too_short")),
            F.when(F.col("dr") < 0.35, F.lit("repetitive")),
            F.when(F.col("sr") < 0.02, F.lit("unnatural")),
        ).alias("drop_reasons"),
    )


@register(
    "skew_diagnosis",
    """
    WITH per_key AS (
        SELECT o_custkey AS key, count(*) AS n
        FROM orders GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT)          AS n_keys,
           CAST(sum(n) AS BIGINT)            AS n_rows,
           CAST(max(n) AS BIGINT)            AS max_per_key,
           round(avg(n), 6)                  AS avg_per_key,
           CAST(floor(CAST(quantile_cont(n, 0.99) AS DOUBLE) * 10000.0 + 0.5)
                / 10000.0 AS DOUBLE)         AS p99_per_key,
           round(max(n) / avg(n), 4)         AS skew_ratio
    FROM per_key
    """,
    "Join-key skew diagnosis: per-key row counts reduced to the "
    "distribution summary (max, p99, max/avg skew ratio) that decides "
    "a shuffle strategy BEFORE the join runs — ratio near 1 means hash "
    "partitioning balances, a hot ratio means salt the key or lean on "
    "AQE skew-join splitting (skew_join_salted is the treatment; this "
    "is the diagnostic). Two aggregations: the per-key count is the "
    "fact-sized shuffle with map-side partials, the summary is "
    "key-cardinality work. The exact p99 here becomes approx_percentile "
    "at 100 TB (same single-pass shape). DuckDB quantile_cont is the "
    "oracle twin of Spark's percentile(), both 4dp grid-floored.",
    tags=("agg", "stats", "skew"),
)
def skew_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    per_key = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return per_key.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.max("n").cast("bigint").alias("max_per_key"),
        F.round(F.avg("n"), 6).alias("avg_per_key"),
        (
            F.floor(F.expr("percentile(n, 0.99)").cast("double") * 10000.0 + 0.5)
            / 10000.0
        )
        .cast("double")
        .alias("p99_per_key"),
        F.round(F.max("n") / F.avg("n"), 4).alias("skew_ratio"),
    )


@register(
    "time_since_last_event",
    """
    SELECT event_id, user_id, event_type,
           t_us - last_value(CASE WHEN event_type = 'purchase' THEN t_us END
                             IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY t_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS us_since_purchase
    FROM (SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us
          FROM events)
    """,
    "Recency feature: per event, microseconds since the SAME user's "
    "previous purchase (NULL before the first) — the "
    "time-since-last-X transform behind churn/propensity features, via "
    "a conditional IGNORE NULLS window lookup with the frame ending at "
    "1 PRECEDING so a purchase measures from the PRIOR purchase, not "
    "itself. (ts, event_id) ordering keeps same-timestamp rows "
    "deterministic. One shuffle on user_id; running state is one "
    "scalar per user regardless of history length — at 100 TB this "
    "scales with users, not events, and integer µs arithmetic means "
    "no float drift anywhere.",
    tags=("events", "window", "ml"),
)
def time_since_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("t_us"),
    )
    frame = (
        W.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prev_purchase = F.last(
        F.when(F.col("event_type") == "purchase", F.col("t_us")), ignorenulls=True
    ).over(frame)
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        (F.col("t_us") - prev_purchase).alias("us_since_purchase"),
    )


@register(
    "ab_test_conversion",
    """
    WITH u AS (
        SELECT user_id,
               CAST(user_id % 2 AS INT) AS arm,
               max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)     AS saw,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bought
        FROM events GROUP BY 1, 2
    ), a AS (
        SELECT arm,
               CAST(sum(saw) AS BIGINT)                       AS n_exposed,
               CAST(sum(CASE WHEN saw = 1 THEN bought ELSE 0 END) AS BIGINT)
                                                              AS n_converted
        FROM u GROUP BY 1
    )
    SELECT arm, n_exposed, n_converted,
           round(p, 6) AS cvr,
           round((p + 1.92199592 / nd - 1.959964 *
                  sqrt(p * (1.0 - p) / nd + 0.96099796 / (nd * nd)))
                 / (1.0 + 3.84399184 / nd), 6) AS wilson_lo,
           round((p + 1.92199592 / nd + 1.959964 *
                  sqrt(p * (1.0 - p) / nd + 0.96099796 / (nd * nd)))
                 / (1.0 + 3.84399184 / nd), 6) AS wilson_hi
    FROM (SELECT arm, n_exposed, n_converted,
                 CAST(n_exposed AS DOUBLE) AS nd,
                 n_converted / CAST(n_exposed AS DOUBLE) AS p
          FROM a)
    """,
    "A/B conversion readout: deterministic arm assignment "
    "(user_id % 2 — at 100 TB a salted hash of the user key, same "
    "shape), per-user exposure/conversion flags collapsed by max(), "
    "then per-arm conversion rate with the Wilson 95% score interval "
    "computed from the counts — the analysis every experimentation "
    "platform serves. Two aggregations, both partial-combined; the "
    "interval arithmetic runs on 2 rows. IEEE-identical on both "
    "engines: the inputs are exact integer counts and sqrt is "
    "correctly rounded, so round(,6) cannot straddle engines.",
    tags=("events", "agg", "analytics", "stats"),
)
def ab_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    u = ev.groupBy(
        "user_id", (F.col("user_id") % 2).cast("int").alias("arm")
    ).agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("saw"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "bought"
        ),
    )
    a = u.groupBy("arm").agg(
        F.sum("saw").cast("bigint").alias("n_exposed"),
        F.sum(F.when(F.col("saw") == 1, F.col("bought")).otherwise(0))
        .cast("bigint")
        .alias("n_converted"),
    )
    # Expression trees below mirror the oracle SQL symbol-for-symbol —
    # same literals, same operation order — so IEEE results are
    # bit-identical (sqrt is correctly rounded; inputs are exact
    # integer counts).
    nd = F.col("n_exposed").cast("double")
    p = F.col("n_converted") / nd
    base = a.withColumn("nd", nd).withColumn("p", p)
    half = F.lit(1.959964) * F.sqrt(
        F.col("p") * (F.lit(1.0) - F.col("p")) / F.col("nd")
        + F.lit(0.96099796) / (F.col("nd") * F.col("nd"))
    )
    center = F.col("p") + F.lit(1.92199592) / F.col("nd")
    denom = F.lit(1.0) + F.lit(3.84399184) / F.col("nd")
    return base.select(
        "arm",
        "n_exposed",
        "n_converted",
        F.round("p", 6).alias("cvr"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
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

