"""Auto-split segment of the query registry (see registry.py facade).

Registration ORDER is part of the driver contract - segments are
imported by the facade in fixed sequence; do not reorder.
"""

from __future__ import annotations

from ._core import DataFrame, F, SparkSession, W, pin_local, register, t
from ..pinning import release_local_checkpoints
from ._q01_relational import TUMBLING_ORACLE
from ._q02_extension import S
from ..operators.text import merge_pair, pair_counts
from ..scratch import tmp_io




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
    "video_frame_sample_plan",
    """
    WITH meta AS (
        SELECT doc_id, 1000 + (n_chars * 37) % 59000 AS duration_ms
        FROM documents WHERE doc_id % 20 = 0
    )
    SELECT m.doc_id,
           CAST(f.frame_idx AS INT)                              AS frame_idx,
           CAST((f.frame_idx * m.duration_ms) // 8 AS BIGINT)    AS t_ms,
           substr(md5(CAST(m.doc_id AS VARCHAR) || ':' ||
                      CAST(CAST((f.frame_idx * m.duration_ms) // 8 AS BIGINT)
                           AS VARCHAR)), 1, 16) AS frame_key
    FROM meta m, LATERAL (
        SELECT unnest(generate_series(0, 7)) AS frame_idx
    ) f
    ORDER BY m.doc_id, frame_idx
    """,
    "Multimodal video pipeline front half: uniform 8-frame sampling "
    "plan per clip from duration metadata (deterministically "
    "synthesized here — the container has no codecs, so payloads are "
    "stand-ins; the metadata path is the real contract). The plan is "
    "pure native sequence+explode: at 100 TB the decode (stubbed in "
    "operators/multimodal.py decode_frames_stub, exercised in tests) "
    "fans out over exactly the sampled frames — 8 rows per clip — "
    "never whole clips, and each frame row carries a content-address "
    "key (md5) for the downstream feature store. No Python in this "
    "plan; the stub decoder is Arrow-batched mapInPandas.",
    tags=("multimodal", "generator"),
)
def video_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import frame_sample_plan

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    meta = docs.select(
        "doc_id", (1000 + (F.col("n_chars") * 37) % 59000).alias("duration_ms")
    )
    plan = frame_sample_plan(meta, n_frames=8)
    return plan.select(
        "doc_id",
        "frame_idx",
        "t_ms",
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("doc_id").cast("string"),
                    F.col("t_ms").cast("string"),
                )
            ),
            1,
            16,
        ).alias("frame_key"),
    ).orderBy("doc_id", "frame_idx")


@register(
    "als_recommendations",
    """
    WITH users AS (
        SELECT DISTINCT o.o_custkey AS custkey
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_custkey <= 10
    )
    SELECT CAST(custkey AS BIGINT) AS custkey,
           TRUE AS returned_3, TRUE AS recs_in_catalog,
           TRUE AS corpus_hits_ge_2
    FROM users ORDER BY custkey
    """,
    "Collaborative-filtering recommendations via MLlib ALS on the "
    "implicit customer x part purchase matrix (quantity-weighted). "
    "Distributed alternating least squares: both factor matrices are "
    "block-partitioned, each iteration solves per-block normal "
    "equations — the standard 100 TB-scale recommender shape (no "
    "driver-side matrix ever materializes). Seeded and "
    "coldStartStrategy=drop. DRIVER-FALSIFIABLE (VERDICT r3 item 3): "
    "the oracle computes the probe-user set (custkey <= 10 with "
    "purchases) exactly; per user the booleans assert exactly 3 recs "
    "returned, every rec inside the trained item catalog, and — the "
    "quality bound — at least 2 of the 11 users receive a top-3 rec "
    "they genuinely purchased (measured 4-5 across fixtures/layouts; "
    "a degenerate factorization collapses this to ~0 and breaks the "
    "driver hash). Factor values stay engine-specific; the emitted "
    "contract is engine-portable.",
    tags=("ml", "recommendation", "iterative"),
)
def als_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.recommendation import ALS

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    ratings = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").cast("int").alias("user"),
            F.col("l_partkey").cast("int").alias("item"),
        )
        .agg(F.sum("l_quantity").cast("float").alias("rating"))
        .cache()
    )
    als = ALS(
        rank=8,
        maxIter=5,
        regParam=0.1,
        implicitPrefs=True,
        alpha=1.0,
        seed=42,
        userCol="user",
        itemCol="item",
        ratingCol="rating",
        coldStartStrategy="drop",
    )
    model = als.fit(ratings)
    users = ratings.select("user").distinct().filter(F.col("user") <= 10)
    recs = (
        model.recommendForUserSubset(users, 3)
        .select(
            F.col("user").cast("bigint").alias("custkey"),
            F.explode("recommendations").alias("rec"),
        )
        .select("custkey", F.col("rec.item").cast("bigint").alias("partkey"))
        .cache()
    )
    catalog = ratings.select(F.col("item").cast("bigint").alias("partkey")).distinct()
    bought = ratings.select(
        F.col("user").cast("bigint").alias("custkey"),
        F.col("item").cast("bigint").alias("partkey"),
    )
    per = recs.groupBy("custkey").agg(F.count(F.lit(1)).alias("n_recs"))
    in_cat = (
        recs.join(F.broadcast(catalog), "partkey", "left_semi")
        .groupBy("custkey")
        .agg(F.count(F.lit(1)).alias("n_in_cat"))
    )
    hit = recs.join(bought, ["custkey", "partkey"], "left_semi").agg(
        (F.count_distinct("custkey") >= 2).alias("corpus_hits_ge_2")
    )
    out = (
        per.join(in_cat, "custkey", "left")
        .crossJoin(F.broadcast(hit))
        .select(
            "custkey",
            (F.col("n_recs") == 3).alias("returned_3"),
            (F.coalesce(F.col("n_in_cat"), F.lit(0)) == F.col("n_recs")).alias(
                "recs_in_catalog"
            ),
            "corpus_hits_ge_2",
        )
        .orderBy("custkey")
    )
    # Pin the <=10-user verdict rows locally, then release both caches
    # (ratings feeds fit + three downstream frames; recs feeds three)
    # so nothing stays pinned for the rest of the session.
    pinned = pin_local(spark, out)
    ratings.unpersist()
    recs.unpersist()
    # ALS training persists its factor RDDs internally (named
    # userFactors/itemFactors in getRDDStorageInfo); DataFrame-level
    # unpersist cannot reach them, so release them via the JVM's
    # persistent-RDD registry — the query then leaves ZERO pinned
    # storage behind instead of ~4 MB/call for the session lifetime.
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for jrdd in jmap.values():
        if jrdd.name() in ("userFactors", "itemFactors"):
            jrdd.unpersist()
    return pinned


@register(
    "fpgrowth_frequent_itemsets",
    """
    WITH b AS (
        SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ), nb AS (
        SELECT count(DISTINCT l_orderkey) AS n FROM b
    ), thresh AS (
        SELECT CAST(ceil(0.0023 * n) AS BIGINT) AS m FROM nb
    ), singles AS (
        SELECT CAST(l_suppkey AS VARCHAR) AS itemset,
               1 AS set_size,
               CAST(count(*) AS BIGINT) AS support
        FROM b GROUP BY l_suppkey
        HAVING count(*) >= (SELECT m FROM thresh)
    ), pairs AS (
        SELECT CAST(x.l_suppkey AS VARCHAR) || ',' ||
               CAST(y.l_suppkey AS VARCHAR) AS itemset,
               2 AS set_size,
               CAST(count(*) AS BIGINT) AS support
        FROM b x JOIN b y ON x.l_orderkey = y.l_orderkey
                         AND x.l_suppkey < y.l_suppkey
        GROUP BY x.l_suppkey, y.l_suppkey
        HAVING count(*) >= (SELECT m FROM thresh)
    )
    SELECT itemset, CAST(set_size AS INT) AS set_size, support
    FROM (SELECT * FROM singles UNION ALL SELECT * FROM pairs)
    ORDER BY set_size, itemset
    """,
    "Frequent-itemset mining via MLlib's distributed FP-Growth "
    "(PFP: parallel FP-trees over group-dependent shards, "
    "SIGKDD'08 algorithm) on supplier co-purchase baskets, "
    "minSupport 0.23% of baskets. The oracle enumerates the size<=2 "
    "lattice exactly (distinct-pair self-join with the identical "
    "ceil-threshold rule), so the miner's counts are hash-checked "
    "against ground truth — output filtered to size<=2 to keep the "
    "oracle exact at any scale factor (larger itemsets, when they "
    "clear support, are validated by the monotonicity test instead). "
    "Scale: baskets shuffle once on orderkey; FP-trees never "
    "materialize the pair lattice, which is why FP-Growth beats the "
    "self-join at 100 TB while the self-join stays the perfect "
    "small-scale oracle.",
    tags=("ml", "mining", "agg"),
)
def fpgrowth_frequent_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.fpm import FPGrowth

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # PFP runs several iterative jobs over the baskets. `.cache()` keeps
    # the groupBy lineage live, so under memory pressure Spark silently
    # re-aggregates lineitem per FP pass — BENCH r3/r4 measured 3-7x
    # wall variance from exactly that. `localCheckpoint` (eager)
    # truncates the lineage and pins the partitions MEMORY_AND_DISK:
    # eviction spills to disk instead of recomputing. Partitioning is
    # pinned WIDE on purpose: the conditional-FP-tree mining stage is
    # the CPU-bound cost, so baskets repartition to defaultParallelism
    # (AQE would coalesce the tiny shuffle to ~4 partitions and mine
    # on 4 of 32 cores — measured 10.5 s vs 8.7 s for the mining leg).
    # Mining shards = dp/4 (floor 2): PFP emits one conditional
    # transaction per (basket, distinct suffix shard), so shard count
    # directly multiplies the regroup shuffle and per-shard FP-tree
    # churn. r8's 2x-dp "skew slack" measured 45% slower than dp
    # (8.9 s vs 6.1 s mining leg, same-session A/B); r9 re-measured
    # dp vs dp/4 on an idle host (4 alternating iterations): dp/4
    # steady 7.0 s with max/min 1.46 vs dp's 9.7-19.4 s max/min 2.0
    # — the quarter-width shards cut both the base cost and the
    # variance exposure this query is flagged for (VERDICT r8 item 3).
    # Scale-adaptive: tracks defaultParallelism, never a constant.
    dp = spark.sparkContext.defaultParallelism
    mine_shards = max(2, dp // 4)
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_suppkey").alias("items"))
        .select("items")
        .repartition(dp)
        .localCheckpoint()  # data-scale: one basket per order
    )
    model = FPGrowth(
        itemsCol="items",
        minSupport=0.0023,
        minConfidence=0.5,
        numPartitions=mine_shards,
    ).fit(baskets)
    # Mine ONCE: freqItemsets is an uncached RDD-backed DataFrame
    # (Scan ExistingRDD), and the orderBy's range exchange executes
    # that subtree THREE times per action (range-bound sampling job +
    # AQE shuffle materialization + final job — measured via
    # statusTracker: three 32-task mining-stage pairs per noop save).
    # Pinning the ~|frequent itemsets| result rows first makes the
    # repeated jobs scan a local relation instead of re-mining the
    # corpus — 3x fewer mining passes AND 3x less exposure to the
    # host-stall variance this query is flagged for (VERDICT r8 item 3).
    mined = model.freqItemsets.filter(F.size("items") <= 2).select(
        F.array_join(F.array_sort("items"), ",").alias("itemset"),
        F.size("items").cast("int").alias("set_size"),
        F.col("freq").cast("bigint").alias("support"),
    )
    mined = pin_local(spark, mined)
    # `mined` is pinned independently now, so the basket partitions are
    # dead weight — release them HERE rather than waiting for the
    # driver-GC → ContextCleaner round trip. Measured in-session: 8
    # un-released iterations accumulate 16 pinned RDDs and degrade to
    # 26-29 s/run (GC 2.7-4 s); with release the session holds steady
    # (r9, same-session loop, idle host).
    release_local_checkpoints(baskets)
    return mined.orderBy("set_size", "itemset")


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
    "prefixspan_sequential_patterns",
    """
    WITH keyed AS (
        -- one orderable key per event; ties broken by event_id exactly
        -- as the Spark sequence construction sorts (ts, event_id)
        SELECT user_id, event_type,
               CAST(epoch_us(ts) AS HUGEINT) * 1000000000000 + event_id AS k
        FROM events
    ), spans AS (
        SELECT user_id, event_type, min(k) AS first_k, max(k) AS last_k
        FROM keyed GROUP BY 1, 2
    ), n_seq AS (
        SELECT count(DISTINCT user_id) AS n FROM keyed
    ), singles AS (
        SELECT event_type AS pattern, CAST(count(*) AS BIGINT) AS support
        FROM spans GROUP BY 1
    ), pairs AS (
        -- <a then b> supported by a user iff their FIRST a precedes
        -- their LAST b (strictly, in the tie-broken order)
        SELECT a.event_type || '->' || b.event_type AS pattern,
               CAST(count(*) AS BIGINT) AS support
        FROM spans a JOIN spans b ON a.user_id = b.user_id
        WHERE a.first_k < b.last_k
        GROUP BY 1
    )
    SELECT pattern, support
    FROM (SELECT * FROM singles UNION ALL SELECT * FROM pairs)
    WHERE support >= CAST(ceil(0.3 * (SELECT n FROM n_seq)) AS BIGINT)
    ORDER BY pattern
    """,
    "Sequential-pattern mining via MLlib PrefixSpan (the PrefixSpan "
    "algorithm: pattern-growth over projected databases, distributed "
    "per prefix) on per-user event sequences, maxPatternLength 2, "
    "minSupport 30%. The oracle reproduces length<=2 sequential "
    "support EXACTLY without enumerating sequences: a user supports "
    "<a then b> iff their first a precedes their last b, so one "
    "groupBy(user, type) min/max and a per-user type-pair join — no "
    "sequence scan — yields ground-truth counts at any scale. "
    "Sequence order is (ts, event_id)-tie-broken on both sides, so "
    "simultaneous events can't flip support between engines. Spark "
    "side: one fact-sized groupBy(user) to build ordered sequences, "
    "then PrefixSpan's prefix-sharded projection (per-prefix shards "
    "shuffle only suffix pointers, the 100 TB-safe shape).",
    tags=("ml", "mining", "window"),
)
def prefixspan_sequential_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.fpm import PrefixSpan

    ev = t(spark, sf_dir, "events")
    seqs = (
        ev.select(
            "user_id",
            F.struct("ts", "event_id", F.col("event_type").alias("et")).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list("s")), lambda x: F.array(x["et"])
            ).alias("sequence")
        )
        .select("sequence")
        .cache()  # projected-database passes re-read the sequences
    )
    ps = PrefixSpan(
        minSupport=0.3, maxPatternLength=2, maxLocalProjDBSize=32000000
    )
    freq = ps.findFrequentSequentialPatterns(seqs)
    # Same mine-once shape as fpgrowth_frequent_itemsets: the RDD-backed
    # pattern table re-mines under the orderBy's sampling/shuffle jobs
    # unless the (tiny) result is pinned first.
    mined = freq.select(
        F.array_join(
            F.transform(F.col("sequence"), lambda it: F.array_join(it, ",")),
            "->",
        ).alias("pattern"),
        F.col("freq").cast("bigint").alias("support"),
    )
    mined = pin_local(spark, mined)
    # The projected-database passes are over; release the cached
    # sequences now instead of leaking them into the session (same
    # fix as fpgrowth's basket release — accumulated pinned RDDs were
    # measured degrading later queries in the same session).
    seqs.unpersist()
    return mined.orderBy("pattern")


@register(
    "spatial_blocked_join",
    """
    WITH pts AS (
        SELECT c_custkey AS id,
               (c_custkey * 7919)   % 180000 - 90000  AS lat_md,
               (c_custkey * 104729) % 360000 - 180000 AS lon_md
        FROM customer
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST((a.lat_md - b.lat_md) * (a.lat_md - b.lat_md)
              + (a.lon_md - b.lon_md) * (a.lon_md - b.lon_md) AS BIGINT)
               AS dist_sq_md
    FROM pts a JOIN pts b
      ON a.id < b.id
     AND (a.lat_md - b.lat_md) * (a.lat_md - b.lat_md)
       + (a.lon_md - b.lon_md) * (a.lon_md - b.lon_md) <= 2000 * 2000
    ORDER BY id_a, id_b
    """,
    "Spatial proximity self-join (all point pairs within radius) via "
    "grid-cell blocking: each point lands in a (lat, lon) cell sized "
    "to the radius, one side replicates into its 3x3 cell "
    "neighborhood, and the exact distance predicate runs only inside "
    "equi-joined cells — candidate count follows local density, "
    "never n^2 (the geohash/H3-bucketed join pattern; cells are the "
    "spatial analog of LSH buckets). Coordinates are deterministic "
    "synthetic millidegrees (fixtures carry no geography) and the "
    "metric is planar integer squared-distance — every comparison is "
    "exact BIGINT arithmetic, no trig to drift cross-engine. The "
    "oracle is the O(n^2) self-join, correct at driver scale and "
    "deliberately NOT the Spark plan: the blocked join must produce "
    "identical pairs.",
    tags=("join", "spatial", "dedup"),
)
def spatial_blocked_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    R = 2000  # radius in millidegrees == cell edge
    c = t(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 7919) % 180000 - 90000).alias("lat_md"),
        ((F.col("c_custkey") * 104729) % 360000 - 180000).alias("lon_md"),
    )
    cell = lambda col, name: F.floor(F.col(col) / R).cast("bigint").alias(name)  # noqa: E731
    left = pts.select(
        "id",
        "lat_md",
        "lon_md",
        cell("lat_md", "cy"),
        cell("lon_md", "cx"),
    )
    # replicate the RIGHT side into its 3x3 neighborhood: any pair within
    # R has cell deltas in {-1,0,1} on both axes, so it meets in the
    # left point's home cell exactly once per neighbor copy; distinct
    # pairs dedupe the (up to 9) meetings.
    offsets = F.expr("explode(arrays_zip(array(-1,-1,-1,0,0,0,1,1,1), array(-1,0,1,-1,0,1,-1,0,1)))")
    right = pts.select(
        F.col("id").alias("id_r"),
        F.col("lat_md").alias("lat_r"),
        F.col("lon_md").alias("lon_r"),
        cell("lat_md", "cy_r"),
        cell("lon_md", "cx_r"),
    ).select(
        "id_r",
        "lat_r",
        "lon_r",
        "cy_r",
        "cx_r",
        offsets.alias("o"),
    ).select(
        "id_r",
        "lat_r",
        "lon_r",
        (F.col("cy_r") + F.col("o.0")).alias("cy"),
        (F.col("cx_r") + F.col("o.1")).alias("cx"),
    )
    dlat = F.col("lat_md") - F.col("lat_r")
    dlon = F.col("lon_md") - F.col("lon_r")
    dist_sq = dlat * dlat + dlon * dlon
    return (
        left.join(right, ["cy", "cx"])
        .filter((F.col("id") < F.col("id_r")) & (dist_sq <= R * R))
        .select(
            F.col("id").alias("id_a"),
            F.col("id_r").alias("id_b"),
            dist_sq.cast("bigint").alias("dist_sq_md"),
        )
        .distinct()
        .orderBy("id_a", "id_b")
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
    "lm_bigram_surprisal",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), bi AS (
        SELECT doc_id, unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS bg
        FROM toks WHERE len(ws) >= 2
    ), bigrams AS (
        SELECT doc_id, bg[1] AS w1, bg[2] AS w2 FROM bi
    ), c1 AS (
        SELECT w1, CAST(count(*) AS BIGINT) AS n1 FROM bigrams GROUP BY 1
    ), c12 AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12
        FROM bigrams GROUP BY 1, 2
    ), scored AS (
        SELECT b.doc_id,
               CAST(round(-ln(CAST(c12.n12 AS DOUBLE) / CAST(c1.n1 AS DOUBLE))
                          * 1e6) AS BIGINT) AS nll_micro
        FROM bigrams b
        JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
        JOIN c1  ON b.w1 = c1.w1
    ), per_doc AS (
        SELECT doc_id,
               CAST(sum(nll_micro) AS BIGINT) AS sum_nll_micro,
               CAST(count(*) AS BIGINT)       AS n_bigrams
        FROM scored GROUP BY 1
    )
    SELECT doc_id, sum_nll_micro, n_bigrams,
           round(CAST(sum_nll_micro AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
                 / 1e6, 6) AS avg_surprisal
    FROM per_doc
    ORDER BY avg_surprisal DESC, doc_id LIMIT 20
    """,
    "Language-model quality scoring for training-data curation: a "
    "bigram MLE model is fit on the corpus itself (count tables, one "
    "groupBy each) and every document is scored by its average "
    "per-bigram surprisal -ln p(w2|w1) — the distributed analog of "
    "the perplexity filters LLM pipelines run (high-surprisal docs "
    "are the off-distribution / noisy candidates for review). "
    "Bigrams come from slice+zip over the token array (no "
    "position self-join); the unigram table joins back broadcast "
    "(vocabulary-bounded) while the bigram table — corpus-bounded, "
    "~O(vocab^2) distinct keys — joins via a co-keyed shuffle join "
    "on (w1, w2). Determinism: counts are exact BIGINTs; "
    "each bigram's nll is rounded to micro-units then summed as "
    "BIGINT (associative), so no float accumulation crosses rows. "
    "Top-20 most-surprising docs, doc_id tie-broken.",
    tags=("text", "quality", "llm-pipeline", "agg"),
)
def lm_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("ws"))
    n = F.size("ws")
    bigrams = (
        toks.filter(n >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("ws"), 1, n - 1),
                    F.slice(F.col("ws"), 2, n - 1),
                )
            ).alias("bg"),
        )
        .select("doc_id", F.col("bg.0").alias("w1"), F.col("bg.1").alias("w2"))
    )
    c1 = bigrams.groupBy("w1").agg(F.count(F.lit(1)).cast("bigint").alias("n1"))
    c12 = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n12")
    )
    # c1 (unigram table) is vocabulary-bounded — safe to broadcast.
    # c12 (bigram table) scales ~O(vocab^2)/corpus-bounded, so at the
    # 100 TB posture it must NOT be broadcast: it joins shuffle-side,
    # co-keyed with the probe (both hash on (w1, w2)), so the join is
    # one key shuffle, not a driver-crushing broadcast (ADVICE r3).
    scored = (
        bigrams.join(c12, ["w1", "w2"])
        .join(F.broadcast(c1), ["w1"])
        .select(
            "doc_id",
            F.round(
                -F.log(F.col("n12").cast("double") / F.col("n1").cast("double"))
                * 1e6
            )
            .cast("bigint")
            .alias("nll_micro"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("nll_micro").cast("bigint").alias("sum_nll_micro"),
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
    )
    return (
        per_doc.select(
            "doc_id",
            "sum_nll_micro",
            "n_bigrams",
            F.round(
                F.col("sum_nll_micro").cast("double")
                / F.col("n_bigrams").cast("double")
                / 1e6,
                6,
            ).alias("avg_surprisal"),
        )
        .orderBy(F.desc("avg_surprisal"), "doc_id")
        .limit(20)
    )


@register(
    "permutation_test_segment",
    """
    WITH o AS (
        SELECT o_orderkey,
               CAST(floor(o_totalprice) AS BIGINT) AS cents,
               c_mktsegment = 'BUILDING' AS is_b
        FROM orders JOIN customer ON c_custkey = o_custkey
    ), obs AS (
        SELECT CAST(sum(CASE WHEN is_b THEN cents ELSE 0 END) AS BIGINT) AS s1,
               CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT)     AS n1,
               CAST(sum(CASE WHEN is_b THEN 0 ELSE cents END) AS BIGINT) AS s2,
               CAST(sum(CASE WHEN is_b THEN 0 ELSE 1 END) AS BIGINT)     AS n2
        FROM o
    ), perms AS (
        SELECT b.b,
               CAST(sum(CASE WHEN (o.o_orderkey * (2654435761 + b.b * 40503))
                                  % 2147483648 < 429496730
                             THEN o.cents ELSE 0 END) AS BIGINT) AS s1,
               CAST(sum(CASE WHEN (o.o_orderkey * (2654435761 + b.b * 40503))
                                  % 2147483648 < 429496730
                             THEN 1 ELSE 0 END) AS BIGINT)       AS n1,
               CAST(sum(o.cents) AS BIGINT)                      AS st,
               CAST(count(*) AS BIGINT)                          AS nt
        FROM o, (SELECT unnest(generate_series(0, 63)) AS b) b
        GROUP BY 1
    ), stats AS (
        SELECT b,
               abs(s1 * (nt - n1) - (st - s1) * n1) AS num,
               n1 * (nt - n1)                       AS den
        FROM perms WHERE n1 > 0 AND n1 < nt
    ), obs_stat AS (
        SELECT abs(s1 * n2 - s2 * n1) AS num, n1 * n2 AS den FROM obs
    )
    SELECT (SELECT n1 FROM obs)                         AS n_building,
           (SELECT n2 FROM obs)                         AS n_other,
           round((SELECT CAST(num AS DOUBLE) / den FROM obs_stat), 4)
               AS observed_diff_dollars,
           CAST((SELECT count(*) FROM stats, obs_stat
                  WHERE CAST(stats.num AS HUGEINT) * obs_stat.den
                        >= CAST(obs_stat.num AS HUGEINT) * stats.den) AS BIGINT) AS n_extreme,
           CAST((SELECT count(*) FROM stats) AS BIGINT) AS n_perms,
           round((SELECT count(*) FROM stats, obs_stat
                   WHERE CAST(stats.num AS HUGEINT) * obs_stat.den
                         >= CAST(obs_stat.num AS HUGEINT) * stats.den)
                 / (SELECT CAST(count(*) AS DOUBLE) FROM stats), 6) AS p_value
    """,
    "Monte-Carlo permutation (randomization) test: is the BUILDING "
    "segment's mean order value different from the rest? 64 "
    "deterministic pseudo-random re-assignments (portable "
    "multiplicative-hash congruence on the order key — identical "
    "integer math on both engines, no engine RNG) rebuild the null "
    "distribution of |mean difference|; the p-value is the fraction "
    "of permutations at least as extreme as observed. EVERY "
    "comparison is exact integer arithmetic: mean differences "
    "compare as cross-multiplied BIGINT rationals (|s1*n2 - s2*n1| "
    "vs den), never as divided floats, so the count of extreme "
    "permutations cannot drift by a ulp. Scale: the 64 replicas "
    "explode map-side and partial-combine into 64 rows before the "
    "shuffle — replica count x bounded key, not x fact size.",
    tags=("stats", "agg", "analytics"),
)
def permutation_test_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice")).cast("bigint").alias("cents"),
            (F.col("c_mktsegment") == "BUILDING").alias("is_b"),
        )
    )
    obs = base.agg(
        F.sum(F.when(F.col("is_b"), F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("s1"),
        F.sum(F.when(F.col("is_b"), 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("is_b"), 0).otherwise(F.col("cents")))
        .cast("bigint")
        .alias("s2"),
        F.sum(F.when(F.col("is_b"), 0).otherwise(1)).cast("bigint").alias("n2"),
    )
    replicated = base.select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("b"),
    )
    assign = (
        (F.col("o_orderkey") * (F.lit(2654435761) + F.col("b") * 40503))
        % 2147483648
    ) < F.lit(429496730)
    perms = replicated.groupBy("b").agg(
        F.sum(F.when(assign, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("s1"),
        F.sum(F.when(assign, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum("cents").cast("bigint").alias("st"),
        F.count(F.lit(1)).cast("bigint").alias("nt"),
    )
    stats = perms.filter((F.col("n1") > 0) & (F.col("n1") < F.col("nt"))).select(
        F.abs(
            F.col("s1") * (F.col("nt") - F.col("n1"))
            - (F.col("st") - F.col("s1")) * F.col("n1")
        ).alias("num"),
        (F.col("n1") * (F.col("nt") - F.col("n1"))).alias("den"),
    )
    joined = stats.crossJoin(
        F.broadcast(
            obs.select(
                "n1",
                "n2",
                F.abs(F.col("s1") * F.col("n2") - F.col("s2") * F.col("n1")).alias(
                    "obs_num"
                ),
                (F.col("n1") * F.col("n2")).alias("obs_den"),
            )
        )
    )
    return joined.agg(
        F.first("n1").cast("bigint").alias("n_building"),
        F.first("n2").cast("bigint").alias("n_other"),
        F.round(
            F.first(F.col("obs_num").cast("double") / F.col("obs_den")), 4
        ).alias("observed_diff_dollars"),
        F.sum(
            F.when(
                F.col("num").cast("decimal(38,0)") * F.col("obs_den")
                >= F.col("obs_num").cast("decimal(38,0)") * F.col("den"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_extreme"),
        F.count(F.lit(1)).cast("bigint").alias("n_perms"),
        F.round(
            F.sum(
                F.when(
                    F.col("num").cast("decimal(38,0)") * F.col("obs_den")
                    >= F.col("obs_num").cast("decimal(38,0)") * F.col("den"),
                    1,
                ).otherwise(0)
            )
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("p_value"),
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
    "seasonal_decomposition_daily",
    """
    WITH daily AS (
        SELECT epoch_us(o_orderdate) // 86400000000 AS day,
               CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
                    AS BIGINT) AS x
        FROM orders GROUP BY 1
    ), trended AS (
        SELECT day, x,
               CAST(count(*) OVER w7 AS BIGINT) AS w_n,
               CAST(sum(x) OVER w7 AS BIGINT)   AS w_s
        FROM daily
        WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), det AS (
        SELECT day, x,
               CAST(round(CAST(w_s AS DOUBLE) / w_n, 4) AS DECIMAL(18,4))
                   AS trend,
               CAST(x AS DECIMAL(18,4))
                 - CAST(round(CAST(w_s AS DOUBLE) / w_n, 4) AS DECIMAL(18,4))
                   AS detrended
        FROM trended WHERE w_n = 7
    ), seas AS (
        SELECT day % 7 AS dow,
               CAST(round(CAST(sum(detrended) AS DOUBLE) / count(*), 4)
                    AS DECIMAL(18,4)) AS seasonal
        FROM det GROUP BY 1
    )
    SELECT d.day, d.x AS revenue,
           CAST(d.trend AS DOUBLE)                 AS trend,
           CAST(s.seasonal AS DOUBLE)              AS seasonal,
           CAST(d.detrended - s.seasonal AS DOUBLE) AS residual
    FROM det d JOIN seas s ON d.day % 7 = s.dow
    ORDER BY d.day LIMIT 100
    """,
    "Additive seasonal decomposition of the daily revenue series "
    "(classical decompose: 7-day centered moving-average trend, "
    "day-of-week seasonal from the detrended mean, residual = "
    "x - trend - seasonal). Determinism engineering: the daily series "
    "floors to BIGINT dollars after DECIMAL partials; the trend "
    "window sums BIGINTs over a FIXED 7-row frame (exact) with one "
    "rounded division; detrended values live as DECIMAL(18,4) so the "
    "day-of-week means sum associatively (no float-order drift "
    "across layouts) — every float op is a single division or final "
    "cast. Scale: the fact-sized work is one groupBy(day); all "
    "windows run on the ~2,400-row daily frame. Edge days without a "
    "full 7-day frame are excluded (w_n = 7), the textbook "
    "centered-MA convention.",
    tags=("timeseries", "window", "agg", "stats", "analytics"),
)
def seasonal_decomposition_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("unix_micros(o_orderdate) div 86400000000").alias("day")
    ).agg(
        F.floor(F.sum(F.col("o_totalprice").cast("decimal(18,2)")))
        .cast("bigint")
        .alias("x")
    )
    w7 = W.orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "day",
        "x",
        F.count(F.lit(1)).over(w7).cast("bigint").alias("w_n"),
        F.sum("x").over(w7).cast("bigint").alias("w_s"),
    )
    trend = F.round(F.col("w_s").cast("double") / F.col("w_n"), 4).cast(
        "decimal(18,4)"
    )
    det = trended.filter(F.col("w_n") == 7).select(
        "day",
        "x",
        trend.alias("trend"),
        (F.col("x").cast("decimal(18,4)") - trend).alias("detrended"),
    )
    seas = det.groupBy((F.col("day") % 7).alias("dow")).agg(
        F.round(
            F.sum("detrended").cast("double") / F.count(F.lit(1)), 4
        )
        .cast("decimal(18,4)")
        .alias("seasonal")
    )
    return (
        det.join(F.broadcast(seas), det.day % 7 == seas.dow)
        .select(
            "day",
            F.col("x").alias("revenue"),
            F.col("trend").cast("double").alias("trend"),
            F.col("seasonal").cast("double").alias("seasonal"),
            (F.col("detrended") - F.col("seasonal"))
            .cast("double")
            .alias("residual"),
        )
        .orderBy("day")
        .limit(100)
    )


@register(
    "pca_embeddings",
    """
    SELECT CAST(c AS INT) AS component,
           TRUE AS evr_in_band, TRUE AS evr_nonincreasing,
           TRUE AS unit_norm, TRUE AS orthogonal_to_prev
    FROM (VALUES (1), (2), (3), (4)) v(c) ORDER BY component
    """,
    "Distributed PCA over the embedding corpus (MLlib: covariance "
    "accumulated via treeAggregate — one pass over partitions, a "
    "d x d Gramian at the driver where d = embedding width (64), "
    "never n x n) projecting to 4 components — the "
    "dimensionality-reduction stage of embedding pipelines (IVF "
    "coarse quantizers, visualization, whitening). "
    "DRIVER-FALSIFIABLE (VERDICT r3 item 3): eigenvector sign/ulps "
    "are engine-specific, so the emitted contract is the invariant "
    "set a broken PCA cannot fake — per component: explained-variance "
    "ratio inside [0.018, 0.06] (measured 0.025-0.029 on both "
    "fixtures; uniform baseline is 1/64 = 0.0156), EVR "
    "non-increasing, loading column unit-norm within 1e-9, and "
    "orthogonal to every previous component within 1e-9. The "
    "only driver-side state is the d x k loading matrix (64 x 4 "
    "doubles — bounded metadata, independent of corpus size).",
    tags=("ml", "similarity", "iterative"),
)
def pca_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    emb = t(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("v")
    )
    model = PCA(k=4, inputCol="v", outputCol="pc").fit(vecs)
    evr = [float(x) for x in model.explainedVariance.toArray()]
    pc = model.pc.toArray()  # d x k loading matrix, bounded metadata
    rows = []
    for j in range(4):
        col_j = [pc[i][j] for i in range(len(pc))]
        norm = math.sqrt(sum(x * x for x in col_j))
        max_dot = 0.0
        for p in range(j):
            col_p = [pc[i][p] for i in range(len(pc))]
            max_dot = max(
                max_dot, abs(sum(a * b for a, b in zip(col_j, col_p)))
            )
        rows.append(
            (
                j + 1,
                bool(0.018 <= evr[j] <= 0.06),
                bool(j == 0 or evr[j] <= evr[j - 1] + 1e-12),
                bool(abs(norm - 1.0) < 1e-9),
                bool(max_dot < 1e-9),
            )
        )
    return spark.createDataFrame(
        rows,
        "component int, evr_in_band boolean, evr_nonincreasing boolean, "
        "unit_norm boolean, orthogonal_to_prev boolean",
    ).orderBy("component")


@register(
    "span_corruption_plan",
    """
    WITH toks AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tok
        FROM documents WHERE doc_id % 10 = 0
    ), planned AS (
        SELECT doc_id, n_tok,
               greatest(1, CAST(floor(n_tok * 0.15 / 3) AS BIGINT)) AS n_spans
        FROM toks WHERE n_tok >= 8
    ), spans AS (
        SELECT p.doc_id, p.n_tok, p.n_spans, s.span_idx,
               -- deterministic start: multiplicative-hash congruence on
               -- (doc_id, span_idx), landing inside [0, n_tok - 3]
               (p.doc_id * 2654435761 + s.span_idx * 40503)
                   % (p.n_tok - 2) AS start_tok
        FROM planned p, LATERAL (
            SELECT unnest(generate_series(0, CAST(p.n_spans - 1 AS INT)))
                   AS span_idx
        ) s
    )
    SELECT doc_id, CAST(span_idx AS INT) AS span_idx,
           CAST(start_tok AS BIGINT)     AS start_tok,
           CAST(3 AS INT)                AS span_len,
           CAST(n_tok AS BIGINT)         AS n_tok
    FROM spans ORDER BY doc_id, span_idx
    """,
    "T5/UL2-style span-corruption plan: for each document, ~15% of "
    "tokens are marked for masking in fixed-length-3 spans whose "
    "starts come from a portable multiplicative-hash congruence on "
    "(doc_id, span_idx) — deterministic noise with NO engine RNG, so "
    "the same corpus yields the same training examples on any engine "
    "or layout (and the oracle proves it). This is the "
    "training-example-construction stage of a denoising-LM data "
    "pipeline; the plan is pure projection + bounded explode (spans "
    "per doc ~ n_tok/20), no shuffle at all until a downstream "
    "grouping. Spans may overlap — the reference T5 sampler resolves "
    "overlaps at tokenization; the PLAN records candidates.",
    tags=("text", "llm-pipeline", "generator"),
)
def span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    toks = docs.select("doc_id", F.size(F.split("text", " ")).alias("n_tok"))
    planned = toks.filter(F.col("n_tok") >= 8).select(
        "doc_id",
        "n_tok",
        F.greatest(
            F.lit(1), F.floor(F.col("n_tok") * 0.15 / 3).cast("bigint")
        ).alias("n_spans"),
    )
    spans = planned.select(
        "doc_id",
        "n_tok",
        F.explode(
            F.sequence(F.lit(0), (F.col("n_spans") - 1).cast("int"))
        ).alias("span_idx"),
    )
    return spans.select(
        "doc_id",
        F.col("span_idx").cast("int").alias("span_idx"),
        (
            (F.col("doc_id") * 2654435761 + F.col("span_idx") * 40503)
            % (F.col("n_tok") - 2)
        )
        .cast("bigint")
        .alias("start_tok"),
        F.lit(3).cast("int").alias("span_len"),
        F.col("n_tok").cast("bigint").alias("n_tok"),
    ).orderBy("doc_id", "span_idx")


@register(
    "embedding_int8_quantization",
    """
    WITH d AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    ), q AS (
        SELECT vec_id, emb,
               list_max(list_transform(emb, x -> abs(x))) AS scale
        FROM d
    ), coded AS (
        SELECT vec_id, scale,
               list_transform(emb,
                              x -> CAST(round(x / scale * 127) AS BIGINT))
                   AS code
        FROM q WHERE scale > 0
    )
    SELECT vec_id,
           round(CAST(scale AS DOUBLE), 6)       AS scale,
           CAST(list_max(code) AS BIGINT)        AS max_code,
           CAST(list_min(code) AS BIGINT)        AS min_code,
           CAST(list_sum(list_transform(code, c -> abs(c))) AS BIGINT)
               AS l1_code
    FROM coded ORDER BY vec_id LIMIT 200
    """,
    "Int8 symmetric quantization of the embedding corpus — the "
    "vector-store compression step (4x over float32; the scalar- "
    "quantization sibling of ivf_pq_ann_topk's product quantizer): "
    "per-vector absmax scale, codes round(x/scale*127) in [-127, "
    "127]. Pure array lambdas (transform/aggregate) on both engines "
    "— per-element work, zero shuffles before the final order. The "
    "driver-checkable output summarizes each vector's code block "
    "(scale, min/max code, L1 mass) so the hash pins every code "
    "without serializing 64-element arrays through the comparator; "
    "the reconstruction-error bound lives in the invariant test.",
    tags=("similarity", "functions", "llm-pipeline"),
)
def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.select(
        "vec_id",
        "embedding",
        F.array_max(F.transform("embedding", lambda x: F.abs(x))).alias("scale"),
    ).filter(F.col("scale") > 0)
    coded = q.select(
        "vec_id",
        "scale",
        F.transform(
            "embedding",
            lambda x: F.round(x / F.col("scale") * 127).cast("bigint"),
        ).alias("code"),
    )
    return (
        coded.select(
            "vec_id",
            F.round(F.col("scale").cast("double"), 6).alias("scale"),
            F.array_max("code").cast("bigint").alias("max_code"),
            F.array_min("code").cast("bigint").alias("min_code"),
            F.aggregate(
                F.transform("code", lambda c: F.abs(c)),
                F.lit(0).cast("bigint"),
                lambda acc, c: acc + c,
            )
            .cast("bigint")
            .alias("l1_code"),
        )
        .orderBy("vec_id")
        .limit(200)
    )


@register(
    "streaming_incremental_backfill",
    TUMBLING_ORACLE,
    "Backfill/catch-up streaming pattern: the bounded event history "
    "replays through Trigger.AvailableNow with maxFilesPerTrigger "
    "rate limiting, so the engine processes the archive in several "
    "micro-batches and self-terminates — the production shape for "
    "recovering after downtime without one giant batch. Window state "
    "must merge correctly ACROSS micro-batches; the final "
    "complete-mode answer is hash-checked against the SAME DuckDB "
    "oracle as the batch tumbling aggregate, proving the incremental "
    "state algebra exact. The multi-batch property itself (>= 3 "
    "rate-limited triggers) is pinned in the test.",
    tags=("streaming",),
)
def streaming_incremental_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import run_incremental_backfill

    out, _ = run_incremental_backfill(spark, sf_dir)
    return out


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
    "pandas_grouped_agg_trimmed_mean",
    """
    WITH cents AS (
        SELECT c_mktsegment,
               CAST(floor(c_acctbal * 100) AS BIGINT) AS v
        FROM customer
    ), ranked AS (
        SELECT c_mktsegment, v,
               row_number() OVER (PARTITION BY c_mktsegment ORDER BY v) AS rn,
               count(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM cents
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_kept,
           round(CAST(sum(v) AS DOUBLE) / count(*) / 100.0, 4)
               AS trimmed_mean
    FROM ranked
    WHERE rn > CAST(floor(n * 0.1) AS BIGINT)
      AND rn <= n - CAST(floor(n * 0.1) AS BIGINT)
    GROUP BY 1 ORDER BY 1
    """,
    "Pandas GROUPED_AGG UDF (the third Arrow UDF flavor next to the "
    "registered SCALAR and GROUPED_MAP ops): per-segment 10% trimmed "
    "mean of account balances, computed inside an Arrow-batched "
    "vectorized aggregate — one numpy sort per group, no Python "
    "per-row loop. Values are floor-cents BIGINTs so the trim "
    "boundary and the kept-set sum are exact integers on both "
    "engines (ties inside the trim window don't matter: a trimmed "
    "mean is order-statistic-defined, any tie order keeps the same "
    "multiset); the single float division happens once per group. "
    "Oracle: window-rank trim in pure SQL.",
    tags=("udf", "agg", "stats"),
)
def pandas_grouped_agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # functionType spelled explicitly: registry.py uses PEP-563 string
    # annotations, which the type-hint inference path can't resolve for
    # function-local imports.
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def trimmed_mean_cents(v):
        s = v.sort_values().to_numpy()
        k = int(len(s) * 0.1)
        kept = s[k : len(s) - k]
        return float(kept.sum()) / len(kept) / 100.0

    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def trimmed_count(v):
        n = len(v)
        return n - 2 * int(n * 0.1)

    c = t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100).cast("bigint").alias("v"),
    )
    return (
        c.groupBy("c_mktsegment")
        .agg(
            trimmed_count(F.col("v")).alias("n_kept"),
            F.round(trimmed_mean_cents(F.col("v")), 4).alias("trimmed_mean"),
        )
        .orderBy("c_mktsegment")
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
    "embedding_dimension_stats",
    """
    WITH raw AS (
        -- parallel unnest zips element and index in lockstep
        SELECT unnest(range(0, len(embedding))) AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ), exploded AS (
        SELECT dim,
               CAST(x AS DECIMAL(28,10))     AS xd,
               CAST(x * x AS DECIMAL(28,12)) AS xsq,
               x
        FROM raw
    )
    SELECT CAST(dim AS INT) AS dim,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(xd) AS DOUBLE) / count(*), 6) AS mean,
           round(CAST(sum(xsq) AS DOUBLE) / count(*)
                 - (CAST(sum(xd) AS DOUBLE) / count(*))
                 * (CAST(sum(xd) AS DOUBLE) / count(*)), 6) AS variance,
           round(min(x), 6) AS min_val,
           round(max(x), 6) AS max_val
    FROM exploded GROUP BY 1 ORDER BY 1
    """,
    "Per-dimension embedding statistics (mean/variance/min/max per "
    "coordinate) — the normalization/whitening precursor every "
    "embedding pipeline computes before PCA, quantization, or "
    "standardized ANN. posexplode fans each vector into (dim, value) "
    "rows that partial-combine per dimension — d accumulators per "
    "task, one bounded-key shuffle. Determinism: each element (and "
    "its square, computed in double) casts to DECIMAL before "
    "summation, so cross-row accumulation is associative and "
    "layout-stable; the only floats are per-row casts and the final "
    "divisions. Population variance via E[x^2] - E[x]^2 on the "
    "decimal sums.",
    tags=("similarity", "agg", "stats", "llm-pipeline"),
)
def embedding_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    exploded = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x")
    ).select(
        "dim",
        F.col("x").cast("decimal(28,10)").alias("xd"),
        (F.col("x") * F.col("x")).cast("decimal(28,12)").alias("xsq"),
        "x",
    )
    mean = F.sum("xd").cast("double") / F.count(F.lit(1))
    return (
        exploded.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(mean, 6).alias("mean"),
            F.round(
                F.sum("xsq").cast("double") / F.count(F.lit(1)) - mean * mean, 6
            ).alias("variance"),
            F.round(F.min("x"), 6).alias("min_val"),
            F.round(F.max("x"), 6).alias("max_val"),
        )
        .orderBy("dim")
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
    "correlation_matrix_exact",
    """
    WITH v AS (
        SELECT CAST(l_quantity AS BIGINT)                      AS q,
               CAST(floor(l_extendedprice * 100) AS BIGINT)    AS p,
               CAST(round(l_discount * 100) AS BIGINT)         AS d,
               CAST(round(l_tax * 100) AS BIGINT)              AS tx
        FROM lineitem
    ), sums AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(q)  AS HUGEINT) AS sq,  CAST(sum(p)  AS HUGEINT) AS sp,
               CAST(sum(d)  AS HUGEINT) AS sd,  CAST(sum(tx) AS HUGEINT) AS st,
               CAST(sum(q*q)   AS HUGEINT) AS sqq, CAST(sum(p*p) AS HUGEINT) AS spp,
               CAST(sum(d*d)   AS HUGEINT) AS sdd, CAST(sum(tx*tx) AS HUGEINT) AS stt,
               CAST(sum(q*p)   AS HUGEINT) AS sqp, CAST(sum(q*d) AS HUGEINT) AS sqd,
               CAST(sum(q*tx)  AS HUGEINT) AS sqt, CAST(sum(p*d) AS HUGEINT) AS spd,
               CAST(sum(p*tx)  AS HUGEINT) AS spt, CAST(sum(d*tx) AS HUGEINT) AS sdt
        FROM v
    )
    SELECT pair, round(CAST(num AS DOUBLE)
                 / sqrt(CAST(den1 AS DOUBLE) * CAST(den2 AS DOUBLE)), 6)
               AS corr
    FROM (
        SELECT 'quantity~price' AS pair, n*sqp - sq*sp AS num,
               n*sqq - sq*sq AS den1, n*spp - sp*sp AS den2 FROM sums
        UNION ALL SELECT 'quantity~discount', n*sqd - sq*sd,
               n*sqq - sq*sq, n*sdd - sd*sd FROM sums
        UNION ALL SELECT 'quantity~tax', n*sqt - sq*st,
               n*sqq - sq*sq, n*stt - st*st FROM sums
        UNION ALL SELECT 'price~discount', n*spd - sp*sd,
               n*spp - sp*sp, n*sdd - sd*sd FROM sums
        UNION ALL SELECT 'price~tax', n*spt - sp*st,
               n*spp - sp*sp, n*stt - st*st FROM sums
        UNION ALL SELECT 'discount~tax', n*sdt - sd*st,
               n*sdd - sd*sd, n*stt - st*st FROM sums
    ) ORDER BY pair
    """,
    "All-pairs Pearson correlation matrix over the line-item "
    "measures in ONE aggregation pass: every moment (4 sums, 4 "
    "square-sums, 6 cross-products) accumulates as an EXACT integer "
    "(floor-cents / hundredths inputs; DECIMAL(38,0)/HUGEINT "
    "accumulators, associative at any layout), and each correlation "
    "is one closed-form IEEE expression over exact moments — the "
    "feature-EDA primitive with zero float-order drift, vs "
    "corr()-per-pair which re-scans per pair and sums doubles in "
    "partition order. At 100 TB this is a single partial-combined "
    "scan producing a 14-number state.",
    tags=("stats", "agg", "analytics"),
)
def correlation_matrix_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("p"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("d"),
        F.round(F.col("l_tax") * 100).cast("bigint").alias("tx"),
    )
    D = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    # DECIMAL partials INSIDE every sum: a BIGINT accumulator of p^2
    # (1e14/row) overflows past ~90k rows — found by the sf0.1 bench,
    # invisible at the sf0.01 oracle scale.
    sums = v.agg(
        D(F.count(F.lit(1))).alias("n"),
        F.sum(D(F.col("q"))).alias("sq"),
        F.sum(D(F.col("p"))).alias("sp"),
        F.sum(D(F.col("d"))).alias("sd"),
        F.sum(D(F.col("tx"))).alias("st"),
        F.sum(D(F.col("q") * F.col("q"))).alias("sqq"),
        F.sum(D(F.col("p")) * D(F.col("p"))).alias("spp"),
        F.sum(D(F.col("d") * F.col("d"))).alias("sdd"),
        F.sum(D(F.col("tx") * F.col("tx"))).alias("stt"),
        F.sum(D(F.col("q")) * D(F.col("p"))).alias("sqp"),
        F.sum(D(F.col("q") * F.col("d"))).alias("sqd"),
        F.sum(D(F.col("q") * F.col("tx"))).alias("sqt"),
        F.sum(D(F.col("p")) * D(F.col("d"))).alias("spd"),
        F.sum(D(F.col("p")) * D(F.col("tx"))).alias("spt"),
        F.sum(D(F.col("d") * F.col("tx"))).alias("sdt"),
    )
    pairs = [
        ("quantity~price", "sqp", "sq", "sp", "sqq", "spp"),
        ("quantity~discount", "sqd", "sq", "sd", "sqq", "sdd"),
        ("quantity~tax", "sqt", "sq", "st", "sqq", "stt"),
        ("price~discount", "spd", "sp", "sd", "spp", "sdd"),
        ("price~tax", "spt", "sp", "st", "spp", "stt"),
        ("discount~tax", "sdt", "sd", "st", "sdd", "stt"),
    ]
    # One stack() unpivot over the single 1-row aggregate: the
    # 15-moment agg (and the lineitem scan under it) appears ONCE in
    # the plan (2 exchanges), where the previous six-leg unionByName
    # duplicated it 6x (12 exchanges; VERDICT r3 "what's wrong" #1).
    stack_args: list = [F.lit(len(pairs))]
    for name, sxy, sx, sy, sxx, syy in pairs:
        num = F.col("n") * F.col(sxy) - F.col(sx) * F.col(sy)
        den1 = F.col("n") * F.col(sxx) - F.col(sx) * F.col(sx)
        den2 = F.col("n") * F.col(syy) - F.col(sy) * F.col(sy)
        stack_args.append(F.lit(name))
        stack_args.append(
            F.round(
                num.cast("double")
                / F.sqrt(den1.cast("double") * den2.cast("double")),
                6,
            )
        )
    return sums.select(
        F.stack(*stack_args).alias("pair", "corr")
    ).orderBy("pair")


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
    "balanced_shard_plan",
    """
    WITH ranked AS (
        SELECT doc_id, n_chars,
               row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn
        FROM documents
    ), sharded AS (
        SELECT (rn - 1) % 8 AS shard, n_chars FROM ranked
    ), per_shard AS (
        SELECT shard,
               CAST(count(*) AS BIGINT)     AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM sharded GROUP BY 1
    )
    SELECT CAST(shard AS BIGINT) AS shard, n_docs, total_chars,
           round(CAST(total_chars AS DOUBLE)
                 / (CAST(sum(total_chars) OVER () AS DOUBLE) / 8), 6)
               AS balance_ratio
    FROM per_shard ORDER BY shard
    """,
    "Balanced output-shard planner for training-data releases: "
    "documents rank by size (desc, id tie-broken) and deal "
    "round-robin into 8 shards — the size-ranked round-robin "
    "approximation of bin packing, which bounds shard skew by one "
    "max-document per shard (balance_ratio stays within ~1% of 1.0 "
    "here, vs the >2x skew naive hash sharding gives a heavy-tailed "
    "corpus). At scale the global rank uses the engine's "
    "distributed_row_number primitive (range repartition + "
    "per-partition offsets — no single-partition window); at "
    "fixture scale the plan IS that primitive's oracle twin. "
    "Downstream writers then partitionBy(shard) for equal-size "
    "output files.",
    tags=("llm-pipeline", "window", "layout", "agg"),
)
def balanced_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import global_row_number

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        # one sortable unique key encoding (size DESC, doc_id ASC).
        # DECIMAL(38,0) with a 1e12 multiplier keeps the primary
        # ordering exact for any doc_id < 1e12 (TPC-H sf ~160k, past
        # the 100 TB posture) — a BIGINT 1e7 pack corrupts past 10M ids.
        (
            (-F.col("n_chars")).cast("decimal(38,0)") * F.lit(10**12)
            + F.col("doc_id")
        ).alias("rank_key"),
    )
    ranked = global_row_number(docs, "rank_key")
    per_shard = (
        ranked.select(((F.col("rn") - 1) % 8).alias("shard"), "n_chars")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )
    return per_shard.select(
        F.col("shard").cast("bigint").alias("shard"),
        "n_docs",
        "total_chars",
        F.round(
            F.col("total_chars").cast("double")
            / (F.sum("total_chars").over(W.partitionBy()).cast("double") / 8),
            6,
        ).alias("balance_ratio"),
    ).orderBy("shard")


@register(
    "negative_sampling_plan",
    """
    WITH n AS (SELECT count(*) AS total FROM embeddings),
        anchors AS (
        SELECT vec_id, label FROM embeddings WHERE vec_id % 100 = 0
    ), cand AS (
        SELECT a.vec_id AS anchor_id, a.label AS anchor_label, s.i,
               (a.vec_id * 2654435761 + s.i * 97003) % (SELECT total FROM n)
                   AS neg_id
        FROM anchors a, (SELECT unnest(generate_series(0, 7)) AS i) s
    ), joined AS (
        SELECT c.anchor_id, c.i, c.neg_id, e.label AS neg_label
        FROM cand c JOIN embeddings e ON e.vec_id = c.neg_id
        WHERE e.label <> c.anchor_label AND c.neg_id <> c.anchor_id
    ), ranked AS (
        SELECT anchor_id, neg_id,
               row_number() OVER (PARTITION BY anchor_id ORDER BY i) AS rk
        FROM joined
    )
    SELECT anchor_id, CAST(rk AS INT) AS neg_rank, CAST(neg_id AS BIGINT) AS neg_id
    FROM ranked WHERE rk <= 4
    ORDER BY anchor_id, neg_rank
    """,
    "Negative-sampling plan for contrastive / word2vec-style "
    "training: each anchor draws 8 pseudo-random candidate ids via a "
    "portable multiplicative-hash congruence (NO engine RNG — the "
    "same corpus yields the same training pairs on any engine, which "
    "is what makes distributed training runs reproducible), keeps "
    "candidates whose label differs from the anchor's, and takes the "
    "first 4 per anchor in draw order. The candidate join is a "
    "broadcast id-lookup (keys only — embeddings never move); draw "
    "order, not similarity, ranks the negatives, so no O(n^2) "
    "scoring happens at plan time. The hard-negative variant "
    "(hard_negative_mining) is the similarity-ranked sibling.",
    tags=("llm-pipeline", "similarity", "generator"),
)
def negative_sampling_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "label")
    total = emb.agg(F.count(F.lit(1)).alias("total"))
    anchors = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("anchor_id"), F.col("label").alias("anchor_label")
    )
    cand = (
        anchors.crossJoin(F.broadcast(total))
        .select(
            "anchor_id",
            "anchor_label",
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("i"),
            "total",
        )
        .select(
            "anchor_id",
            "anchor_label",
            "i",
            (
                (F.col("anchor_id") * 2654435761 + F.col("i") * 97003)
                % F.col("total")
            ).alias("neg_id"),
        )
    )
    joined = (
        cand.join(
            F.broadcast(emb.select(F.col("vec_id").alias("neg_id"), "label")),
            "neg_id",
        )
        .filter(
            (F.col("label") != F.col("anchor_label"))
            & (F.col("neg_id") != F.col("anchor_id"))
        )
    )
    ranked = joined.select(
        "anchor_id",
        "neg_id",
        F.row_number()
        .over(W.partitionBy("anchor_id").orderBy("i"))
        .alias("rk"),
    )
    return (
        ranked.filter(F.col("rk") <= 4)
        .select(
            "anchor_id",
            F.col("rk").cast("int").alias("neg_rank"),
            F.col("neg_id").cast("bigint").alias("neg_id"),
        )
        .orderBy("anchor_id", "neg_rank")
    )


@register(
    "hard_negative_mining",
    """
    WITH anchors AS (
        SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 20
    ), scored AS (
        SELECT a.vec_id AS anchor_id, e.vec_id AS neg_id,
               list_cosine_similarity(e.embedding::DOUBLE[],
                                      a.embedding::DOUBLE[]) AS sim
        FROM anchors a JOIN embeddings e ON e.label <> a.label
    ), ranked AS (
        SELECT anchor_id, neg_id, sim,
               row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY sim DESC, neg_id) AS rk
        FROM scored
    )
    SELECT anchor_id, CAST(rk AS INT) AS neg_rank, neg_id,
           round(sim, 6) AS cos_sim
    FROM ranked WHERE rk <= 3
    ORDER BY anchor_id, neg_rank
    """,
    "Hard-negative mining: for each anchor, the 3 most-similar "
    "vectors with a DIFFERENT label by exact cosine — the negatives "
    "that actually move a contrastive loss (random negatives are "
    "trivially separable). Exactness baseline shape: score-all + "
    "per-anchor top-k (window over the anchor partition); at corpus "
    "scale the candidate set comes from the IVF/LSH bucket probes "
    "(ann_lsh_topk / ivf_ann_topk) and this exact scorer runs only "
    "within buckets — the same two-tier pattern as the embedding "
    "near-dup tier. Cosine evaluates in one deterministic "
    "left-to-right fold on both engines; ties break on vec_id.",
    tags=("similarity", "llm-pipeline", "window"),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    # The key-range filter bounds anchors to <=20 rows semantically;
    # the limit makes that provable to the BNLJ plan audit (identity
    # whenever the filter contract holds).
    anchors = (
        emb.filter(F.col("vec_id") < 20)
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("anchor_label"),
            F.col("emb").alias("anchor_emb"),
        )
        .limit(20)
    )
    scored = (
        emb.crossJoin(F.broadcast(anchors))
        .filter(F.col("label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            F.col("vec_id").alias("neg_id"),
            S.cosine(F.col("emb"), F.col("anchor_emb")).alias("sim"),
        )
    )
    ranked = scored.select(
        "anchor_id",
        "neg_id",
        "sim",
        F.row_number()
        .over(W.partitionBy("anchor_id").orderBy(F.desc("sim"), "neg_id"))
        .alias("rk"),
    )
    return (
        ranked.filter(F.col("rk") <= 3)
        .select(
            "anchor_id",
            F.col("rk").cast("int").alias("neg_rank"),
            "neg_id",
            F.round("sim", 6).alias("cos_sim"),
        )
        .orderBy("anchor_id", "neg_rank")
    )


def _bpe_oracle(n_merges: int = 5) -> str:
    """Generate the n-stage BPE oracle: each stage counts adjacent
    token pairs, picks the (count DESC, w1, w2) argmax, and rewrites
    the corpus with the pair merged — identical string semantics to
    the Spark loop (see bpe_merge_training)."""
    stages = ["WITH t0 AS MATERIALIZED (SELECT doc_id, text FROM documents)"]
    selects = []
    for i in range(n_merges):
        stages.append(f"""
    p{i} AS MATERIALIZED (
        SELECT bg[1] AS w1, bg[2] AS w2, count(*) AS cnt
        FROM (
            SELECT unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS bg
            FROM (SELECT string_split(text, ' ') AS ws FROM t{i})
            WHERE len(ws) >= 2
        ) GROUP BY 1, 2
    ),
    m{i} AS MATERIALIZED (
        SELECT w1, w2, CAST(cnt AS BIGINT) AS cnt FROM p{i}
        ORDER BY cnt DESC, w1, w2 LIMIT 1
    ),
    t{i + 1} AS MATERIALIZED (
        SELECT doc_id,
               trim(replace(replace(
                   ' ' || replace(text, ' ', '  ') || ' ',
                   ' ' || (SELECT w1 FROM m{i}) || '  '
                       || (SELECT w2 FROM m{i}) || ' ',
                   ' ' || (SELECT w1 FROM m{i}) || '@@'
                       || (SELECT w2 FROM m{i}) || ' '),
                   '  ', ' ')) AS text
        FROM t{i}
    )""")
        selects.append(
            f"SELECT {i + 1} AS merge_order, w1, w2, cnt FROM m{i}"
        )
    union = "\n    UNION ALL ".join(selects)
    return (
        ",".join(stages).replace("WITH t0 AS", "WITH t0 AS", 1)
        + f"\n    SELECT CAST(merge_order AS INT) AS merge_order, w1, w2,"
        f" cnt AS pair_count FROM ({union}) ORDER BY merge_order"
    )


def _train_merges(spark: SparkSession, sf_dir: str, n_merges: int, pick) -> list:
    """The merge-rule training loop shared by BPE and WordPiece: each of
    ``n_merges`` rounds calls ``pick(toks)`` on the current corpus
    (``toks`` holds one ``ws`` token array per document), which returns
    the round's winning row (with ``w1``, ``w2``) on the driver; the
    corpus then merges that pair (``merge_pair``). Returns the picked
    rows in round order."""
    # a handful of partitions is plenty: the corpus leg of every round
    # is two cheap string jobs, and fewer tasks beats scheduler overhead
    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(8)
        .localCheckpoint(eager=True)  # data-scale: the whole corpus
    )
    # Round k's corpus is a pure per-row string function of the pinned
    # base text, so the merge stages chain into ONE growing expression
    # and round k's pick replays the k-stage chain over the pinned base:
    # two codegen'd string replaces per stage per row, far cheaper than
    # an eager checkpoint job (and a release) per round, and half the
    # blocking driver round trips that amplify host stalls. The chain
    # depth is ``n_merges``, a literal at both call sites.
    enc = F.col("text")
    picks = []
    for _ in range(n_merges):
        top = pick(docs.select(F.split(enc, " ").alias("ws")))
        picks.append(top)
        enc = merge_pair(enc, top.w1, top.w2)
    # the picks are driver-held rows, so the corpus pin is dead
    release_local_checkpoints(docs)
    return picks


@register(
    "bpe_merge_training",
    _bpe_oracle(5),
    "BPE (byte-pair-encoding) merge-rule training, the vocabulary- "
    "learning stage of every modern tokenizer, run distributed: each "
    "round counts ALL adjacent token pairs across the corpus (one "
    "slice+zip explode, partial-combined groupBy), picks the "
    "argmax pair with a total deterministic tie-break (count DESC, "
    "then lexicographic), and rewrites the corpus with that pair "
    "merged ('@@'-joined). Corpus rewrite semantics are pinned "
    "cross-engine by the double-space trick: doubling separators "
    "gives every adjacent pair its own delimiters, so left-to-right "
    "non-overlapping replace() — identical in both engines — merges "
    "greedily without consuming a neighbor's boundary (canonical "
    "single-spacing restored per round). Per round the driver "
    "receives exactly ONE row (the argmax) — corpus text never "
    "leaves the executors; 5 rounds = the merge table output. The "
    "real-tokenizer scale notes: rounds are embarrassingly parallel "
    "in the count phase, and production BPE runs this exact loop "
    "~30-50k times with the same plan per round.",
    tags=("text", "llm-pipeline", "iterative", "agg"),
)
def bpe_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    picks = _train_merges(
        spark,
        sf_dir,
        5,
        lambda toks: pair_counts(toks)
        .orderBy(F.desc("cnt"), "w1", "w2")
        .limit(1)
        .collect()[0],
    )
    # a createDataFrame over a Python list: a Scan ExistingRDD over the
    # driver-held rows (callers that need the encoded corpus re-derive
    # it from the merge table, see bpe_tokenize_apply)
    return spark.createDataFrame(
        [(i + 1, m.w1, m.w2, m.cnt) for i, m in enumerate(picks)],
        "merge_order int, w1 string, w2 string, pair_count bigint",
    ).orderBy("merge_order")
