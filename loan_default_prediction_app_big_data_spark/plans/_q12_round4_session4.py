"""Round-4 session-4 additions: storage-layout, geospatial, and
sequential time-series tiers.

Registration ORDER is part of the driver contract - segments are
imported by the facade in fixed sequence; do not reorder.
"""

from __future__ import annotations

from ._core import F, SparkSession, DataFrame, pin_local, register, t


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
# Multimodal DSP: real FFT spectral peaks over decoded PCM
# =====================================================================

_SPECTRAL_ORACLE = """
    -- The oracle cannot run an FFT, so it pins the spectrum's
    -- analytically-known facts instead (the bound-boolean pattern the
    -- sketch tier uses): the synthesized signal is an integer square
    -- wave at bin k, whose fundamental strictly dominates every
    -- (aliased) odd harmonic (|c_m| ~ 1/m), so the REAL numpy rFFT on
    -- the REAL decoded WAV bytes must report peak_bin = k; energy and
    -- DC are replayed sample-for-sample with unnest(range(256)); and
    -- Parseval (sum|X|^2/N = sum x^2) must hold to 1e-6 relative on
    -- any layout. A framing/byte-order/FFT slip moves the peak or
    -- breaks Parseval and hash-fails.
    WITH ids AS (
        SELECT doc_id,
               5 + (doc_id * 2654435761) % 96 AS k,
               1000 * (1 + doc_id % 7) AS amp
        FROM documents WHERE doc_id % 11 = 5
    ),
    phase AS (
        SELECT doc_id, k, amp, unnest(range(256)) AS i
        FROM ids
    ),
    s AS (
        SELECT doc_id, k, amp,
               CASE WHEN (i * k) % 256 < 128 THEN amp ELSE -amp END AS v
        FROM phase
    )
    SELECT doc_id,
           CAST(256 AS BIGINT) AS n_frames,
           CAST(amp AS BIGINT) AS amp,
           CAST(k AS BIGINT) AS expected_bin,
           CAST(k AS BIGINT) AS peak_bin,
           CAST(SUM(CAST(v AS BIGINT) * v) AS BIGINT) AS energy,
           CAST(SUM(v) AS BIGINT) AS dc_sum,
           TRUE AS peak_matches,
           TRUE AS parseval_ok
    FROM s
    GROUP BY doc_id, k, amp
    ORDER BY doc_id
"""


@register(
    "audio_spectral_peaks",
    _SPECTRAL_ORACLE,
    "REAL spectral analysis over binary audio: synthesize per-document "
    "WAV clips containing integer square waves at a congruence-chosen "
    "bin k (5..100 of 256), decode the actual RIFF bytes, run a numpy "
    "real FFT (operators/multimodal.py spectral_peak_stats), and "
    "report the dominant non-DC bin + a Parseval energy identity "
    "check. A square wave's fundamental strictly dominates every "
    "aliased odd harmonic (verified exhaustively for all 96 reachable "
    "k in tests), so the oracle pins peak_bin analytically WITHOUT "
    "running an FFT - the driver hash falsifies the whole decode->FFT "
    "pipeline; energy/DC replay sample-for-sample in SQL. Scale "
    "shape: Arrow-batched mapInPandas, one pass, no shuffle before "
    "the bounded sort; this is the signals counterpart of the codec "
    "tier's image/video decode queries.",
    tags=("multimodal", "round4"),
)
def audio_spectral_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        spectral_peak_stats,
        synth_square_wave_payloads,
    )

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 11 == 5)
        .select(
            "doc_id",
            (F.lit(5) + (F.col("doc_id") * 2654435761) % 96).alias("k"),
            (F.lit(1000) * (F.lit(1) + F.col("doc_id") % 7)).alias("amp"),
        )
    )
    return spectral_peak_stats(synth_square_wave_payloads(docs)).orderBy(
        "doc_id"
    )


# =====================================================================
# LLM-data pipeline: SemDeDup-style embedding-cluster pruning
# =====================================================================

_SEMDEDUP_ORACLE = """
    -- Replays the full SemDeDup pipeline (Abbas et al. 2023, public):
    -- assign every vector to its nearest of 8 fixed centroids by
    -- 6dp-rounded cosine (rounding collapses last-ulp summation
    -- differences between engines; ties break on centroid id), then
    -- inside each cluster prune any vector with a LOWER-id neighbor
    -- at rounded cosine >= 0.4 (keep-min-id, the same deterministic
    -- rule as dedup_keep_latest). The oracle runs the quadratic
    -- within-cluster compare; the engine path is the one that scales.
    WITH c AS MATERIALIZED (
        SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < 8
    ),
    v AS MATERIALIZED (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8
    ),
    a AS MATERIALIZED (
        SELECT vec_id, cid, embedding FROM (
            SELECT v.vec_id, c.cid, v.embedding,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round(list_cosine_similarity(
                           v.embedding::DOUBLE[], c.cvec::DOUBLE[]), 6) DESC,
                           c.cid
                   ) AS rn
            FROM v, c
        ) WHERE rn = 1
    ),
    p AS MATERIALIZED (
        SELECT DISTINCT b.vec_id AS pruned
        FROM a x JOIN a b ON x.cid = b.cid AND x.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(
            x.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4
    )
    SELECT cid,
           CAST(count(*) AS BIGINT) AS n_assigned,
           CAST(count(p.pruned) AS BIGINT) AS n_pruned,
           CAST(count(*) - count(p.pruned) AS BIGINT) AS n_kept,
           CAST(coalesce(sum(CASE WHEN p.pruned IS NULL
                                  THEN a.vec_id END), 0) AS BIGINT)
               AS sum_kept_vec_id
    FROM a LEFT JOIN p ON a.vec_id = p.pruned
    GROUP BY cid
    ORDER BY cid
"""


@register(
    "semdedup_cluster_prune",
    _SEMDEDUP_ORACLE,
    "SemDeDup-style semantic deduplication (public: Abbas et al. 2023 "
    "arXiv:2303.09540): cluster the embedding corpus, then drop near-"
    "duplicate vectors WITHIN each cluster so the quadratic compare "
    "never crosses cluster boundaries - the trick that makes semantic "
    "dedup tractable at corpus scale. Here the 8 centroids are fixed "
    "vectors (deterministic stand-in for k-means||, which is the only "
    "non-scale-relevant stage), assignment is a broadcast argmax over "
    "6dp-rounded native-expression cosines (map-side only), and the "
    "within-cluster prune keeps the min-id representative of every "
    "near-dup pair at cosine >= 0.4. The driver hash matches the "
    "O(sum c_i^2) oracle exactly, proving the clustered prune loses "
    "nothing vs the quadratic reference; at 100 TB clusters shuffle "
    "and the blocked-GEMM kernel (embedding_neardup_pairs) runs "
    "inside each.",
    tags=("dedup", "similarity", "round4"),
)
def semdedup_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from ..operators.similarity import dot, l2_norm

    # cosine() re-derives BOTH operands' norms per comparison, and the
    # aggregate/zip_with folds it is built from evaluate interpreted
    # (higher-order functions have no codegen) — in the within-cluster
    # quadratic join that is 3 interpreted 64-element traversals per
    # PAIR where one (the dot) suffices. Norms are per-VECTOR: hoist
    # them below the join (the join boundary stops CollapseProject from
    # re-inlining), so each pair costs one fold plus a multiply. The
    # hoisted l2_norm is the identical expression over the identical
    # array, so every cosine double is bit-unchanged (oracle-exact).
    emb = t(spark, sf_dir, "embeddings")
    # limit(8) restates the key-range bound structurally so the BNLJ
    # plan audit can prove the centroid broadcast is row-bounded.
    cents = F.broadcast(
        emb.filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cvec"),
            l2_norm(F.col("embedding").cast("array<double>")).alias("cnrm"),
        )
        .limit(8)
    )
    scored = (
        emb.filter(F.col("vec_id") >= 8)
        .select(
            "vec_id", "embedding",
            l2_norm(F.col("embedding").cast("array<double>")).alias("nrm"),
        )
        .crossJoin(cents)
        .select(
            "vec_id", "embedding", "nrm", "cid",
            F.round(
                (
                    dot(
                        F.col("embedding").cast("array<double>"),
                        F.col("cvec").cast("array<double>"),
                    )
                    / (F.col("nrm") * F.col("cnrm"))
                ).cast("double"),
                6,
            ).alias("cos6"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos6"), F.asc("cid"))
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "embedding", "nrm")
    )
    x = assigned.select(
        F.col("cid"), F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"), F.col("nrm").alias("nrm_a"),
    )
    b = assigned.select(
        F.col("cid"), F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"), F.col("nrm").alias("nrm_b"),
    )
    pruned = (
        x.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(
                (
                    dot(
                        F.col("ea").cast("array<double>"),
                        F.col("eb").cast("array<double>"),
                    )
                    / (F.col("nrm_a") * F.col("nrm_b"))
                ).cast("double"),
                6,
            )
            >= 0.4
        )
        .select(F.col("id_b").alias("pruned"))
        .distinct()
    )
    return (
        assigned.join(pruned, assigned["vec_id"] == pruned["pruned"], "left")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            F.count("pruned").alias("n_pruned"),
            (F.count(F.lit(1)) - F.count("pruned")).alias("n_kept"),
            F.coalesce(
                F.sum(F.when(F.col("pruned").isNull(), F.col("vec_id"))),
                F.lit(0),
            ).cast("long").alias("sum_kept_vec_id"),
        )
        .orderBy("cid")
    )


# =====================================================================
# Iterative ML: exact distributed Lloyd (k-means) iterations
# =====================================================================

_KMEANS_ORACLE = f"""
    -- Replays TWO full Lloyd iterations exactly. Points are the
    -- integer-microdegree customer coordinates; round 1 assigns to 4
    -- fixed integer quadrant seeds (distances are exact BIGINTs);
    -- round 2 assigns to the round-1 mean centroids, where the only
    -- floats are sx/n divisions and the d2 polynomial - written with
    -- IDENTICAL expression text on both engines, so every point's
    -- (correctly-rounded) d2 doubles are bit-equal and the argmin is
    -- engine-independent (ties break on centroid id). Reported sums
    -- and counts are exact integers; centroids are floor-divided.
    WITH pts AS MATERIALIZED (
        SELECT c_custkey, {_LATC} AS x, {_LONC} AS y FROM customer
    ),
    seeds AS (
        SELECT * FROM (VALUES (1, 30000000, 90000000),
                              (2, 30000000, -90000000),
                              (3, -30000000, 90000000),
                              (4, -30000000, -90000000)) s(cid, cx, cy)
    ),
    a1 AS MATERIALIZED (
        SELECT c_custkey, x, y, cid FROM (
            SELECT p.c_custkey, p.x, p.y, s.cid,
                   row_number() OVER (
                       PARTITION BY p.c_custkey
                       ORDER BY (p.x - s.cx) * (p.x - s.cx)
                              + (p.y - s.cy) * (p.y - s.cy), s.cid
                   ) AS rn
            FROM pts p, seeds s
        ) WHERE rn = 1
    ),
    c1 AS MATERIALIZED (
        SELECT cid, CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(count(*) AS BIGINT) AS n
        FROM a1 GROUP BY cid
    ),
    a2 AS MATERIALIZED (
        SELECT c_custkey, x, y, cid FROM (
            SELECT p.c_custkey, p.x, p.y, c.cid,
                   row_number() OVER (
                       PARTITION BY p.c_custkey
                       ORDER BY (p.x - (c.sx / c.n)) * (p.x - (c.sx / c.n))
                              + (p.y - (c.sy / c.n)) * (p.y - (c.sy / c.n)),
                              c.cid
                   ) AS rn
            FROM pts p, c1 c
        ) WHERE rn = 1
    )
    SELECT cid,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(x) AS BIGINT) AS sum_lat,
           CAST(sum(y) AS BIGINT) AS sum_lon,
           -- explicit floor on a double quotient: Spark's integer div
           -- truncates toward zero while // floors, and these sums CAN
           -- be negative - floor(double) is the semantics both engines
           -- share (sums < 2^53, so the quotient is exact enough)
           CAST(floor(CAST(sum(x) AS BIGINT) / count(*)) AS BIGINT)
               AS cent_lat,
           CAST(floor(CAST(sum(y) AS BIGINT) / count(*)) AS BIGINT)
               AS cent_lon
    FROM a2
    GROUP BY cid
    ORDER BY cid
"""


@register(
    "kmeans_lloyd_exact",
    _KMEANS_ORACLE,
    "Distributed k-means: two FULL Lloyd iterations, hash-exact - the "
    "iterative-algorithm capability (MLlib KMeans is seeded/rows-only; "
    "this is the falsifiable twin). Fully declarative: each round "
    "cross-joins the 4-row centroid table (broadcast - points never "
    "shuffle for assignment), ranks by squared distance with "
    "row_number, and re-aggregates exact integer sums; NOTHING visits "
    "the driver, so rounds chain as plain DataFrame ops (at 100 TB: "
    "per-round shuffle is the k-row centroid aggregate only). "
    "Exactness: round-1 seeds are integer literals (BIGINT "
    "distances); round-2 centroids are rationals whose sx/n division "
    "and d2 polynomial are written with identical expression text on "
    "both engines, so the correctly-rounded doubles are bit-equal "
    "point-by-point and the argmin cannot drift (ties break on cid). "
    "Output: exact member counts/coordinate sums and floor-divided "
    "centroids per cluster.",
    tags=("ml", "iterative", "round4"),
)
def kmeans_lloyd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pts = t(spark, sf_dir, "customer").select(
        "c_custkey", F.expr(_LATC).alias("x"), F.expr(_LONC).alias("y")
    )
    seeds = spark.createDataFrame(
        [(1, 30_000_000, 90_000_000), (2, 30_000_000, -90_000_000),
         (3, -30_000_000, 90_000_000), (4, -30_000_000, -90_000_000)],
        "cid long, cx long, cy long",
    )

    def assign(points: DataFrame, cents: DataFrame, d2_expr: str) -> DataFrame:
        w = Window.partitionBy("c_custkey").orderBy(
            F.expr(d2_expr), F.col("cid")
        )
        return (
            points.crossJoin(F.broadcast(cents))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("c_custkey", "x", "y", "cid")
        )

    a1 = assign(
        pts, seeds,
        "(x - cx) * (x - cx) + (y - cy) * (y - cy)",
    )
    # cid domain = |seeds| = 4; limit(4) restates that structurally so
    # the BNLJ plan audit can prove the centroid broadcast is bounded.
    c1 = a1.groupBy("cid").agg(
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).limit(4)
    a2 = assign(
        pts, c1,
        "(x - (sx / n)) * (x - (sx / n)) + (y - (sy / n)) * (y - (sy / n))",
    )
    return (
        a2.groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sum("x").cast("long").alias("sum_lat"),
            F.sum("y").cast("long").alias("sum_lon"),
        )
        .select(
            "cid", "n_points", "sum_lat", "sum_lon",
            # floor of the double quotient, NOT `div`: Spark div
            # truncates toward zero and sums can be negative
            F.floor(F.col("sum_lat") / F.col("n_points"))
            .cast("long").alias("cent_lat"),
            F.floor(F.col("sum_lon") / F.col("n_points"))
            .cast("long").alias("cent_lon"),
        )
        .orderBy("cid")
    )


# =====================================================================
# Dedup: SimHash with a PORTABLE hash (closes the rows-only gap)
# =====================================================================

_SH_MASK = (1 << 56) - 1  # fold mod 2^56: acc*31 stays under 2^63
_SH_BITS = 32


def _simhash_token_hash(engine: str) -> str:
    """Per-token polynomial rolling hash, identical math on both
    engines: fold (acc*31 + ascii(char)) & (2^56-1) over the token's
    characters from acc=7. Only the list-function NAMES differ."""
    if engine == "spark":
        return (
            "aggregate(filter(split(tok, ''), x -> x != ''), 7L, "
            f"(acc, c) -> (acc * 31 + ascii(c)) & {_SH_MASK})"
        )
    return (
        "list_reduce(list_prepend(CAST(7 AS BIGINT), "
        "list_transform(list_filter(string_split_regex(tok, ''), "
        "x -> x <> ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(acc, c) -> (acc * 31 + c) & {_SH_MASK})"
    )


def _simhash_sig_expr() -> str:
    """Signature from the 32 per-bit vote sums v0..v31 (same text both
    engines): bit b set iff the +-1 vote total is positive."""
    terms = [
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(_SH_BITS)
    ]
    return "(" + " + ".join(terms) + ")"


def _simhash_vote_sql(b: int) -> str:
    return f"SUM(2 * ((h >> {b}) & 1) - 1) AS v{b}"


_SIMHASH_PORTABLE_ORACLE = f"""
    -- Full replay of the portable SimHash: whitespace tokens (empties
    -- filtered, the repo-wide convention), a polynomial rolling hash
    -- per token folded with IDENTICAL integer ops on both engines
    -- (the engine twin simhash_dedup uses xxhash64, which DuckDB
    -- lacks - THIS query is the falsifiable variant), +-1 bit votes
    -- over 32 signature bits per token occurrence, majority -> bit.
    -- Groups with >= 2 members are the near-dup candidate classes.
    WITH tok AS MATERIALIZED (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS tok
        FROM documents
    ),
    h AS MATERIALIZED (
        SELECT doc_id, {_simhash_token_hash('duckdb')} AS h FROM tok
    ),
    votes AS MATERIALIZED (
        SELECT doc_id, {', '.join(_simhash_vote_sql(b) for b in range(_SH_BITS))}
        FROM h GROUP BY doc_id
    ),
    sig AS MATERIALIZED (
        SELECT doc_id, {_simhash_sig_expr()} AS signature FROM votes
    )
    SELECT CAST(signature AS BIGINT) AS signature,
           CAST(count(*) AS BIGINT) AS n_docs,
           array_to_string(list_sort(list(doc_id)), ',') AS member_ids
    FROM sig
    GROUP BY signature
    HAVING count(*) >= 2
    ORDER BY signature
"""


@register(
    "simhash_portable_dedup",
    _SIMHASH_PORTABLE_ORACLE,
    "SimHash near-dup grouping with a PORTABLE hash, making the "
    "SimHash family driver-falsifiable (the xxhash64 twin "
    "simhash_dedup stays rows-only because no independent engine can "
    "replay xxhash64; this variant swaps in a polynomial rolling hash "
    "- fold (acc*31 + ascii(c)) & (2^56-1) - that Spark evaluates as "
    "a native aggregate() lambda and DuckDB as list_reduce, bit-for-"
    "bit identical). 32 signature bits from +-1 majority votes per "
    "token occurrence; docs grouped by exact signature; classes with "
    ">= 2 members emitted with sorted member lists. Whole pipeline is "
    "native expressions (no UDF): explode tokens -> fold -> 32 "
    "conditional sums -> signature groupBy. Scale: signatures (8 "
    "bytes) shuffle, documents never pairwise-compare - same posture "
    "as the banded-MinHash tier.",
    tags=("dedup", "round4"),
)
def simhash_portable_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tokens

    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    h = tok.select(
        "doc_id", F.expr(_simhash_token_hash("spark")).alias("h")
    )
    votes = h.groupBy("doc_id").agg(
        *[
            F.sum(F.expr(f"2 * ((h >> {b}) & 1) - 1")).alias(f"v{b}")
            for b in range(_SH_BITS)
        ]
    )
    sig = votes.select(
        "doc_id", F.expr(_simhash_sig_expr()).cast("long").alias("signature")
    )
    return (
        sig.groupBy("signature")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(
                F.array_sort(F.collect_list("doc_id")).cast("array<string>"),
                ",",
            ).alias("member_ids"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("signature")
    )


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
