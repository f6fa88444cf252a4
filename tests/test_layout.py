"""Layout, geospatial, and time-series operator tests (round-4 s4).

The oracle queries pin VALUES; these tests pin the PLANS and check the
geo/timeseries kernels against independent pure-Python references
(textbook geohash bisection, brute-force polygon/NN, a hand-rolled
Holt loop) rather than against the SQL twins they ship with.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from loan_default_prediction_app_big_data_spark.operators.geo import (
    GEOHASH32,
    explode_neighbor_cells,
    geohash_sql,
    point_in_polygon_sql,
)
from loan_default_prediction_app_big_data_spark.plans.relational import (
    _POLYGON,
)
from loan_default_prediction_app_big_data_spark.plans.connectors import (
    build_bucketed_join,
)


def test_bucketed_join_plan_has_no_exchange(spark, sf_dir):
    """The whole point of co-bucketed tables: the sort-merge join must
    read bucket-local with ZERO Exchange nodes in the physical plan."""
    result, names = build_bucketed_join(spark, sf_dir)
    try:
        plan = result._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        # The final segment aggregate/sort still shuffles (tiny, 5
        # groups); the claim is about the JOIN: nothing at or below the
        # SortMergeJoin may exchange, and both scans must read
        # bucket-aware.
        below_join = plan[plan.index("SortMergeJoin"):]
        assert "Exchange" not in below_join, plan
        assert plan.count("Bucketed: true") == 2, plan
        # and the values still equal the plain (shuffled) join
        plain = (
            spark.table(names[0])
            .join(spark.table(names[1]), F.expr("o_custkey = c_custkey"))
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_orders"))
        )
        got = {r["c_mktsegment"]: r["n_orders"] for r in result.collect()}
        want = {r["c_mktsegment"]: r["n_orders"] for r in plain.collect()}
        assert got == want
    finally:
        for n in names:
            spark.sql(f"DROP TABLE IF EXISTS {n}")


def _geohash_reference(lat_deg: float, lon_deg: float, length: int = 5) -> str:
    """Textbook geohash: alternating range bisection, lon first."""
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    bits, out, even = 0, [], True
    acc = 0
    for _ in range(length * 5):
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon_deg >= mid:
                acc = (acc << 1) | 1
                lon_lo = mid
            else:
                acc = acc << 1
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat_deg >= mid:
                acc = (acc << 1) | 1
                lat_lo = mid
            else:
                acc = acc << 1
                lat_hi = mid
        even = not even
        bits += 1
        if bits == 5:
            out.append(GEOHASH32[acc])
            acc, bits = 0, 0
    return "".join(out)


def test_geohash_closed_form_matches_bisection(spark):
    """The closed-form integer geohash must equal the 25-step textbook
    bisection on a spread of points (incl. hemisphere boundaries)."""
    pts = [
        (0, 0), (57_649_000, -3_291_000), (-33_865_000, 151_209_000),
        (89_999_999, 179_999_999), (-90_000_000, -180_000_000),
        (1, -1), (-45_000_000, 45_000_000), (12_345_678, -87_654_321),
    ]
    df = spark.createDataFrame(pts, "lat long, lon long")
    got = [
        r[0]
        for r in df.select(
            F.expr(geohash_sql("lat", "lon", "div"))
        ).collect()
    ]
    want = [_geohash_reference(la / 1e6, lo / 1e6) for la, lo in pts]
    assert got == want


def test_point_in_polygon_matches_shoelace_reference(spark):
    """Ray-cast SQL vs an independent pure-Python even-odd ray cast
    (float version) on a grid of probe points."""

    def ref_inside(px, py):
        n, inside = len(_POLYGON), False
        for k in range(n):
            x1, y1 = _POLYGON[k]
            x2, y2 = _POLYGON[(k + 1) % n]
            if (y1 > py) != (y2 > py):
                xi = x1 + (x2 - x1) * (py - y1) / (y2 - y1)
                if px < xi:
                    inside = not inside
        return inside

    import random

    rng = random.Random(42)
    pts = [
        (rng.randrange(-180_000_000, 180_000_000),
         rng.randrange(-60_000_000, 60_000_000))
        for _ in range(500)
    ]
    df = spark.createDataFrame(pts, "lon long, lat long")
    got = [
        bool(r[0])
        for r in df.select(
            F.expr(point_in_polygon_sql("lon", "lat", _POLYGON))
        ).collect()
    ]
    want = [ref_inside(px, py) for px, py in pts]
    assert got == want
    assert 20 < sum(want) < 480  # polygon is neither empty nor everything


def test_grid_blocking_is_lossless_vs_bruteforce(spark, sf_dir):
    """The 3x3-neighbor equi-join must find exactly the pairs the
    all-pairs join finds under d2 <= R^2 (cell size == radius)."""
    from loan_default_prediction_app_big_data_spark.plans.relational import (
        _GEO_CELL,
        _GEO_R2,
        _LATC,
        _LATS,
        _LONC,
        _LONS,
    )
    from loan_default_prediction_app_big_data_spark.plans._core import t

    cu = t(spark, sf_dir, "customer").select(
        "c_custkey", F.expr(_LATC).alias("lat"), F.expr(_LONC).alias("lon")
    ).limit(300).cache()
    su = t(spark, sf_dir, "supplier").select(
        "s_suppkey", F.expr(_LATS).alias("s_lat"), F.expr(_LONS).alias("s_lon")
    ).cache()

    brute = (
        cu.crossJoin(su)
        .withColumn(
            "d2",
            (F.col("lat") - F.col("s_lat")) * (F.col("lat") - F.col("s_lat"))
            + (F.col("lon") - F.col("s_lon")) * (F.col("lon") - F.col("s_lon")),
        )
        .filter(F.col("d2") <= _GEO_R2)
        .select("c_custkey", "s_suppkey")
    )
    cug = cu.withColumn(
        "cell_lat", F.expr(f"(lat + 90000000) div {_GEO_CELL}")
    ).withColumn("cell_lon", F.expr(f"(lon + 180000000) div {_GEO_CELL}"))
    sug = su.withColumn(
        "cell_lat", F.expr(f"(s_lat + 90000000) div {_GEO_CELL}")
    ).withColumn("cell_lon", F.expr(f"(s_lon + 180000000) div {_GEO_CELL}"))
    blocked = (
        cug.join(explode_neighbor_cells(sug, "cell_lat", "cell_lon"),
                 ["cell_lat", "cell_lon"])
        .withColumn(
            "d2",
            (F.col("lat") - F.col("s_lat")) * (F.col("lat") - F.col("s_lat"))
            + (F.col("lon") - F.col("s_lon")) * (F.col("lon") - F.col("s_lon")),
        )
        .filter(F.col("d2") <= _GEO_R2)
        .select("c_custkey", "s_suppkey")
    )
    b = {(r[0], r[1]) for r in brute.collect()}
    g = {(r[0], r[1]) for r in blocked.collect()}
    assert b == g
    assert len(b) > 0


def test_neighbor_explode_is_9x(spark):
    df = spark.createDataFrame([(5, 7)], "cell_lat long, cell_lon long")
    out = explode_neighbor_cells(df, "cell_lat", "cell_lon").collect()
    assert len(out) == 9
    assert {(r["cell_lat"], r["cell_lon"]) for r in out} == {
        (5 + a, 7 + b) for a in (-1, 0, 1) for b in (-1, 0, 1)
    }


def test_holt_smoother_matches_reference_loop(spark):
    """applyInPandas Holt vs a hand-rolled Python loop, bit-exact."""
    from loan_default_prediction_app_big_data_spark.operators.timeseries import (
        holt_linear_smooth,
    )

    xs = [3.0, 5.0, 4.0, 8.0, 2.0, 9.0, 7.0, 1.0]
    rows = [("a", i, x) for i, x in enumerate(xs)]
    rows += [("b", i, x * 2 + 1) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "k string, i long, x double")
    got = {
        r["k"]: (r["n_points"], r["level"], r["trend"], r["forecast"])
        for r in holt_linear_smooth(df, ["k"], "i", "x", horizon=7).collect()
    }

    def ref(series):
        level, trend = series[0], 0.0
        for x in series[1:]:
            nl = (x + (level + trend)) * 0.5
            trend = ((nl - level) + trend) * 0.5
            level = nl
        return len(series), level, trend, level + 7 * trend

    assert got["a"] == ref(xs)
    assert got["b"] == ref([x * 2 + 1 for x in xs])


def test_zorder_pruning_structural_bounds(spark, sf_dir):
    """The two structural booleans must hold (they are guarantees of
    the interleave, not data accidents), and the z box files must be
    exactly 1 (the box pins all 6 leading z bits)."""
    from loan_default_prediction_app_big_data_spark.plans.registry import REGISTRY

    row = REGISTRY["zorder_pruning_stats"].fn(spark, sf_dir).first()
    assert row["box_z_at_most_lin"]
    assert row["band_z_at_most_8"]
    if row["n_box"] > 0:
        assert row["z_files_box"] == 1
    assert row["z_files_band"] <= 8
