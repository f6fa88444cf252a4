"""Row-level relational operators (SURVEY.md §2 A6, A7, A18, A22-A24).

All are single narrow-dependency projections/filters — no shuffle, fully
pushed into the parquet scan by Catalyst (filters land in
``PushedFilters``, column pruning in ``ReadSchema``). They scale to
100 TB trivially because they are embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def project(df: DataFrame, cols: list[str]) -> DataFrame:
    """A7 projection (reference app.py:69-70) — column pruning reaches
    the scan."""
    return df.select(*cols)


def null_drop(df: DataFrame, subset: list[str]) -> DataFrame:
    """A23 null-drop filter (reference app.py:217 ``dropna(subset=...)``)."""
    return df.na.drop(subset=subset)


def clamp_positive(col: Column, floor: float = 0.1) -> Column:
    """A24 scalar conditional clamp (reference app.py:220's row lambda),
    lowered to a native JVM expression — no Python UDF in the hot path."""
    return F.when(col > 0, col).otherwise(F.lit(floor))


def preview(df: DataFrame, n: int = 5) -> DataFrame:
    """A6 limit/head (reference spark.py:35, app.py:60). ``limit`` plans
    ``CollectLimitExec`` — early-exits the scan, never a full pass."""
    return df.limit(n)


def deterministic_sample(df: DataFrame, key: Column, modulus: int, keep: int) -> DataFrame:
    """Deterministic pseudo-sample: ``hash-bucket(key) < keep``.

    The reference samples exactly-n with a pinned seed
    (app.py:214 ``df.sample(n=100, random_state=42)``); Spark's
    ``sample(fraction, seed)`` is per-partition Bernoulli and not
    engine-portable, so the oracle-checkable engine form buckets a key
    column by modulus — stable under re-partitioning and re-ordering,
    which seeded sampling at 100 TB is not. ``pmod`` keeps the bucket
    non-negative for signed keys (Spark's ``%`` preserves sign, which
    would admit every negative hash).
    """
    return df.filter(F.pmod(key, F.lit(modulus)) < keep)


def exact_n_sample(df: DataFrame, n: int, seed: int = 42) -> DataFrame:
    """A22 exact-n random sample: ``orderBy(rand(seed)).limit(n)``.

    Spark plans TakeOrderedAndProject — a per-partition top-n then a
    driver merge of n*partitions rows, NOT a global sort; safe at scale
    for preview-sized n.
    """
    return df.orderBy(F.rand(seed)).limit(n)


def top_k(df: DataFrame, order_cols: list[Column], k: int) -> DataFrame:
    """Sorted top-k → ``TakeOrderedAndProject`` (no full global sort)."""
    return df.orderBy(*order_cols).limit(k)


def _range_offsets(
    df: DataFrame,
    order_cols: list[str | Column],
    measure: Column,
    n_partitions: int,
) -> DataFrame:
    """The shared first phase of the distributed global scans: ``df``
    range-partitioned on ``order_cols`` (the same sort-shuffle any
    global ordering pays), plus ``__pid`` (its range partition) and
    ``__off``, the exclusive prefix of the per-partition aggregate
    ``measure`` over the partitions before it. The per-partition totals
    are one row per partition (metadata scale), prefix-summed by a tiny
    window over n_partitions rows and broadcast back. Callers add their
    per-partition window over ``__pid`` and then drop both columns.
    """
    from pyspark.sql import Window as W

    ranged = df.repartitionByRange(n_partitions, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    ranged = ranged.localCheckpoint(eager=True)  # data-scale; freeze sampled bounds
    totals = ranged.groupBy("__pid").agg(measure.alias("__t"))
    w_meta = W.orderBy("__pid").rowsBetween(W.unboundedPreceding, W.currentRow)
    offsets = totals.withColumn(
        "__off", (F.sum("__t").over(w_meta) - F.col("__t")).cast("long")
    ).select("__pid", "__off")
    return ranged.join(F.broadcast(offsets), "__pid")


def global_row_number(
    df: DataFrame, order_col: str, n_partitions: int = 32
) -> DataFrame:
    """Global 1-based row numbering WITHOUT a single-partition window
    (the classic scale mistake: ``row_number().over(orderBy(...))``
    with no partitionBy funnels every row through one task).

    Two-phase, fully distributed (``_range_offsets`` with a count):
    per-partition row counts become broadcast rank offsets, and the
    global row number = per-partition ``row_number`` + offset.
    Requires a unique order column for a deterministic numbering.
    """
    from pyspark.sql import Window as W

    w_local = W.partitionBy("__pid").orderBy(order_col)
    return (
        _range_offsets(df, [order_col], F.count(F.lit(1)), n_partitions)
        .withColumn("rn", (F.row_number().over(w_local) + F.col("__off")).cast("long"))
        .drop("__pid", "__off")
    )


def global_prefix_sum(
    df: DataFrame,
    order_cols: list[str | Column],
    value_col: str,
    out_col: str = "cumsum",
    n_partitions: int = 32,
) -> DataFrame:
    """Global running sum of ``value_col`` in ``order_cols`` order
    WITHOUT a single-partition window — the distributed sweep-line /
    cumulative primitive (``_range_offsets`` with a sum): per-partition
    value totals become broadcast offsets, and the running sum =
    per-partition cumulative window + offset.

    Exact for integer/decimal values (associative partials); for
    floats the summation order is pinned by the range partitioning,
    deterministic for a fixed layout.
    """
    from pyspark.sql import Window as W

    w_local = (
        W.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        _range_offsets(df, order_cols, F.sum(value_col), n_partitions)
        .withColumn(
            out_col,
            (F.sum(value_col).over(w_local) + F.col("__off")).cast("long"),
        )
        .drop("__pid", "__off")
    )
