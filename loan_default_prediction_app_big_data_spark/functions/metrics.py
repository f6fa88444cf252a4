"""SQL-expressible twins of the MLlib evaluators (SURVEY.md §2 A19/A20).

The reference evaluates with BinaryClassificationEvaluator /
MulticlassClassificationEvaluator (reference spark.py:71-78). These
twins compute the identical quantities with plain DataFrame ops so any
engine (and the DuckDB oracle) can verify them:

- ROC-AUC == Mann-Whitney U statistic normalized: with average ranks r
  over the score, AUC = (Σ_{y=1} r - n₁(n₁+1)/2) / (n₁·n₀).
- accuracy == mean of the prediction==label indicator.

The AUC rank computation is a TWO-PHASE distributed rank-sum — no
single-partition window anywhere (VERDICT r1 item 6):

1. ``operators.relational.global_row_number`` on the score: a range
   partitioning (equal scores land in one partition by the range
   partitioner's contract), per-partition row counts prefix-summed in
   the plan into broadcast offsets, global rank = local
   ``row_number`` + offset.
2. Tie groups then average via a groupBy on the score: ranks in a tie
   group are consecutive, so avg = (min+max)/2.

Every term of the final formula is integer-valued or half-integer in
double precision, so the result is EXACT (no float-order sensitivity)
and hash-comparable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.relational import global_row_number


def auc_rank_sum_df(
    scored: DataFrame, label_col: str, score_col: str, n_partitions: int = 32
) -> DataFrame:
    """1-row DataFrame {auc: double} — exact ROC-AUC via the two-phase
    distributed rank-sum; ties get average ranks."""
    base = scored.select(
        F.col(label_col).cast("double").alias("y"),
        F.col(score_col).cast("double").alias("p"),
    )
    # ties are numbered arbitrarily inside their group; the groupBy
    # below averages them
    ranked = global_row_number(base, "p", n_partitions).withColumnRenamed(
        "rn", "grank"
    )
    # Tie-group averaging: ranks within one p value are consecutive, so
    # the average rank is (min+max)/2 — a groupBy (map-side partial
    # agg), not a per-row window.
    groups = ranked.groupBy("p").agg(
        F.min("grank").alias("rmin"),
        F.max("grank").alias("rmax"),
        F.sum("y").alias("pos"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return groups.agg(
        (
            (
                F.sum(F.col("pos") * (F.col("rmin") + F.col("rmax")) / 2.0)
                - (F.sum("pos") * (F.sum("pos") + 1)) / 2
            )
            / (F.sum("pos") * (F.sum("cnt") - F.sum("pos")))
        ).alias("auc")
    )


def auc_rank_sum(scored: DataFrame, label_col: str, score_col: str) -> float:
    """Exact ROC-AUC via rank-sum; ties get average ranks."""
    return float(auc_rank_sum_df(scored, label_col, score_col).first()["auc"])


def accuracy_indicator(
    scored: DataFrame, label_col: str, prediction_col: str
) -> float:
    """Exact accuracy as avg(prediction == label)."""
    row = scored.agg(
        F.avg(
            (F.col(prediction_col) == F.col(label_col).cast("double")).cast("double")
        ).alias("acc")
    ).first()
    return float(row["acc"])
