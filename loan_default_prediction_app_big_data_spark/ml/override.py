"""A18: rule-based prediction override.

The reference forces a rejection (class 0) whenever
``income < 30000 AND loan_amount > 200000 AND property_value < 100000``
regardless of the model's output (reference app.py:186-194; thresholds
at app.py:187-189). Engine form: the rule and the verdict are each one
Spark SQL expression text (``override_sql``, ``verdict_sql``), applied
after ``model.transform`` — a map-side projection, no shuffle,
scale-free. The column helpers below wrap that text in ``F.expr``, and
single-row serving applies the same text with ``selectExpr``: one
parse on the JVM instead of a py4j round trip per column operator.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class OverrideThresholds:
    low_income: float = 30_000.0  # reference app.py:187
    high_loan: float = 200_000.0  # reference app.py:188
    low_property_value: float = 100_000.0  # reference app.py:189


def _double_sql(x: float) -> str:
    """A DOUBLE literal that Spark parses back to exactly ``x``:
    ``repr`` is the shortest round-tripping decimal, and Java's
    ``parseDouble`` rounds it to the same double."""
    x = float(x)
    if math.isfinite(x):
        return f"{x!r}D"
    return f"CAST('{x!r}' AS DOUBLE)"


def _predicate_sql(th: OverrideThresholds = OverrideThresholds()) -> str:
    """The conjunctive predicate of reference app.py:191-193, as SQL."""
    return (
        f"(income < {_double_sql(th.low_income)}"
        f" AND loan_amount > {_double_sql(th.high_loan)}"
        f" AND property_value < {_double_sql(th.low_property_value)})"
    )


def override_sql(
    prediction_col: str = "prediction", th: OverrideThresholds = OverrideThresholds()
) -> str:
    """Post-model override (reference app.py:194 ``predicted_class = 0``)."""
    return f"CASE WHEN {_predicate_sql(th)} THEN 0.0D ELSE `{prediction_col}` END"


def verdict_sql(prediction_col: str = "final_prediction") -> str:
    """Class → verdict text (reference app.py:195-202)."""
    return (
        f"CASE WHEN `{prediction_col}` = 1.0D"
        " THEN 'The loan is likely to be sanctioned.'"
        " ELSE 'The loan is likely to be rejected.' END"
    )


def apply_override(
    scored: DataFrame,
    prediction_col: str = "prediction",
    output_col: str = "final_prediction",
    th: OverrideThresholds = OverrideThresholds(),
) -> DataFrame:
    """Add ``output_col``: ``override_sql`` over ``prediction_col``."""
    return scored.withColumn(output_col, F.expr(override_sql(prediction_col, th)))
