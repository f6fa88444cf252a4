"""Pinned schemas.

The reference infers every schema (reference spark.py:29 ``inferSchema=True``
— a full extra pass over the CSV; reference app.py:32 pandas inference).
At 100 TB an inference pass is an extra full scan, so the engine pins
StructTypes and keeps inference only as an explicit opt-in
(:func:`sources.readers.read_csv`).

``LOAN_SCHEMA`` mirrors the 34-column ``Loan_Default.csv`` profile
(SURVEY.md §1.3). Fixture schemas mirror ``FIXTURES.md`` §2.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- loan table (reference Loan_Default.csv, header at line 1) -----------

#: Feature columns used by both reference paths (spark.py:45, app.py:69).
LOAN_FEATURES = [
    "loan_amount",
    "rate_of_interest",
    "property_value",
    "income",
    "Credit_Score",
    "LTV",
]

#: Columns mean-imputed by both paths (spark.py:38, app.py:34).
LOAN_IMPUTED = ["rate_of_interest", "property_value", "income", "LTV"]

#: The label column (spark.py:62, app.py:70).
LOAN_LABEL = "Status"

LOAN_SCHEMA = T.StructType(
    [
        T.StructField("ID", T.IntegerType(), False),
        T.StructField("year", T.IntegerType(), False),
        T.StructField("loan_limit", T.StringType(), True),
        T.StructField("Gender", T.StringType(), False),
        T.StructField("approv_in_adv", T.StringType(), True),
        T.StructField("loan_type", T.StringType(), False),
        T.StructField("loan_purpose", T.StringType(), False),
        T.StructField("Credit_Worthiness", T.StringType(), False),
        T.StructField("open_credit", T.StringType(), False),
        T.StructField("business_or_commercial", T.StringType(), False),
        T.StructField("loan_amount", T.IntegerType(), False),
        T.StructField("rate_of_interest", T.DoubleType(), True),
        T.StructField("Interest_rate_spread", T.DoubleType(), True),
        T.StructField("Upfront_charges", T.DoubleType(), True),
        T.StructField("term", T.IntegerType(), False),
        T.StructField("Neg_ammortization", T.StringType(), False),
        T.StructField("interest_only", T.StringType(), False),
        T.StructField("lump_sum_payment", T.StringType(), False),
        T.StructField("property_value", T.IntegerType(), True),
        T.StructField("construction_type", T.StringType(), False),
        T.StructField("occupancy_type", T.StringType(), False),
        T.StructField("Secured_by", T.StringType(), False),
        T.StructField("total_units", T.StringType(), False),
        T.StructField("income", T.IntegerType(), True),
        T.StructField("credit_type", T.StringType(), False),
        T.StructField("Credit_Score", T.IntegerType(), False),
        T.StructField("co-applicant_credit_type", T.StringType(), False),
        T.StructField("age", T.StringType(), True),
        T.StructField("submission_of_application", T.StringType(), False),
        T.StructField("LTV", T.DoubleType(), True),
        T.StructField("Region", T.StringType(), False),
        T.StructField("Security_Type", T.StringType(), False),
        T.StructField("Status", T.IntegerType(), False),
        T.StructField("dtir1", T.IntegerType(), True),
    ]
)

# --- driver fixture tables (FIXTURES.md §2) -------------------------------

FIXTURE_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
