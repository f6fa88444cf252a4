"""Sources & sinks.

Covers the reference's I/O surface (SURVEY.md §2 A1-A4) plus the parquet
path the fixture harness needs:

- A1/A2 CSV scan (reference spark.py:29, app.py:30-32): pinned schema by
  default (no inference pass), ``infer_schema=True`` opt-in for parity.
- A3 CSV sink (reference app.py:43-45).
- parquet read/write — the engine's internal format (columnar, predicate
  pushdown, partition pruning; what 100 TB actually lives in).
- binary / multimodal ingestion (``spark.read.format('binaryFile')``).

Sinks write parquet partitioned-by caller-chosen keys so downstream scans
get partition pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import FIXTURE_TABLES, LOAN_SCHEMA


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    infer_schema: bool = False,
    header: bool = True,
) -> DataFrame:
    """CSV scan (A1/A2). Pin ``schema`` in production — ``infer_schema``
    replays the reference's extra full pass (reference spark.py:29)."""
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_loan_csv(
    spark: SparkSession, path: str, infer_schema: bool = False
) -> DataFrame:
    """The loan table with its pinned 34-column schema (SURVEY.md §1.3)."""
    return read_csv(
        spark, path, schema=None if infer_schema else LOAN_SCHEMA, infer_schema=infer_schema
    )


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink (A3, reference app.py:43-45)."""
    df.write.mode(mode).option("header", True).csv(path)


def ns_long_to_timestamp(col_name: str) -> F.Column:
    """Nanosecond epoch (long) → microsecond TimestampType by INTEGER
    division — double division would round ns within ~128 ns of a µs
    boundary for epochs above 2^53, mis-bucketing events at exact
    window edges."""
    return F.timestamp_micros(F.expr(f"`{col_name}` div 1000"))


#: Session confs every fixture read needs. ``session.get_spark`` builds
#: them in; ``apply_fixture_read_conf`` sets them for sessions built
#: elsewhere (a default-config session), once and for good.
FIXTURE_READ_CONF = {
    # Nanosecond parquet timestamps scan as INT64 (converted below by
    # ns_long_to_timestamp) instead of failing the read.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Fixture timestamps are naive-UTC; pin the session so epoch math
    # (unix_timestamp/unix_micros) is timezone-stable and matches the
    # DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Naive parquet timestamps must scan as TIMESTAMP (LTZ): NTZ is
    # rejected by withWatermark/unix_micros, and a cast above the scan
    # would block predicate pushdown on date filters.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def apply_fixture_read_conf(spark: SparkSession) -> None:
    """Set ``FIXTURE_READ_CONF`` on the session. Unlike a query's
    ``session.scoped_conf`` change this is permanent: the read plans
    it shapes are memoized per session and must keep reading alike."""
    for k, v in FIXTURE_READ_CONF.items():
        spark.conf.set(k, v)


def read_parquet_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One fixture table from a scale-factor directory.

    The ``events`` fixture stores nanosecond timestamps, which Spark's
    parquet reader only accepts as INT64 via the ``nanosAsLong`` escape
    hatch; we convert back to a (microsecond) TimestampType column so
    every downstream operator sees a real timestamp. The conversion is
    truncation (ns → µs), matching whole-second ``unix_timestamp``
    semantics used by the oracle comparisons.
    """
    apply_fixture_read_conf(spark)
    # Metastore-style plan cache: spark.read.parquet re-lists the path
    # and re-reads footers for schema on EVERY call, all driver-side.
    # Fixture tables are immutable within a session, and a bench pass
    # makes ~770 query executions x 2-4 table reads each — memoizing
    # the (immutable) DataFrame plan removes thousands of redundant
    # listings (VERDICT r8 item 4b, per-query fixed overhead). Keyed
    # by applicationId so a DataFrame never outlives its session.
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_PLAN_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", ns_long_to_timestamp("ts"))
        elif isinstance(field.dataType, T.TimestampNTZType):
            # Belt-and-suspenders for sessions created before the conf
            # took effect (schema already cached): UTC session makes the
            # cast value-preserving.
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    if len(_TABLE_PLAN_CACHE) > 256:  # stale-session entries
        _TABLE_PLAN_CACHE.clear()
    _TABLE_PLAN_CACHE[key] = df
    return df


#: (applicationId, sf_dir, table) -> DataFrame plan. See
#: read_parquet_table; cleared wholesale past 256 entries so plans
#: from stopped sessions cannot accumulate.
_TABLE_PLAN_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def fixture_static_schema(
    spark: SparkSession, sf_dir: str, name: str
) -> T.StructType:
    """The RAW parquet schema of a fixture table (pre ts-conversion),
    memoized like the table plans — streaming readers need it to pin
    ``readStream.schema(...)`` and were paying a footer read per call."""
    key = (spark.sparkContext.applicationId, sf_dir, f"{name}#static")
    cached = _STATIC_SCHEMA_CACHE.get(key)
    if cached is None:
        apply_fixture_read_conf(spark)
        cached = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
        if len(_STATIC_SCHEMA_CACHE) > 256:
            _STATIC_SCHEMA_CACHE.clear()
        _STATIC_SCHEMA_CACHE[key] = cached
    return cached


_STATIC_SCHEMA_CACHE: dict[tuple[str, str, str], T.StructType] = {}


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Load fixture tables as a dict of DataFrames."""
    return {n: read_parquet_table(spark, sf_dir, n) for n in (names or FIXTURE_TABLES)}


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Parquet sink. ``partition_by`` on a low-cardinality key gives every
    later scan partition pruning; at 100 TB prefer date/tenant keys."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_binary_files(spark: SparkSession, path: str, glob: str = "*") -> DataFrame:
    """Multimodal ingestion: opaque payload bytes + file metadata.

    Produces columns (path, modificationTime, length, content) — the
    BinaryType ``content`` column is the engine's multimodal payload
    representation (SURVEY.md §2.C).
    """
    return (
        spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)
    )


def viz_feed(df: DataFrame, cols: list[str], n: int = 100, seed: int = 42):
    """A25 visualization feed (reference app.py:214-245): seeded
    exact-n sample of a column subset, delivered to the client as a
    pandas DataFrame over Arrow.

    This is the ONLY sanctioned driver-side materialization besides
    `limit` previews — bounded to n rows by construction. Rendering
    (plotly in the reference) happens outside the engine.
    """
    from pyspark.sql import functions as F

    return (
        df.select(*cols)
        .na.drop(subset=cols)
        .orderBy(F.rand(seed))
        .limit(n)
        .toPandas()
    )


def read_delta(spark: SparkSession, path: str) -> DataFrame:
    """Delta Lake source via the native connector when the delta-spark
    jars are present, else via the pure-Python transaction-log reader
    (sources/delta_py.py — log replay in Python, data on the native
    parquet scan; see delta_time_travel_roundtrip for the oracle-proven
    snapshot/time-travel semantics)."""
    try:
        return spark.read.format("delta").load(path)
    except Exception:  # jars absent in this image — protocol fallback
        from .delta_py import read_delta as _read_delta_py

        return _read_delta_py(spark, path)


def file_roundtrip(
    spark: SparkSession, df: DataFrame, fmt: str, path: str
) -> DataFrame:
    """Write ``df`` in ``fmt`` (csv/json/orc/parquet) and read it back
    with the SAME pinned schema — the lossless-roundtrip contract every
    interchange format must honor (values, not just shapes; the
    registry's roundtrip queries hash-verify the read-back against the
    parquet original via DuckDB).

    CSV gets a header so files are self-describing; all formats read
    with an explicit schema — inference is a second full pass and can
    widen types (A1's lesson, reference spark.py:29). The read-back
    DataFrame is a fresh scan: formats with footers/stripes (orc,
    parquet) keep predicate pushdown; text formats (csv, json) are
    parsed in one vectorized pass. At 100 TB you'd also
    ``partitionBy`` a date key here — sources/layout.py covers that.
    """
    writer = df.write.mode("overwrite")
    reader = spark.read
    if fmt == "csv":
        writer = writer.option("header", True)
        reader = reader.option("header", True)
    writer.format(fmt).save(path)
    return reader.schema(df.schema).format(fmt).load(path)
