"""Embedded-SQL (SQLite) connector — the JDBC tier without a JVM jar.

Through round 4 the JDBC source/sink stayed declared-only: the sandbox
has no database server and no JDBC jars (sources/readers.py:157-177).
SQLite ships inside CPython's stdlib, so every JDBC-*shaped* behavior —
partitioned range reads, WHERE-clause pushdown into a real SQL engine,
one writer connection per partition — is implementable and verifiable
end-to-end without leaving the sandbox:

- ``write_sqlite_shards(df, out_dir, table)``: DISTRIBUTED writer.
  Each Spark partition opens its own connection to its own shard file
  (``shard-NNNNN.db``), exactly as Spark's JDBC writer opens one
  connection per partition; rows never visit the driver. The returned
  frame is bounded per-shard metadata (file, n_rows).
- ``SQLiteDataSource``: ``spark.read.format("sqlite_py")
  .option("path", dir).option("table", t)`` — a Spark 4 Python
  DataSource that plans one ``InputPartition`` per (shard, rowid
  range), mirroring JDBC's partitionColumn/lowerBound/upperBound
  parallel reads, and pushes comparison/IN/IS NULL filters into the
  sqlite WHERE clause so rows are filtered inside the C engine before
  they ever reach Python (real pushdown into a real SQL engine, not a
  post-hoc Python filter).
- ``merge_sqlite_shards``: optional consolidation of the shard
  directory into one ``.db`` artifact via ``ATTACH`` + ``INSERT ..
  SELECT`` — sqlite files are single-writer, so the merged file is a
  bounded driver-side *deliverable*, never part of the distributed
  plan.

Scale posture: identical to the Avro/Python-DataSource path — an
Arrow-batched Python source is right for interchange and operational
exports (the JDBC use case); bulk tabular IO stays on native
parquet/ORC scans (sources/readers.py). On a real cluster the shard
directory lives on shared storage; rowid-range planning reads only
per-shard min/max/count (bounded metadata, the same statistics a JDBC
planner fetches).
"""

from __future__ import annotations

import os
import sqlite3
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

# Spark type name -> SQLite declared type (used by the writer; the
# reader maps declared types back by prefix, sqlite "type affinity").
_SPARK_TO_SQLITE = {
    "bigint": "BIGINT",
    "int": "BIGINT",
    "smallint": "BIGINT",
    "tinyint": "BIGINT",
    "double": "DOUBLE",
    "float": "DOUBLE",
    "string": "TEXT",
    "binary": "BLOB",
    "boolean": "BIGINT",  # stored 0/1; declared affinity INTEGER
}


def _sqlite_decl_to_spark(decl: str) -> str:
    d = (decl or "").upper()
    if any(tok in d for tok in ("INT",)):
        return "bigint"
    if any(tok in d for tok in ("REAL", "DOUB", "FLOA")):
        return "double"
    if "BLOB" in d or d == "":
        return "binary"
    return "string"


def list_shard_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".db")
    )


def _ro_connect(path: str) -> sqlite3.Connection:
    # Read-only + immutable: safe for many concurrent executor readers.
    return sqlite3.connect(f"file:{path}?mode=ro&immutable=1", uri=True)


def table_schema_ddl(path: str, table: str) -> str:
    """Spark DDL string for ``table`` from the first shard's catalog
    (``PRAGMA table_info`` — the same introspection a JDBC reader does
    with ``getMetaData``). Driver-side, bounded."""
    files = list_shard_files(path)
    if not files:
        raise ValueError(f"sqlite_py: no .db files at {path}")
    with _ro_connect(files[0]) as conn:
        cols = conn.execute(f'PRAGMA table_info("{table}")').fetchall()
    if not cols:
        raise ValueError(f"sqlite_py: table {table!r} not found in {files[0]}")
    return ", ".join(f"{c[1]} {_sqlite_decl_to_spark(c[2])}" for c in cols)


class _RowidRange(InputPartition):
    def __init__(self, path: str, lo: int, hi: int):
        self.path = path
        self.lo = lo  # inclusive rowid bounds
        self.hi = hi

_COMPARES = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


def _compile_filters(
    accepted: list[Filter],
) -> tuple[str, list]:
    """Pushed filters -> parameterized SQL WHERE fragment."""
    clauses, params = [], []
    for f in accepted:
        col = f'"{f.attribute[0]}"'
        if type(f) in _COMPARES:
            clauses.append(f"{col} {_COMPARES[type(f)]} ?")
            params.append(f.value)
        elif isinstance(f, In):
            ph = ",".join("?" * len(f.values))
            clauses.append(f"{col} IN ({ph})")
            params.extend(f.values)
        elif isinstance(f, IsNull):
            clauses.append(f"{col} IS NULL")
        elif isinstance(f, IsNotNull):
            clauses.append(f"{col} IS NOT NULL")
    return (" AND ".join(clauses), params)


class _SQLiteReader(DataSourceReader):
    def __init__(self, schema, options):
        self.path = options.get("path")
        self.table = options.get("table")
        self.rows_per_partition = int(
            options.get("rows_per_partition", 100_000)
        )
        self.columns = [f.name for f in schema.fields]
        self.accepted: list[Filter] = []

    def pushFilters(self, filters: list[Filter]):  # noqa: N802
        """Absorb filters sqlite can evaluate (single-column
        compares, IN, IS [NOT] NULL on top-level attributes);
        everything else stays with Spark."""
        for f in filters:
            simple = type(f) in _COMPARES or isinstance(
                f, (In, IsNull, IsNotNull)
            )
            if simple and len(f.attribute) == 1:
                self.accepted.append(f)
            else:
                yield f

    def partitions(self):
        # JDBC-style range planning: per shard, read only
        # min/max rowid + row count (bounded metadata), then cut
        # the rowid span into ranges of ~rows_per_partition.
        # sqlite rowids are dense for our writer (no deletes), so
        # ranges are balanced like lowerBound/upperBound strides.
        parts: list[_RowidRange] = []
        for path in list_shard_files(self.path):
            with _ro_connect(path) as conn:
                row = conn.execute(
                    f'SELECT min(rowid), max(rowid), count(*) '
                    f'FROM "{self.table}"'
                ).fetchone()
            lo, hi, n = row
            if n == 0:
                continue
            n_ranges = max(1, -(-n // self.rows_per_partition))
            span = hi - lo + 1
            step = -(-span // n_ranges)
            for a in range(lo, hi + 1, step):
                parts.append(_RowidRange(path, a, min(a + step - 1, hi)))
        return parts

    def read(self, partition: _RowidRange) -> Iterator[tuple]:
        cols = ", ".join(f'"{c}"' for c in self.columns)
        where, params = _compile_filters(self.accepted)
        sql = (
            f'SELECT {cols} FROM "{self.table}" '
            f"WHERE rowid BETWEEN ? AND ?"
        )
        if where:
            sql += f" AND {where}"
        with _ro_connect(partition.path) as conn:
            yield from conn.execute(
                sql, [partition.lo, partition.hi, *params]
            )


class SQLiteDataSource(DataSource):
    """``spark.read.format("sqlite_py").option("path", p)
    .option("table", t).load()`` — schema from the shard catalog
    unless the caller supplies one."""

    @classmethod
    def name(cls) -> str:
        return "sqlite_py"

    def schema(self) -> str:
        return table_schema_ddl(
            self.options.get("path"), self.options.get("table")
        )

    def reader(self, schema) -> DataSourceReader:
        return _SQLiteReader(schema, self.options)


class _CdcRange(InputPartition):
    def __init__(self, path: str, lo: int, hi: int):
        self.path = path
        self.lo = lo  # exclusive
        self.hi = hi  # inclusive


class _SQLiteStreamReader(DataSourceStreamReader):
    """CDC-style incremental tail over the shard directory: each
    micro-batch reads the rowid range newly appended since the
    last offset, at most ``rows_per_batch`` rows per shard per
    batch (the rate limit that forces multi-batch replays). The
    offset is a JSON dict {shard file -> last rowid processed} —
    the same high-water-mark contract a JDBC/Debezium-style
    incremental source keeps, checkpointable by Spark."""

    def __init__(self, schema, options):
        self.path = options.get("path")
        self.table = options.get("table")
        self.rows_per_batch = int(options.get("rows_per_batch", 10_000))
        self.columns = [f.name for f in schema.fields]
        self._advanced: dict[str, int] | None = None

    def initialOffset(self) -> dict:  # noqa: N802
        return {
            os.path.basename(p): 0 for p in list_shard_files(self.path)
        }

    def _max_rowids(self) -> dict:
        out = {}
        for p in list_shard_files(self.path):
            with _ro_connect(p) as conn:
                (mx,) = conn.execute(
                    f'SELECT coalesce(max(rowid), 0) FROM "{self.table}"'
                ).fetchone()
            out[os.path.basename(p)] = mx
        return out

    def latestOffset(self) -> dict:  # noqa: N802
        # Advance each shard's high-water mark by at most
        # rows_per_batch per call — the planner turns each
        # advance into one micro-batch, so a bounded table drains
        # in ceil(rows/rows_per_batch) batches instead of one.
        actual = self._max_rowids()
        prev = self._advanced or {k: 0 for k in actual}
        self._advanced = {
            k: min(mx, prev.get(k, 0) + self.rows_per_batch)
            for k, mx in actual.items()
        }
        return self._advanced

    def partitions(self, start: dict, end: dict):
        parts = []
        for name, hi in end.items():
            lo = start.get(name, 0)
            if hi > lo:
                parts.append(
                    _CdcRange(os.path.join(self.path, name), lo, hi)
                )
        # a batch with no new rows still needs >= 1 (empty) split
        return parts or [_CdcRange(list_shard_files(self.path)[0], 0, 0)]

    def read(self, partition: _CdcRange) -> Iterator[tuple]:
        if partition.hi <= partition.lo:
            return
        cols = ", ".join(f'"{c}"' for c in self.columns)
        with _ro_connect(partition.path) as conn:
            yield from conn.execute(
                f'SELECT {cols} FROM "{self.table}" '
                f"WHERE rowid > ? AND rowid <= ?",
                [partition.lo, partition.hi],
            )

    def commit(self, end: dict) -> None:
        pass


class SQLiteStreamDataSource(DataSource):
    """``spark.readStream.format("sqlite_py_cdc")`` — incremental
    tail of a SQLite shard directory (batch schema introspection,
    streaming rowid high-water-mark offsets)."""

    @classmethod
    def name(cls) -> str:
        return "sqlite_py_cdc"

    def schema(self) -> str:
        return table_schema_ddl(
            self.options.get("path"), self.options.get("table")
        )

    def streamReader(self, schema) -> DataSourceStreamReader:  # noqa: N802
        return _SQLiteStreamReader(schema, self.options)


class _ShardCommit(WriterCommitMessage):
    def __init__(self, tmp_name, n_rows):
        self.tmp_name = tmp_name
        self.n_rows = n_rows


class _SQLiteStreamWriter(DataSourceStreamWriter):
    """EXACTLY-ONCE streaming sink: each task stages its
    micro-batch partition into a ``.db.tmp`` file; the driver-side
    ``commit`` renames the batch's staged files to
    ``batch<id>-<seq>.db`` after first deleting any files a prior
    attempt of the SAME batchId left behind, so a replayed batch
    overwrites rather than duplicates — the rename-on-commit /
    delete-on-abort protocol every transactional file sink uses."""

    def __init__(self, schema, options):
        self.path = options["path"]
        self.table = options.get("table", "t")
        self.fields = [
            (f.name, f.dataType.simpleString()) for f in schema.fields
        ]
        for name, typ in self.fields:
            if typ not in _SPARK_TO_SQLITE:
                raise ValueError(
                    f"sqlite_py sink: unsupported column type {typ} "
                    f"for {name}"
                )

    def write(self, iterator) -> "_ShardCommit":
        import uuid as _uuid

        from pyspark import TaskContext

        os.makedirs(self.path, exist_ok=True)
        pid = TaskContext.get().partitionId()
        rows = [tuple(row) for row in iterator]
        if not rows:
            return _ShardCommit(None, 0)
        tmp = os.path.join(
            self.path,
            f"stage-{_uuid.uuid4().hex[:12]}-p{pid:05d}.db.tmp",
        )
        decls = ", ".join(
            f'"{n}" {_SPARK_TO_SQLITE[t]}' for n, t in self.fields
        )
        conn = sqlite3.connect(tmp)
        try:
            conn.execute(f'CREATE TABLE "{self.table}" ({decls})')
            conn.executemany(
                f'INSERT INTO "{self.table}" VALUES '
                f'({", ".join("?" * len(self.fields))})',
                rows,
            )
            conn.commit()
        finally:
            conn.close()
        return _ShardCommit(os.path.basename(tmp), len(rows))

    def commit(self, messages, batchId) -> None:  # noqa: N802
        # idempotent re-commit: clear any prior attempt's output
        prefix = f"batch{batchId:010d}-"
        for f in os.listdir(self.path):
            if f.startswith(prefix) and f.endswith(".db"):
                os.remove(os.path.join(self.path, f))
        seq = 0
        for m in messages:
            if m is None or m.tmp_name is None:
                continue
            os.rename(
                os.path.join(self.path, m.tmp_name),
                os.path.join(self.path, f"{prefix}{seq:05d}.db"),
            )
            seq += 1

    def abort(self, messages, batchId) -> None:
        for m in messages:
            if m is not None and m.tmp_name is not None:
                try:
                    os.remove(os.path.join(self.path, m.tmp_name))
                except FileNotFoundError:
                    pass


class _SQLiteBatchWriter(DataSourceWriter):
    """Batch form of the same transactional protocol: stage per
    task, rename on the driver-side commit. ``mode("overwrite")``
    clears previously committed shards atomically at commit time;
    append adds a new commit generation."""

    def __init__(self, schema, options, overwrite: bool):
        self._stream = _SQLiteStreamWriter(schema, options)
        self.path = self._stream.path
        self.overwrite = overwrite

    def write(self, iterator):
        return self._stream.write(iterator)

    def commit(self, messages) -> None:
        gens = [
            int(f.split("-")[0][5:])
            for f in os.listdir(self.path)
            if f.startswith("batch") and f.endswith(".db")
        ]
        if self.overwrite:
            for f in list(os.listdir(self.path)):
                if f.startswith("batch") and f.endswith(".db"):
                    os.remove(os.path.join(self.path, f))
            gen = 0
        else:
            gen = max(gens, default=-1) + 1
        self._stream.commit(messages, batchId=gen)

    def abort(self, messages) -> None:
        self._stream.abort(messages, batchId=0)


class SQLiteSinkDataSource(DataSource):
    """``df.writeStream.format("sqlite_py_sink").option("path", d)
    .option("table", t)`` — transactional SQLite shard sink (also
    implements the BATCH writer, so ``df.write.format(
    "sqlite_py_sink").mode("overwrite").save()`` works); read the
    directory back with the batch ``sqlite_py`` source."""

    @classmethod
    def name(cls) -> str:
        return "sqlite_py_sink"

    def streamWriter(self, schema, overwrite):  # noqa: N802
        return _SQLiteStreamWriter(schema, self.options)

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return _SQLiteBatchWriter(schema, self.options, overwrite)


def register_sqlite_source(spark) -> None:
    """Idempotent registration; enables Python-source filter pushdown
    (off by default in Spark 4.1, runtime-settable)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SQLiteDataSource)
    spark.dataSource.register(SQLiteStreamDataSource)
    spark.dataSource.register(SQLiteSinkDataSource)


def write_sqlite_shards(df, out_dir: str, table: str):
    """Distributed SQLite write: one connection per Spark partition to
    a per-partition shard file — the JDBC writer's connection model.
    Rows never visit the driver; the returned frame is bounded
    (file, n_rows) metadata. Supported column types: integral, double,
    string, binary, boolean (stored 0/1)."""
    import pandas as pd
    from pyspark.sql import types as T

    os.makedirs(out_dir, exist_ok=True)
    names = [f.name for f in df.schema.fields]
    decls = []
    for f in df.schema.fields:
        spark_t = f.dataType.simpleString()
        if spark_t not in _SPARK_TO_SQLITE:
            raise ValueError(
                f"sqlite_py writer: unsupported column type {spark_t} "
                f"for {f.name} (cast timestamps to epoch longs first)"
            )
        decls.append(f'"{f.name}" {_SPARK_TO_SQLITE[spark_t]}')
    create = f'CREATE TABLE "{table}" ({", ".join(decls)})'
    insert = (
        f'INSERT INTO "{table}" VALUES ({", ".join("?" * len(names))})'
    )

    def _py(v):
        # sqlite3 binds only Python scalars; pandas hands back numpy
        # types, and NaN/NaT are the null markers for scalar dtypes.
        if not hasattr(v, "__len__") and pd.isna(v):
            return None
        if isinstance(v, bool):
            return int(v)
        if hasattr(v, "item"):  # numpy scalar -> Python scalar
            v = v.item()
        return int(v) if isinstance(v, bool) else v

    def op(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"shard-{pid:05d}.db")
        if os.path.exists(path):
            os.remove(path)
        conn = sqlite3.connect(path)
        try:
            conn.execute(create)
            n = 0
            for pdf in batches:
                rows = [
                    tuple(_py(v) for v in row)
                    for row in pdf.itertuples(index=False)
                ]
                conn.executemany(insert, rows)
                n += len(rows)
            conn.commit()
        finally:
            conn.close()
        yield pd.DataFrame(
            {"file": [os.path.basename(path)], "n_rows": [n]}
        )

    out_schema = T.StructType(
        [
            T.StructField("file", T.StringType(), False),
            T.StructField("n_rows", T.LongType(), False),
        ]
    )
    return df.mapInPandas(op, schema=out_schema)


def merge_sqlite_shards(shard_dir: str, dest_path: str, table: str) -> int:
    """Consolidate shard files into one ``.db`` via ``ATTACH`` +
    ``INSERT .. SELECT`` (rows move inside sqlite's C engine, not
    through Python objects). SQLite is single-writer, so this is a
    bounded driver-side packaging step for the export artifact — the
    distributed plan reads the shard directory directly."""
    if os.path.exists(dest_path):
        os.remove(dest_path)
    shards = list_shard_files(shard_dir)
    if not shards:
        raise ValueError(f"sqlite_py: no shards under {shard_dir}")
    with _ro_connect(shards[0]) as c0:
        create = c0.execute(
            "SELECT sql FROM sqlite_master WHERE type='table' AND name=?",
            (table,),
        ).fetchone()[0]
    conn = sqlite3.connect(dest_path)
    try:
        conn.execute(create)
        total = 0
        for path in shards:
            conn.execute("ATTACH DATABASE ? AS shard", (path,))
            cur = conn.execute(
                f'INSERT INTO "{table}" SELECT * FROM shard."{table}"'
            )
            total += cur.rowcount
            conn.commit()
            conn.execute("DETACH DATABASE shard")
        return total
    finally:
        conn.close()
