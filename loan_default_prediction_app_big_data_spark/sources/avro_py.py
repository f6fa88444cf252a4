"""Pure-Python Avro Object Container File connector.

Through round 3 Avro was absent entirely (the spark-avro jar is not in
this image). The format itself needs no jar: the Avro 1.x Object
Container File spec (public, avro.apache.org/docs/current/spec) is
magic ``Obj\\x01`` + a zigzag-varint-encoded metadata map carrying
``avro.schema`` (JSON) and ``avro.codec`` + a 16-byte sync marker,
then data blocks of (record count, byte length, records) each followed
by the sync marker; ``deflate`` blocks are raw-DEFLATE (RFC 1951, no
zlib header). This module implements that spec for flat record schemas
over the primitive types plus nullable unions and arrays — enough to
round-trip every fixture table — as:

- ``write_container`` / ``read_container``: single-file encode/decode.
- ``AvroDataSource``: a Spark 4 Python DataSource
  (``spark.read.format("avro_py").load(dir)``) that plans one input
  partition per container file (block-level splits are possible via
  the sync markers; per-file is the simple correct unit here) and
  infers the Spark schema from the embedded ``avro.schema`` JSON.
- ``write_avro_partitions``: a DISTRIBUTED writer — each Spark
  partition serializes its own container file inside ``mapInPandas``
  on the executor, so no rows flow through the driver; the returned
  frame is bounded per-file metadata.

Scale posture matches the other Python-DataSource path: Arrow-batched
Python IO is right for interchange/adapter sources; bulk tabular IO
stays on native parquet/ORC scans (sources/readers.py).
"""

from __future__ import annotations

import json
import os
import struct
import zlib
from typing import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

MAGIC = b"Obj\x01"

# ---------------------------------------------------------------------
# Binary primitives (Avro spec "Binary Encoding")
# ---------------------------------------------------------------------


def _encode_long(n: int) -> bytes:
    """Zigzag + varint (the encoding for both int and long)."""
    z = (n << 1) ^ (n >> 63) if n >= 0 else ((-n) << 1) - 1
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _decode_long(data: bytes, pos: int) -> tuple[int, int]:
    shift = z = 0
    while True:
        b = data[pos]
        pos += 1
        z |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (z >> 1) ^ -(z & 1), pos


def _encode_value(v, typ) -> bytes:
    if isinstance(typ, list):  # union — spec requires the branch index
        if v is None:
            return _encode_long(typ.index("null"))
        branch = next(i for i, t in enumerate(typ) if t != "null")
        return _encode_long(branch) + _encode_value(v, typ[branch])
    if isinstance(typ, dict):
        if typ.get("type") == "array":
            items = typ["items"]
            if not v:
                return _encode_long(0)
            body = b"".join(_encode_value(x, items) for x in v)
            return _encode_long(len(v)) + body + _encode_long(0)
        if typ.get("logicalType"):  # timestamp-micros etc ride the base type
            return _encode_value(v, typ["type"])
        raise ValueError(f"unsupported complex type {typ}")
    if typ in ("long", "int"):
        return _encode_long(int(v))
    if typ == "double":
        return struct.pack("<d", float(v))
    if typ == "float":
        return struct.pack("<f", float(v))
    if typ == "boolean":
        return b"\x01" if v else b"\x00"
    if typ == "string":
        raw = str(v).encode("utf-8")
        return _encode_long(len(raw)) + raw
    if typ == "bytes":
        return _encode_long(len(v)) + bytes(v)
    if typ == "null":
        return b""
    raise ValueError(f"unsupported Avro type {typ!r}")


def _decode_value(data: bytes, pos: int, typ):
    if isinstance(typ, list):
        idx, pos = _decode_long(data, pos)
        return _decode_value(data, pos, typ[idx])
    if isinstance(typ, dict):
        if typ.get("type") == "array":
            out = []
            while True:
                n, pos = _decode_long(data, pos)
                if n == 0:
                    return out, pos
                if n < 0:  # negative count ⇒ a byte-size long follows
                    n = -n
                    _, pos = _decode_long(data, pos)
                for _ in range(n):
                    v, pos = _decode_value(data, pos, typ["items"])
                    out.append(v)
        if typ.get("logicalType"):
            return _decode_value(data, pos, typ["type"])
        raise ValueError(f"unsupported complex type {typ}")
    if typ in ("long", "int"):
        return _decode_long(data, pos)
    if typ == "double":
        return struct.unpack_from("<d", data, pos)[0], pos + 8
    if typ == "float":
        return struct.unpack_from("<f", data, pos)[0], pos + 4
    if typ == "boolean":
        return data[pos] == 1, pos + 1
    if typ == "string":
        n, pos = _decode_long(data, pos)
        return data[pos : pos + n].decode("utf-8"), pos + n
    if typ == "bytes":
        n, pos = _decode_long(data, pos)
        return bytes(data[pos : pos + n]), pos + n
    if typ == "null":
        return None, pos
    raise ValueError(f"unsupported Avro type {typ!r}")


# ---------------------------------------------------------------------
# Object Container File framing
# ---------------------------------------------------------------------


def _field_types(schema: dict) -> list[tuple[str, object]]:
    return [(f["name"], f["type"]) for f in schema["fields"]]


def write_container(
    path: str,
    schema: dict,
    rows: list[tuple],
    codec: str = "deflate",
    block_rows: int = 4096,
) -> int:
    """Write rows (tuples in field order) as one container file.
    The sync marker is derived deterministically from the file name so
    identical inputs produce identical bytes. Returns the row count."""
    import hashlib

    fields = _field_types(schema)
    sync = hashlib.sha256(os.path.basename(path).encode()).digest()[:16]
    meta = {
        "avro.schema": json.dumps(schema, separators=(",", ":")).encode(),
        "avro.codec": codec.encode(),
    }
    out = bytearray(MAGIC)
    out += _encode_long(len(meta))
    for k, v in sorted(meta.items()):
        kb = k.encode()
        out += _encode_long(len(kb)) + kb + _encode_long(len(v)) + v
    out += _encode_long(0)
    out += sync
    for start in range(0, len(rows), block_rows):
        chunk = rows[start : start + block_rows]
        body = b"".join(
            b"".join(_encode_value(v, t) for v, (_, t) in zip(row, fields))
            for row in chunk
        )
        if codec == "deflate":  # raw DEFLATE, no zlib header (spec)
            comp = zlib.compressobj(9, zlib.DEFLATED, -15)
            body = comp.compress(body) + comp.flush()
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec!r}")
        out += _encode_long(len(chunk)) + _encode_long(len(body)) + body + sync
    with open(path, "wb") as fh:
        fh.write(out)
    return len(rows)


def read_container(path: str) -> tuple[dict, list[tuple]]:
    """Read one container file back to (schema dict, rows as tuples)."""
    data = open(path, "rb").read()
    if data[:4] != MAGIC:
        raise ValueError(f"{path}: not an Avro object container file")
    pos, meta = 4, {}
    while True:
        n, pos = _decode_long(data, pos)
        if n == 0:
            break
        if n < 0:  # negative block count ⇒ byte size follows (spec)
            n = -n
            _, pos = _decode_long(data, pos)
        for _ in range(n):
            klen, pos = _decode_long(data, pos)
            k = data[pos : pos + klen].decode()
            pos += klen
            vlen, pos = _decode_long(data, pos)
            meta[k] = data[pos : pos + vlen]
            pos += vlen
    sync = data[pos : pos + 16]
    pos += 16
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    fields = _field_types(schema)
    rows: list[tuple] = []
    while pos < len(data):
        n_rec, pos = _decode_long(data, pos)
        n_bytes, pos = _decode_long(data, pos)
        body = data[pos : pos + n_bytes]
        pos += n_bytes
        if data[pos : pos + 16] != sync:
            raise ValueError(f"{path}: sync marker mismatch (corrupt block)")
        pos += 16
        if codec == "deflate":
            body = zlib.decompress(body, -15)
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec!r}")
        bpos = 0
        for _ in range(n_rec):
            row = []
            for _, t in fields:
                v, bpos = _decode_value(body, bpos, t)
                row.append(v)
            rows.append(tuple(row))
    return schema, rows


# ---------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------

_AVRO_TO_DDL = {
    "long": "bigint",
    "int": "int",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "string": "string",
    "bytes": "binary",
}


def _avro_schema_to_ddl(schema: dict) -> str:
    parts = []
    for name, typ in _field_types(schema):
        if isinstance(typ, list):  # nullable union
            typ = next(t for t in typ if t != "null")
        if isinstance(typ, dict) and typ.get("type") == "array":
            ddl = f"array<{_AVRO_TO_DDL[typ['items']]}>"
        elif isinstance(typ, dict) and typ.get("logicalType"):
            ddl = _AVRO_TO_DDL[typ["type"]]
        else:
            ddl = _AVRO_TO_DDL[typ]
        parts.append(f"{name} {ddl}")
    return ", ".join(parts)


def list_container_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".avro")
    )


class _AvroFile(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _AvroReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")

    def partitions(self):
        # One partition per container file: executors parse their
        # files independently; nothing flows through the driver.
        # (The per-block sync markers would support finer splits.)
        return [_AvroFile(p) for p in list_container_files(self.path)]

    def read(self, partition) -> Iterator[tuple]:
        _, rows = read_container(partition.path)
        yield from rows


class AvroDataSource(DataSource):
    """``spark.read.format("avro_py").load(dir)`` — schema comes
    from the first file's embedded avro.schema JSON unless the
    caller supplies one."""

    @classmethod
    def name(cls) -> str:
        return "avro_py"

    def schema(self) -> str:
        files = list_container_files(self.options.get("path"))
        if not files:
            raise ValueError("avro_py: no .avro files at path")
        with open(files[0], "rb") as fh:
            head = fh.read()
        # parse just the metadata map for avro.schema
        pos, n = 4, None
        meta = {}
        while True:
            n, pos = _decode_long(head, pos)
            if n == 0:
                break
            if n < 0:
                n = -n
                _, pos = _decode_long(head, pos)
            for _ in range(n):
                klen, pos = _decode_long(head, pos)
                k = head[pos : pos + klen].decode()
                pos += klen
                vlen, pos = _decode_long(head, pos)
                meta[k] = head[pos : pos + vlen]
                pos += vlen
        return _avro_schema_to_ddl(json.loads(meta["avro.schema"]))

    def reader(self, schema) -> DataSourceReader:
        return _AvroReader(self.options)


def register_avro_source(spark) -> None:
    spark.dataSource.register(AvroDataSource)


def write_avro_partitions(
    df, out_dir: str, schema: dict, codec: str = "deflate"
):
    """Distributed Avro write: every Spark partition serializes its own
    container file on the executor (rows never visit the driver) and
    reports (file, n_rows) — the bounded metadata frame Spark actions
    can verify against. Field order must match ``df.columns``."""
    import pandas as pd
    from pyspark.sql import types as T

    os.makedirs(out_dir, exist_ok=True)
    fields = [f["name"] for f in schema["fields"]]

    def op(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        rows: list[tuple] = []
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                vals = []
                for name, v in zip(fields, row):
                    # sequences (str/bytes/list/ndarray) are never null
                    # markers; pd.isna on them is ambiguous or wrong
                    is_scalar = not hasattr(v, "__len__")
                    vals.append(None if is_scalar and pd.isna(v) else v)
                rows.append(tuple(vals))
        path = os.path.join(out_dir, f"part-{pid:05d}.avro")
        n = write_container(path, schema, rows, codec=codec)
        yield pd.DataFrame({"file": [os.path.basename(path)], "n_rows": [n]})

    out_schema = T.StructType(
        [
            T.StructField("file", T.StringType(), False),
            T.StructField("n_rows", T.LongType(), False),
        ]
    )
    return df.mapInPandas(op, schema=out_schema)
