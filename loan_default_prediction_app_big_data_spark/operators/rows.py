"""Per-row Python over Arrow batches (``map_rows``): the one wrapper
every row-at-a-time codec, decoder and integer loop in the engine runs
through. Leaf module (imports only pyspark and pyarrow).
"""

from __future__ import annotations

from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def map_rows(df: DataFrame, fn: Callable[[dict], dict], schema: StructType) -> DataFrame:
    """Apply ``fn(row) -> dict`` to every row of ``df`` via ``mapInArrow``.

    Each Arrow batch reaches ``fn`` as ``batch.to_pylist()``, so values
    are plain Python (``int``, ``str``, ``bytes``, ``list``, ``None``
    for null) with no pandas/numpy unwrapping. The returned dicts are
    keyed by ``schema``'s field names and rebuilt with
    ``RecordBatch.from_pylist`` against ``to_arrow_schema(schema)`` —
    the conversion ``pinning.local_rows`` uses — so an empty batch
    yields a typed zero-row batch.
    """
    arrow_schema = to_arrow_schema(schema)

    def op(batches):
        for batch in batches:
            yield pa.RecordBatch.from_pylist(
                [fn(row) for row in batch.to_pylist()], schema=arrow_schema
            )

    return df.mapInArrow(op, schema)
