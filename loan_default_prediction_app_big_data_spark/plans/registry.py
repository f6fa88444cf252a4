"""Query registry — the engine's public operator surface.

Every operator from SURVEY.md §2 (reference Tier A + charter Tier B) is
exposed as a named query: a ``(spark, sf_dir) -> DataFrame`` callable
plus, where SQL-expressible, an equivalent ANSI-SQL oracle string that
DuckDB runs on the same parquet fixtures. The driver hash-compares the
two at sf0.01 — this registry IS the correctness surface.

Conventions (required for oracle hash-matching):
- every computed column is aliased identically on both sides;
- double aggregates are ``round()``-ed on both sides (float summation
  order differs between engines);
- sums of integer columns are cast to BIGINT in the oracle (DuckDB
  promotes int sums to HUGEINT, Spark to LONG);
- timestamps that cross the boundary are compared as epoch BIGINT.

The queries live in domain modules (``relational``, ``analytics``,
``credit``, ``governance``, ``text``, ``similarity``, ``ml``,
``connectors``, ``streaming``); this facade imports them only to
register them. ``queries()`` and ``oracle_sql()`` list
``_DRIVER_PRIORITY`` first, then every other name in sorted order, so
neither registration nor import order is part of the driver contract.

Scale notes are attached per query: the fixture runs at sf0.01/0.1 but
each plan is written for the 100 TB shape (broadcast dims, partial
aggs, no driver-side collection, pushdown-friendly predicates).
"""

from __future__ import annotations

from ._core import REGISTRY, QuerySpec, _DRIVER_PRIORITY, oracle_sql, queries  # noqa: F401

# Importing a domain module registers its queries.
from . import (  # noqa: F401
    analytics,
    connectors,
    credit,
    governance,
    ml,
    relational,
    similarity,
    streaming,
    text,
)
