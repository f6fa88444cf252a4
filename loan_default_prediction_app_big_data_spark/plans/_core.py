"""Registry core: ``QuerySpec``, ``register`` and the driver-ordered
``queries()``/``oracle_sql()`` views. The conventions are in the
``registry.py`` facade docstring.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..sources.readers import read_parquet_table


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    description: str = ""
    tags: tuple[str, ...] = field(default=())


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, description: str = "", tags: tuple[str, ...] = ()):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(name, fn, oracle, description, tags)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet_table(spark, sf_dir, name)


# =====================================================================
# Driver-contract exports
# =====================================================================


def _ordered_names() -> list[str]:
    """The driver order; the rule is in the ``registry.py`` docstring."""
    priority = [n for n in _DRIVER_PRIORITY if n in REGISTRY]
    return priority + sorted(set(REGISTRY) - set(priority))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """``name -> (spark, sf_dir) -> DataFrame`` for every registered op."""
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for every SQL-expressible registered op."""
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }


#: The driver verifies the first 50 entries of ``queries()``; these
#: names lead that window.
_DRIVER_PRIORITY: list[str] = [
    # All 385 queries are certified, so the window leads with the
    # queries whose code changed most recently: the per-row codecs and
    # loops on operators.rows.map_rows, the near-dup clusters that now
    # release their shingle pin, the unsorted merge tables and their
    # tokenizers; then the ones running the shared PPJoin kernel and
    # the two-phase range scan. All have oracles, so the driver
    # hash-checks each of them.
    "multimodal_features",
    "image_decode_stats",
    "audio_decode_stats",
    "video_decode_stats",
    "image_resize_stats",
    "audio_spectral_peaks",
    "image_ahash_dedup",
    "content_defined_chunking",
    "loan_amortization_schedule",
    "neardup_clusters",
    "bpe_merge_training",
    "bpe_tokenize_apply",
    "wordpiece_merge_training",
    "wordpiece_maxmatch_tokenize",
    "simhash_dedup",
    "prefix_jaccard_threshold_join",
    "fuzzy_decontamination",
    "max_concurrent_sessions",
    "cdf_transform_vs_reference",
    "distributed_row_number",
    "balanced_shard_plan",
    "classification_metrics",
]
