"""Session-lifetime pinned-storage discipline (round 6).

Every batch query must leave ZERO entries in the block manager after
it returns: a ``.cache()`` without a matching ``unpersist()`` (or an
MLlib-internal persist, e.g. ALS factor RDDs) stays pinned for the
whole session — across a 379-query bench run that is the GC-pressure
mechanism behind the round-5 driver-bench inflations (PERF.md round-6).
These tests run the batch queries that historically leaked, and the
queries whose node-scale tables are pinned with ``pinning.pin_local``
(rows held in the plan, nothing to release), and assert the storage
registry is empty afterwards while the returned frame is still alive.

Streaming runners are covered by their own pinned-memory-sink
discipline (streaming.windows.replay_to_memory). Session-conf
discipline is tests/test_session_conf.py.
"""

from __future__ import annotations

import time

import pytest

from loan_default_prediction_app_big_data_spark.pinning import release_local_checkpoints
from loan_default_prediction_app_big_data_spark.plans.registry import REGISTRY

# Queries that cached without unpersisting before the round-6 fix,
# plus the MLlib-internal ALS factor persists.
_FORMERLY_LEAKY = [
    "als_recommendations",
    "csv_corrupt_record_audit",
    "ml_learning_curve",
    "sqlite_streaming_sink_roundtrip",
    "sqlite_batch_sink_roundtrip",
    "sql_scripting_median_bisection",
]

# Queries whose metadata-scale tables are pinned by pin_local: the
# returned frame must hold no block-manager pin and needs no release.
_PINNED_LOCALLY = [
    "shortest_path_trade_cost",
    "fpgrowth_frequent_itemsets",
    "prefixspan_sequential_patterns",
    "pagerank_nation_trade",
    "triangle_count_trade_graph",
    "hll_sketch_rollup_cube",
    "graph_assortativity",
]

# Queries that pin a data-scale frame and release it before returning:
# the shared merge-rule trainer's one corpus pin per training.
_RELEASED_IN_QUERY = ["bpe_merge_training", "wordpiece_merge_training"]

# Queries whose returned frame reads a data-scale pin of its own (the
# connected-components labels). ``harness.run_query`` releases that
# pin after the save, so once it is released nothing else — here the
# shingle table behind the labels — may stay pinned.
_RETURNS_PIN = ["neardup_clusters"]


def _pinned(spark):
    return [
        (i.name(), i.memSize())
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    ]


def _settled_pins(spark, baseline, deadline_s=30.0):
    """Pins beyond ``baseline``, after letting async cleanup drain.

    MLlib unpersists training intermediates with blocking=false and
    some of its anonymous RDD persists are only released by the
    ContextCleaner after a JVM GC — nudge the GC while polling. A
    REAL leak (cache without unpersist, named factor RDDs) never
    drains no matter how long we wait."""
    from collections import Counter

    deadline = time.monotonic() + deadline_s
    extra = Counter(_pinned(spark)) - Counter(baseline)
    while extra and time.monotonic() < deadline:
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
        extra = Counter(_pinned(spark)) - Counter(baseline)
    return list(extra.elements())


@pytest.mark.parametrize(
    "name", _FORMERLY_LEAKY + _PINNED_LOCALLY + _RELEASED_IN_QUERY + _RETURNS_PIN
)
def test_query_leaves_zero_pinned_storage(spark, sf_smoke, name):
    spark.catalog.clearCache()  # isolate from earlier tests' caches
    # Baseline: earlier tests in a shared session may have left
    # GC-latency pins of their own (anonymous MLlib internals) — this
    # test owns only what the query under test CREATES.
    before = _settled_pins(spark, [], deadline_s=10.0)
    df = REGISTRY[name].fn(spark, sf_smoke)
    df.collect()
    if name in _RETURNS_PIN:
        release_local_checkpoints(df)
    extra = _settled_pins(spark, before)
    assert extra == [], (name, extra)
