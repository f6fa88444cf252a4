"""The shared query-run protocol (``harness``).

``run_query`` must release the returned frame's ``localCheckpoint``
pins after timing it, and no timing entry point may keep its own copy
of the protocol: a forked copy is how the scripts drifted from
bench.py (missing warm-ups, pins never released). A warm repeat of a
query compiles no generated class, however many other classes the
session compiled in between.
"""

from __future__ import annotations

import ast
import glob
import os
import time

from loan_default_prediction_app_big_data_spark.harness import codegen_compiles, run_query
from loan_default_prediction_app_big_data_spark.pinning import RELEASE_STATS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_run_query_releases_the_returned_frames_pins(spark, sf_smoke):
    # fpgrowth returns a frame over an eager localCheckpoint.
    baseline = _persistent_rdds(spark)
    released = RELEASE_STATS["released"]
    sec = run_query(spark, "fpgrowth_frequent_itemsets", sf_smoke)
    assert sec > 0
    assert RELEASE_STATS["released"] > released
    # Release is asynchronous, and MLlib's own training persists are
    # freed by the ContextCleaner after a JVM GC: nudge it while polling.
    deadline = time.monotonic() + 30.0
    while _persistent_rdds(spark) > baseline and time.monotonic() < deadline:
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
    assert _persistent_rdds(spark) <= baseline


#: Distinct generated classes one pass over the registry compiles
#: (sf0.001, unbounded cache; session.py).
REGISTRY_CODEGEN_CLASSES = 4634

#: Cheap queries that each compile 10-30 classes of their own; together
#: well over the 100 classes of Spark's default codegen cache.
_OTHER_QUERIES = (
    "window_running_sum", "window_ntile_rank", "window_distribution",
    "window_ignore_nulls", "pareto_customers", "data_freshness_slo",
    "window_first_last_value", "window_range_frame", "window_lag_lead",
    "sessionization", "lateral_topk_join", "window_topk_per_group",
    "collated_aggregation", "exchange_reuse_extremes", "time_bucket_gapfill",
    "robust_center_aggregates",
)


def test_warm_repeat_compiles_nothing_after_100_other_classes(spark, sf_smoke):
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= REGISTRY_CODEGEN_CLASSES
    run_query(spark, "q3_shipping_priority", sf_smoke)
    start = codegen_compiles(spark)
    for name in _OTHER_QUERIES:
        run_query(spark, name, sf_smoke)
    assert codegen_compiles(spark) - start > 100
    before = codegen_compiles(spark)
    run_query(spark, "q3_shipping_priority", sf_smoke)
    assert codegen_compiles(spark) - before == 0


def _noop_sinks(path: str) -> list[int]:
    tree = ast.parse(open(path, encoding="utf-8").read(), path)
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant) and node.value == "noop"
    ]


def test_only_the_harness_writes_to_a_noop_sink():
    paths = [os.path.join(REPO, "bench.py"), *glob.glob(os.path.join(REPO, "scripts", "*.py"))]
    offenders = [
        f"{os.path.relpath(p, REPO)}:{line}" for p in sorted(paths) for line in _noop_sinks(p)
    ]
    assert offenders == [], "time queries through harness.run_query: " + ", ".join(offenders)
