"""Session-conf and temp-view discipline.

Every query must leave the session conf exactly as it found it. A
query that needs a conf for part of its work sets it through
``session.scoped_conf``, which restores each key's prior explicit value
or unsets it. Every query must also leave no temp view behind: SQL-text
queries take their inputs as ``spark.sql(text, name=frame)`` arguments,
whose views live only for the ``sql()`` call. These tests pin the
helper's contract, check ``getAll`` and the temp views around the
queries whose hand-rolled restore blocks used to leave a default behind
and around every SQL-text query that used to register named views, and
guard the package against new unscoped ``conf.set``/``unset`` calls,
view registrations and hand-built ``.tmp_io`` paths.
"""

from __future__ import annotations

import ast
import os

import pytest

import loan_default_prediction_app_big_data_spark as pkg
from loan_default_prediction_app_big_data_spark.plans.registry import REGISTRY
from loan_default_prediction_app_big_data_spark.session import scoped_conf

_KEY = "spark.sql.sources.partitionOverwriteMode"


def _conf(spark) -> dict[str, str]:
    return dict(spark.conf.getAll)


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_scoped_conf_restores_a_set_key(spark):
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "3"}):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior


def test_scoped_conf_unsets_a_previously_unset_key(spark):
    assert _KEY not in _conf(spark)
    with scoped_conf(spark, {_KEY: "dynamic"}):
        assert spark.conf.get(_KEY) == "dynamic"
    assert _KEY not in _conf(spark)


def test_scoped_conf_restores_when_the_body_raises(spark):
    before = _conf(spark)
    with pytest.raises(RuntimeError, match="body"):
        with scoped_conf(spark, {_KEY: "dynamic", "spark.sql.shuffle.partitions": "3"}):
            raise RuntimeError("body")
    assert _conf(spark) == before


@pytest.mark.parametrize(
    "name",
    [
        "dynamic_partition_overwrite",
        "sql_scripting_median_bisection",
        "statestore_reader_audit",
        "streaming_tumbling_window",
        "streaming_incremental_backfill",
        # SQL-text queries: inputs arrive as spark.sql DataFrame arguments
        "in_subquery",
        "scalar_subquery",
        "correlated_exists_subquery",
        "q4_order_priority",
        "q17_small_quantity_revenue",
        "q22_inactive_rich_customers",
        "grouping_sets_explicit",
        "lateral_explode_tokens",
        "q15_top_supplier",
        "recursive_cte_hierarchy",
        "udtf_price_tranches",
        "lateral_topk_join",
        "udtf_table_argument",
        "recursive_cte_supplier_chain",
        "dynamic_sql_identifier",
        "approx_top_k_events",
        "percentile_within_group",
        "group_by_all_shorthand",
        "sql_udf_price_tiers",
        "parameterized_query_markers",
        "grouping_sets_report",
        "interval_range_window",
    ],
)
def test_query_leaves_session_conf_unchanged(spark, sf_smoke, name):
    # Start from no temp views: a view an earlier test left behind would
    # hide a query that leaks the same name.
    for view in _temp_views(spark):
        spark.catalog.dropTempView(view)
    before = _conf(spark)
    REGISTRY[name].fn(spark, sf_smoke).collect()
    after = _conf(spark)
    changed = {
        k: (before.get(k), after.get(k))
        for k in set(before) | set(after)
        if before.get(k) != after.get(k)
    }
    assert changed == {}, (name, changed)
    assert _temp_views(spark) == set(), name


# (path relative to the package, enclosing function) -> why the call
# may change the session conf outside scoped_conf.
_ALLOWED = {
    ("session.py", "scoped_conf"): "the scoping helper itself",
    ("sources/readers.py", "apply_fixture_read_conf"): (
        "fixture-read mapping: permanent because the memoized read "
        "plans depend on it; get_spark builds it in"
    ),
    ("sources/sqlite_py.py", "register_sqlite_source"): (
        "registration-time enable: the registered source pushes filters "
        "on every later read, so the conf must outlive the call"
    ),
    ("sources/pydatasource.py", "register"): (
        "registration-time enable, same reason as register_sqlite_source"
    ),
}


def _conf_writes(path: str):
    """(enclosing function, line) of every ``<x>.conf.set(...)`` and
    ``<x>.unset(...)`` call in one source file."""
    tree = ast.parse(open(path, encoding="utf-8").read(), path)
    found = []

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute):
                attr = child.func
                conf_set = (
                    attr.attr == "set"
                    and isinstance(attr.value, ast.Attribute)
                    and attr.value.attr == "conf"
                )
                if conf_set or attr.attr == "unset":
                    found.append((func, child.lineno))
            visit(child, func)

    visit(tree, None)
    return found


def test_package_changes_conf_only_through_the_allowed_sites():
    root = os.path.dirname(pkg.__file__)
    offenders, seen = [], set()
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            for func, line in _conf_writes(path):
                if (rel, func) in _ALLOWED:
                    seen.add((rel, func))
                else:
                    offenders.append(f"{rel}:{line} ({func})")
    assert offenders == [], "use session.scoped_conf: " + ", ".join(offenders)
    assert seen == set(_ALLOWED), "stale allowlist entries: " + str(set(_ALLOWED) - seen)


_VIEW_CALLS = {
    "createOrReplaceTempView",
    "createTempView",
    "createGlobalTempView",
    "createOrReplaceGlobalTempView",
    "registerTempTable",
}


def test_package_registers_no_views_and_builds_no_scratch_paths():
    """No named view outlives a query, and ``scratch.tmp_io`` is the one
    place that knows where scratch files go."""
    root = os.path.dirname(pkg.__file__)
    offenders = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            tree = ast.parse(open(path, encoding="utf-8").read(), path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in _VIEW_CALLS
                ):
                    offenders.append(f"{rel}:{node.lineno} {node.func.attr}")
                if (
                    rel != "scratch.py"
                    and isinstance(node, ast.Constant)
                    and node.value == ".tmp_io"
                ):
                    offenders.append(f"{rel}:{node.lineno} '.tmp_io'")
    assert offenders == [], (
        "pass SQL inputs as spark.sql DataFrame arguments and scratch "
        "paths through scratch.tmp_io: " + ", ".join(offenders)
    )
