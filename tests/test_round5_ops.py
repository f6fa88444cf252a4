"""Round-5 additions: recursive CTE and the xml/text/binaryFile
connectors.

Every test recomputes the expected answer with an INDEPENDENT
algorithm in plain Python (a sequential ancestor walk where the
engine recurses relationally; hashlib where the engine hashes
JVM-side) so a shared bug can't pass both sides.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from loan_default_prediction_app_big_data_spark.plans.registry import REGISTRY
from loan_default_prediction_app_big_data_spark.plans._core import t as _t


def test_recursive_cte_matches_python_walk(spark, sf_dir):
    import decimal

    # SQL HALF_UP on the cents grid, like the plan's F.round — Python
    # round() is banker's and would false-fail on a .5-tie fixture
    # (same recompute pattern as test_map_in_arrow_matches_python_round).
    bal = {
        r["s_suppkey"]: int(
            (decimal.Decimal(repr(r["s_acctbal"])) * 100).quantize(
                decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
            )
        )
        for r in _t(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_acctbal")
        .collect()
    }
    expected: dict[int, tuple[int, int]] = {}  # depth -> (n, chain_cents)
    for k in bal:
        if k < 1:  # tree is rooted at 1; suppkey 0 is outside the domain
            continue
        cur, acc, depth = k, bal[k], 0
        while cur > 1:
            cur //= 2
            acc += bal[cur]
            depth += 1
        n, c = expected.get(depth, (0, 0))
        expected[depth] = (n + 1, c + acc)

    got = REGISTRY["recursive_cte_supplier_chain"].fn(spark, sf_dir).collect()
    assert {r["root_depth"]: (r["n_suppliers"], r["chain_cents"]) for r in got} == expected


def test_xml_roundtrip_preserves_counts_and_nulls(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    n_total = orders.count()
    n_null = orders.filter(F.col("o_orderkey") % 97 == 0).count()
    got = REGISTRY["xml_source_roundtrip"].fn(spark, sf_dir).collect()
    assert sum(r["n_orders"] for r in got) == n_total
    assert sum(r["n_cents_null"] for r in got) == n_null
    # cents totals must equal the exact integer recompute per status
    exp = {
        r["o_orderstatus"]: r["c"]
        for r in orders.filter(F.col("o_orderkey") % 97 != 0)
        .groupBy("o_orderstatus")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("c"))
        .collect()
    }
    assert {r["o_orderstatus"]: r["total_cents"] for r in got} == exp


def test_text_source_no_line_mangling(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").collect()
    exp: dict[int, tuple[int, int, int]] = {}
    for r in docs:
        b = r["doc_id"] % 10
        n, ch, tk = exp.get(b, (0, 0, 0))
        exp[b] = (
            n + 1,
            ch + len(r["text"]),
            tk + len([w for w in r["text"].split(" ") if w]),
        )
    got = REGISTRY["text_source_line_stats"].fn(spark, sf_dir).collect()
    assert {
        r["bucket"]: (r["n_docs"], r["sum_chars"], r["sum_tokens"]) for r in got
    } == exp


def test_binaryfile_source_hashes_match_hashlib(spark, sf_dir):
    sample = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 20 == 0)
        .select("doc_id", "text")
        .collect()
    )
    exp = {
        r["doc_id"]: (
            len(r["text"].encode("utf-8")),
            hashlib.sha256(r["text"].encode("utf-8")).hexdigest(),
        )
        for r in sample
    }
    got = REGISTRY["binaryfile_source_stats"].fn(spark, sf_dir).collect()
    assert len(got) == len(exp)
    for r in got:
        n_bytes, digest = exp[r["doc_id"]]
        assert r["n_bytes"] == n_bytes
        assert r["content_sha256"] == digest


def test_statestore_holds_exactly_open_windows(spark, sf_dir):
    """The state read back from the checkpoint must equal the
    open-tail windows: those the final watermark (max ts - 1h) has
    not closed — recomputed here with a plain python walk."""
    evs = (
        _t(spark, sf_dir, "events")
        .select("event_type", F.unix_micros("ts").alias("us"))
        .collect()
    )
    hour = 3_600_000_000
    wm = max(r["us"] for r in evs) - hour
    exp: dict[tuple[int, str], int] = {}
    for r in evs:
        ws = (r["us"] // hour) * hour
        if ws + hour > wm:
            exp[(ws, r["event_type"])] = exp.get((ws, r["event_type"]), 0) + 1
    got = REGISTRY["statestore_reader_audit"].fn(spark, sf_dir).collect()
    assert {
        (r["window_start_us"], r["event_type"]): r["n_events"] for r in got
    } == exp


def test_recursive_chain_distinct_from_level_census(spark, sf_dir):
    """recursive_cte_supplier_chain (path accumulator) and the
    pre-existing recursive_cte_hierarchy (level census) must agree on
    the STRUCTURE they share — nodes per depth — while the chain
    query additionally carries state the census doesn't have."""
    chain = {
        r["root_depth"]: r["n_suppliers"]
        for r in REGISTRY["recursive_cte_supplier_chain"].fn(spark, sf_dir).collect()
    }
    census = {
        r["depth"]: r["n_nodes"]
        for r in REGISTRY["recursive_cte_hierarchy"].fn(spark, sf_dir).collect()
    }
    # the census roots its top-down walk at suppkey 0 (one level above
    # the chain's root 1), so the same tree appears shifted by one
    # level: chain depth d == census depth d+1, plus census's node-0
    # row at depth 0
    assert census[0] == 1
    assert {d + 1: n for d, n in chain.items()} == {
        d: n for d, n in census.items() if d >= 1
    }


def test_dynamic_sql_identifier_matches_static(spark, sf_dir):
    static = {
        r["c_mktsegment"]: (r["n"], r["c"])
        for r in _t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint")).alias("c"),
        )
        .collect()
    }
    got = REGISTRY["dynamic_sql_identifier"].fn(spark, sf_dir).collect()
    assert {r["segment"]: (r["n_customers"], r["total_cents"]) for r in got} == static


def test_approx_top_k_exact_at_low_cardinality(spark, sf_dir):
    counts: dict[str, int] = {}
    for r in _t(spark, sf_dir, "events").select("event_type").collect():
        counts[r["event_type"]] = counts.get(r["event_type"], 0) + 1
    exp = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    got = REGISTRY["approx_top_k_events"].fn(spark, sf_dir).collect()
    assert [(r["item"], r["n"]) for r in got] == exp


def test_map_in_arrow_matches_python_round(spark, sf_dir):
    rows = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 499 == 0)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .collect()
    )
    import collections
    import decimal

    # (l_orderkey, l_linenumber) is NOT unique in the fixture, so
    # compare as a multiset of full rows
    exp = collections.Counter()
    for r in rows:
        # SQL round HALF_UP on the cents grid, via exact decimal
        cents = int(
            decimal.Decimal(repr(r["l_extendedprice"] * 100)).quantize(
                decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
            )
        )
        exp[(r["l_orderkey"], r["l_linenumber"], cents, cents // 100000)] += 1
    got = collections.Counter(
        (r["l_orderkey"], r["l_linenumber"], r["price_cents"], r["price_band"])
        for r in REGISTRY["map_in_arrow_cents"].fn(spark, sf_dir).collect()
    )
    assert got == exp


def test_delta_compaction_preserves_rows_and_history(spark, sf_dir):
    """Independent check of the compaction op itself (the registered
    query asserts aggregates; this walks the log): after 4 appends +
    OPTIMIZE, the live file count drops to 1, every version stays
    readable, and the full row multiset is unchanged."""
    import os
    import shutil

    from loan_default_prediction_app_big_data_spark.scratch import tmp_io
    from loan_default_prediction_app_big_data_spark.sources import delta_py as D

    path = tmp_io("delta_compaction_test")
    base = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    for rem in range(4):
        D.commit_append(path, base.filter(F.col("o_orderkey") % 4 == rem))
    pre_files = D.snapshot_files(path)
    pre_rows = sorted(
        (r["o_orderkey"], r["o_orderstatus"])
        for r in D.read_delta(spark, path).collect()
    )
    v = D.commit_compaction(spark, path, target_files=1)
    post_files = D.snapshot_files(path)
    assert len(post_files) == 1 and len(pre_files) > 1
    post_rows = sorted(
        (r["o_orderkey"], r["o_orderstatus"])
        for r in D.read_delta(spark, path).collect()
    )
    assert post_rows == pre_rows
    # time travel to the pre-compaction version replays the fragments
    old_rows = sorted(
        (r["o_orderkey"], r["o_orderstatus"])
        for r in D.read_delta(spark, path, version=v - 1).collect()
    )
    assert old_rows == pre_rows
    # compaction commit is marked dataChange: false throughout
    import json as _json

    with open(os.path.join(path, "_delta_log", f"{v:020d}.json")) as fh:
        for line in fh:
            a = _json.loads(line)
            for kind in ("add", "remove"):
                if kind in a:
                    assert a[kind]["dataChange"] is False
    shutil.rmtree(path, ignore_errors=True)


def test_csv_scalar_roundtrip_lossless(spark, sf_dir):
    rows = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 61 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .collect()
    )
    import decimal

    # SQL HALF_UP on the cents grid, like the plan's F.round — Python
    # round() is banker's and would false-fail on a .5-tie fixture
    # (same recompute pattern as test_map_in_arrow_matches_python_round).
    exp = {
        r["o_orderkey"]: (
            r["o_orderstatus"],
            int(
                decimal.Decimal(repr(r["o_totalprice"] * 100)).quantize(
                    decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
                )
            ),
        )
        for r in rows
    }
    got = REGISTRY["csv_scalar_roundtrip"].fn(spark, sf_dir).collect()
    assert len(got) == len(exp)
    for r in got:
        assert exp[r["o_orderkey"]] == (r["csv_status"], r["csv_cents"])
