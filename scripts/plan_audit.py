#!/usr/bin/env python
"""Whole-registry physical-plan audit → PLAN_AUDIT.md.

For every registered query, capture ``explain("formatted")`` and count
the plan features that matter at 100 TB:

- exchanges (shuffles) and which are single-partition,
- broadcast joins vs shuffle joins vs nested-loop joins,
- WholeStageCodegen span count (JVM-side execution),
- row-at-a-time Python (BatchEvalPython — should be ZERO),
- cartesian products (should be ZERO),
- pushed filters at the scan.

The per-query table plus red-flag list is written to PLAN_AUDIT.md.
`tests/test_plans.py` pins the hard invariants; this script is the
full-surface evidence the invariants generalize. Run:
``python scripts/plan_audit.py`` (uses $SPARK_GRAFT_SF_DIR, default
sf0.1 — plan shapes, not timings, so any SF gives the same audit
modulo AQE thresholds).
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Queries that drive a streaming engine or write outside the plan —
# explain() on the returned (already-materialized) frame is meaningless.
# Matched with .search(): the suffix alternation was dead under .match()
# (ADVICE r6 — delta_merge_upsert and the *_roundtrip sinks were being
# audited despite materializing outside the returned plan). Bare
# merge_upsert (in-plan anti-join + union) stays IN the census.
MATERIALIZED = re.compile(r"^(streaming_|statestore_)|_(roundtrip|merge_upsert)$")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# =====================================================================
# BNLJ build-side bounding (VERDICT r7 item 3)
#
# A BroadcastNestedLoopJoin is the idiomatic scalar-attach pattern
# (`crossJoin(broadcast(<global aggregate>))`) and scale-safe ONLY when
# the broadcast side is row-bounded before the exchange. The census
# used to count BNLJ nodes without checking the build side — a
# data-scale frame slipping into one would be a 100x-scale killer that
# nothing caught. These helpers parse the formatted-explain tree and
# flag any BNLJ whose build side reaches a file scan (or a large
# Range) with no global aggregate / limit between them.
# =====================================================================

_TREE_NODE = re.compile(r"^(?P<prefix>[\s:+-]*)(?:\* )?(?P<name>\S[^(]*?)\s*\((?P<id>\d+)\)\s*$")
# Operators that bound output rows regardless of input size. Global
# (Keys: []) aggregates are detected separately from the detail blocks.
# LocalLimit bounds to n rows PER PARTITION (<= n x #partitions, always
# metadata-scale for the limits used here) — it is what feeds the
# single-partition exchange under every GlobalLimit.
_BOUNDING = ("GlobalLimit", "CollectLimit", "TakeOrderedAndProject", "LocalLimit")
_AGG_NODES = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")
_RANGE_MAX_ROWS = 100_000  # literal ranges above this are data-scale


def _parse_tree(plan: str) -> list[dict]:
    """Formatted-explain tree -> [{id, name, depth, children}] nodes."""
    lines = plan.splitlines()
    try:
        start = next(i for i, ln in enumerate(lines) if ln.startswith("== Physical Plan =="))
    except StopIteration:
        return []
    nodes: list[dict] = []
    stack: list[dict] = []  # one entry per depth level
    for ln in lines[start + 1:]:
        if not ln.strip():
            break
        m = _TREE_NODE.match(ln)
        if not m:
            continue
        marker = re.search(r"[:+]- ", m.group("prefix"))
        depth = (marker.start() // 3 + 1) if marker else 0
        node = {
            "id": int(m.group("id")),
            "name": m.group("name").strip(),
            "depth": depth,
            "children": [],
        }
        del stack[depth:]
        if stack:
            stack[-1]["children"].append(node)
        stack.append(node)
        nodes.append(node)
    return nodes


def _details_of(plan: str) -> dict[int, str]:
    """node id -> its detail block text (the `(N) NodeName` sections)."""
    out: dict[int, str] = {}
    for m in re.finditer(r"^\((\d+)\) .*?(?=^\(\d+\) |\Z)", plan, re.M | re.S):
        out[int(m.group(1))] = m.group(0)
    return out


def _is_bounding(node: dict, details: dict[int, str]) -> bool:
    name = node["name"].split()[0]
    if name in _BOUNDING:
        return True
    if name in _AGG_NODES:
        # Global aggregate = empty grouping keys -> ≤1 row per input
        # partition (partial) or exactly 1 row (final); both bounded.
        return bool(re.search(r"Keys(?: \[\d*\])?: \[\]", details.get(node["id"], "")))
    return False


def _subtree_unbounded(node: dict, details: dict[int, str]) -> bool:
    """True if a data-scale leaf is reachable with no bounding ancestor."""
    if _is_bounding(node, details):
        return False
    name = node["name"].split()[0]
    if name == "Scan":
        # File-format scans are data-scale. pinning.pin_local's pins
        # are LocalTableScan leaves (rows held in the plan, 10k-row
        # guard) and never reach this branch. Treating "Scan
        # ExistingRDD" as bounded is a HEURISTIC, not a proof: it is
        # a createDataFrame over a Python list, a localCheckpoint (the
        # remaining ones are data-scale) or an Arrow pin above Spark's
        # local-relation threshold. "Scan OneRowRelation" is a literal.
        return node["name"].split()[1] not in ("ExistingRDD", "OneRowRelation")
    if name == "Range":
        m = re.search(r"Arguments: Range \((-?\d+), (-?\d+)", details.get(node["id"], ""))
        if m and int(m.group(2)) - int(m.group(1)) > _RANGE_MAX_ROWS:
            return True
        return False
    if name == "ReusedExchange":
        # Subtree not visible here; the original exchange is audited
        # where it appears. Broadcast reuse of an unbounded frame would
        # already have flagged the original BNLJ/BHJ site.
        return False
    return any(_subtree_unbounded(c, details) for c in node["children"])


# Queries whose CONTRACT is an exact global order statistic (ntile /
# percent_rank / equi-depth histogram / pooled quantile ranking /
# conformal rank pick / dominance skyline). Their one fact-scale
# single-partition exchange is the exactness cost, is named in each
# description along with the 100 TB swap (approx_percentile sketches /
# partitioned windows / grid-partitioned skyline merge), and the
# DuckDB oracles pin the exact tie-broken semantics that the sketch
# variants cannot reproduce. Reported in PLAN_AUDIT.md, not flagged.
_GLOBAL_ORDER_STAT = {
    "window_ntile_rank",
    "window_distribution",
    "histogram_equi_depth",
    "skyline_price_size",
    "conformal_prediction_intervals",
    "quantile_normalization",
}


def _subtree_fact_scale(node: dict, details: dict[int, str]) -> bool:
    """True if a file scan is reachable with NO aggregate (grouped or
    global) and no limit above it — i.e. raw fact rows flow through.

    Softer than :func:`_subtree_unbounded` (used for BNLJ broadcast
    sides, where only PROVABLE bounds count): a grouped aggregate
    collapses data to its key domain, which is the census's
    'post-aggregate metadata-scale frame' claim. The hard failure this
    catches is a single-partition exchange fed raw fact rows — a
    guaranteed 100x serialization point."""
    name = node["name"].split()
    if _is_bounding(node, details) or name[0] in _AGG_NODES:
        return False
    if name[0] == "Scan":
        return name[1] not in ("ExistingRDD", "OneRowRelation")
    if name[0] in ("Range", "ReusedExchange"):
        return False
    return any(_subtree_fact_scale(c, details) for c in node["children"])


def singlepart_unbounded(plan: str) -> list[str]:
    """Single-partition Exchanges fed RAW FACT ROWS (no aggregate or
    limit between the exchange and a file scan). The census long
    claimed 1-part exchanges sit only over post-aggregate
    metadata-scale frames; this makes the claim machine-checked."""
    nodes = _parse_tree(plan)
    details = _details_of(plan)
    bad: list[str] = []
    for n in nodes:
        if n["name"].split()[0] != "Exchange":
            continue
        if "SinglePartition" not in details.get(n["id"], ""):
            continue
        for child in n["children"]:
            if _subtree_fact_scale(child, details):
                bad.append(
                    f"1-part Exchange ({n['id']}) input is fact-scale "
                    f"(root {child['name']})"
                )
    return bad


def bnlj_unbounded(plan: str) -> list[str]:
    """Names/ids of BNLJ nodes whose broadcast side is NOT row-bounded."""
    nodes = _parse_tree(plan)
    details = _details_of(plan)
    bad: list[str] = []
    for n in nodes:
        if not n["name"].startswith("BroadcastNestedLoopJoin"):
            continue
        build_right = "BuildLeft" not in n["name"]
        if len(n["children"]) != 2:
            bad.append(f"BNLJ ({n['id']}): malformed tree ({len(n['children'])} children)")
            continue
        side = n["children"][1 if build_right else 0]
        if _subtree_unbounded(side, details):
            bad.append(f"BNLJ ({n['id']}) build side unbounded (root {side['name']})")
    return bad


def audit(name: str, plan: str) -> dict:
    return {
        "name": name,
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "single_part": len(re.findall(r"SinglePartition", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "shj": len(re.findall(r"ShuffledHashJoin", plan)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "codegen": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "py_row": len(re.findall(r"BatchEvalPython", plan)),
        "py_arrow": len(re.findall(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", plan)),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "bnlj_bad": bnlj_unbounded(plan),
        "sp_bad": singlepart_unbounded(plan),
    }


def main() -> int:
    from loan_default_prediction_app_big_data_spark.pinning import release_local_checkpoints
    from loan_default_prediction_app_big_data_spark.plans.registry import REGISTRY
    from loan_default_prediction_app_big_data_spark.session import get_spark

    spark = get_spark(app_name="plan-audit")
    rows, errors = [], []
    for name, spec in REGISTRY.items():
        if MATERIALIZED.search(name):
            continue
        try:
            df = spec.fn(spark, SF_DIR)
            plan = plan_of(df)
            # Free the frame's eager localCheckpoint pins before the
            # next build; one session builds the whole census.
            release_local_checkpoints(df)
            rows.append(audit(name, plan))
        except Exception as e:  # noqa: BLE001
            errors.append((name, str(e).splitlines()[0][:100]))

    _UDTF_WHITELIST = {"udtf_price_tranches", "udtf_table_argument"}
    flags = []
    for r in rows:
        if r["cartesian"] and r["name"] != "als_recommendations":
            # als_recommendations: MLlib recommendForUserSubset scores
            # via a blocked user-factor x item-factor cross product —
            # the intended dense-GEMM shape (each side is a handful of
            # factor blocks, not the ratings table), not an accident.
            flags.append(f"{r['name']}: CartesianProduct x{r['cartesian']}")
        for msg in r["bnlj_bad"]:
            flags.append(f"{r['name']}: {msg}")
        if r["name"] not in _GLOBAL_ORDER_STAT:
            for msg in r["sp_bad"]:
                flags.append(f"{r['name']}: {msg}")
        if r["py_row"] and r["name"] not in _UDTF_WHITELIST:
            # The two UDTF API demos are deliberate row-at-a-time
            # Python (SURVEY.md round-3/4 notes: non-hot-path policy,
            # pre-bounded inputs/outputs).
            flags.append(f"{r['name']}: BatchEvalPython x{r['py_row']} (row-at-a-time Python)")

    # Single-partition exchanges are expected ONLY over metadata-scale
    # aggregates (band/bucket/day keys); list the heaviest users so a
    # reviewer can spot one sitting on a fact table.
    sp = sorted((r for r in rows if r["single_part"]), key=lambda r: -r["single_part"])

    tot = lambda k: sum(r[k] for r in rows)  # noqa: E731
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_AUDIT.md"), "w") as f:
        f.write("# PLAN_AUDIT — auto-generated physical-plan census\n\n")
        f.write(f"`python scripts/plan_audit.py` over {len(rows)} batch queries "
                f"at `{SF_DIR}` (streaming/roundtrip queries excluded — they "
                "materialize outside the returned plan).\n\n")
        f.write("## Totals\n\n")
        f.write(f"- queries audited: **{len(rows)}** (+{len(errors)} errors)\n")
        f.write(f"- exchanges: {tot('exchanges')} (single-partition: {tot('single_part')})\n")
        f.write(f"- joins: {tot('bhj')} broadcast-hash, {tot('smj')} sort-merge, "
                f"{tot('shj')} shuffled-hash, {tot('bnlj')} broadcast-NL\n")
        n_bad_bnlj = sum(len(r["bnlj_bad"]) for r in rows)
        f.write(f"- BNLJ build sides: "
                + ("**all bounded** (every broadcast side derives from a "
                   "global aggregate, limit, or literal frame)\n"
                   if n_bad_bnlj == 0 else
                   f"**{n_bad_bnlj} UNBOUNDED** (see red flags)\n"))
        global_order = sorted(
            r["name"] for r in rows
            if r["sp_bad"] and r["name"] in _GLOBAL_ORDER_STAT
        )
        n_bad_sp = sum(
            len(r["sp_bad"]) for r in rows
            if r["name"] not in _GLOBAL_ORDER_STAT
        )
        f.write("- 1-part exchange inputs: "
                + (f"**all bounded** outside the {len(global_order)} "
                   "whitelisted exact global-order-statistic queries "
                   f"({', '.join(global_order)} — each names its "
                   "approx/partitioned 100 TB swap)\n"
                   if n_bad_sp == 0 else
                   f"**{n_bad_sp} UNBOUNDED** (see red flags)\n"))
        f.write(f"- WholeStageCodegen spans: {tot('codegen')}\n")
        f.write(f"- Arrow-vectorized Python ops: {tot('py_arrow')}; "
                f"row-at-a-time Python: **{tot('py_row')}**\n")
        f.write(f"- CartesianProduct nodes: **{tot('cartesian')}**\n")
        f.write(f"- scans with pushed filters: {tot('pushed')}\n\n")
        f.write("## Red flags\n\n")
        if flags:
            f.writelines(f"- {x}\n" for x in flags)
        else:
            f.write("No unexpected flags. Whitelisted (deliberate, see "
                    "Totals): als_recommendations' CartesianProduct nodes "
                    "(MLlib ALS blocked factor cross-product) and the "
                    "udtf_price_tranches / udtf_table_argument "
                    "row-at-a-time Python (the two UDTF API demos).\n")
        f.write("\n## Single-partition exchanges (all over post-aggregation "
                "metadata-scale frames)\n\n")
        f.write("| query | single-partition exchanges | total exchanges |\n|---|---|---|\n")
        for r in sp:
            f.write(f"| {r['name']} | {r['single_part']} | {r['exchanges']} |\n")
        if errors:
            f.write("\n## Errors\n\n")
            f.writelines(f"- {n}: {e}\n" for n, e in errors)
        f.write("\n## Per-query census\n\n")
        f.write("| query | exch | 1-part | BHJ | SMJ | SHJ | codegen | arrowPy | pushed |\n")
        f.write("|---|---|---|---|---|---|---|---|---|\n")
        for r in sorted(rows, key=lambda r: r["name"]):
            f.write(f"| {r['name']} | {r['exchanges']} | {r['single_part']} | "
                    f"{r['bhj']} | {r['smj']} | {r['shj']} | {r['codegen']} | "
                    f"{r['py_arrow']} | {r['pushed']} |\n")
    print(f"audited {len(rows)} queries, {len(errors)} errors, "
          f"{len(flags)} red flags -> PLAN_AUDIT.md")
    return 1 if flags else 0


if __name__ == "__main__":
    raise SystemExit(main())
