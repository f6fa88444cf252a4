#!/usr/bin/env python3
"""Derive and freeze the benchmark's query pools and loan-model values.

    python3 perfbench/freeze.py

Maintenance tool, run once per engine version that the benchmark is
re-based on; the benchmark itself never reads ``bench_full.json``.

1. Candidates come from ``bench_full.json`` (per-query seconds at sf0.1)
   and the registry tags. The ``queries`` pool holds two parts: sub-second,
   non-streaming relational/agg/window/stats/sql/credit queries in
   cost-adjacent groups, and the heavy tail in ``HEAVY``, grouped by
   mechanism. A run draws one query of each group.
2. Each candidate runs on generated fixtures (``fixtures.py``) on two
   layouts: ``local[<cores>]`` and ``local[2]`` with 7 shuffle
   partitions, twice on the first. Its output must match the registry's
   DuckDB oracle (``tests/_oracle.py``). A query whose fingerprint is
   the same everywhere is checked by hash; one whose row count is
   stable but whose values follow the layout is checked by row count;
   anything else is left out, with the reason printed.
3. ``loan_ml``: ``fit_summary`` of the replica at the fixed reference
   jitter seed, at this host's core count (the fit follows the
   partition layout). Every ``loan_ml`` run refits it and checks it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

import fixtures  # noqa: E402
import run as bench  # noqa: E402
import workloads  # noqa: E402

SF = 0.01
SHORT_TAGS = {"relational", "agg", "window", "stats", "sql", "credit"}
SHORT_EXCLUDED_TAGS = {
    "streaming", "sink", "source", "ml", "iterative", "udf", "pandas-udf",
    "dedup", "text", "similarity", "multimodal", "llm-pipeline", "textprep",
    "mining", "recommendation", "scripting", "layout", "upsert", "sampling",
}
SHORT_POOL = 40
#: Short queries per pass: one from each of this many cost-adjacent
#: groups of the short part of the pool.
SHORT_GROUPS = 8
#: The heavy tail, one group per mechanism that the short queries bypass;
#: a draw takes one query of each group. Members of a group took the
#: same time within 10% in full runs, so the draw moves a pass by about
#: 2%. Left out so that a run stays within its time budget: the
#: scripting bisection (8 s), the sqlite streaming tails (7-12 s), the
#: sqlite round trips (their Python DataSource workers add about 8 s of
#: warm-up to every run), and the Delta sink round trips and the pinned
#: tokenizer/near-dup trainings (each group adds 5-8 s to a run).
HEAVY = {
    "eager": {
        "fpgrowth_frequent_itemsets": "MLlib FP-growth fitted inside the query over a pinned basket frame",
    },
    "widen": {
        "ngram_jaccard_pairs": "dedup shingle pass widened to the core count",
        "minhash_lsh_dedup": "minhash signatures over a widened scan",
    },
    "streaming": {
        "streaming_session_window": "streaming replay with session-window state",
        "streaming_dedup": "streaming replay with dedup state",
        "streaming_sliding_window": "streaming replay, sliding windows",
        "streaming_tumbling_window": "streaming replay, tumbling windows",
    },
}


def candidates() -> dict[str, dict[str, tuple[str, str]]]:
    """part -> {query: (group, reason)}; short groups are set later by cost."""
    from loan_default_prediction_app_big_data_spark.plans.registry import REGISTRY

    with open(os.path.join(ROOT, "bench_full.json")) as fh:
        secs = json.load(fh)["queries"]
    short = sorted(
        (secs[n], n)
        for n, spec in REGISTRY.items()
        if n in secs and secs[n] < 1.0
        and set(spec.tags) & SHORT_TAGS and not set(spec.tags) & SHORT_EXCLUDED_TAGS
    )
    # Spread over the whole sub-second cost range, not just the cheapest.
    step = len(short) / (SHORT_POOL * 1.5)
    picked = [short[int(i * step)] for i in range(int(SHORT_POOL * 1.5))]
    return {
        "short": {n: ("", f"sub-second at sf0.1 ({s:.2f} s in bench_full.json), tags {','.join(REGISTRY[n].tags)}")
                        for s, n in picked},
        "heavy": {n: (g, f"{why}; {secs[n]:.2f} s at sf0.1 in bench_full.json")
                        for g, members in HEAVY.items() for n, why in members.items()},
    }


def probe(spark, sf_dir: str, names: list[str], runs: int) -> dict[str, dict]:
    from loan_default_prediction_app_big_data_spark.pinning import release_local_checkpoints
    from loan_default_prediction_app_big_data_spark.plans.registry import REGISTRY

    out = {}
    for n in names:
        spec = REGISTRY[n]
        r: dict = {"fp": []}
        try:
            for _ in range(runs):
                df = spec.fn(spark, sf_dir)
                r["fp"].append(workloads.fingerprint(df.columns, df.collect()))
                release_local_checkpoints(df)
                t0 = time.perf_counter()
                df = spec.fn(spark, sf_dir)
                df._jdf.queryExecution().executedPlan()
                df.write.format("noop").mode("overwrite").save()
                r["cost_s"] = time.perf_counter() - t0
                release_local_checkpoints(df)
        except Exception as exc:
            r["error"] = repr(exc)[:200]
        out[n] = r
        print(n, r, file=sys.stderr, flush=True)
    return out


def oracle_errors(spark, sf_dir: str, names: list[str]) -> dict[str, list[str]]:
    import _oracle

    from loan_default_prediction_app_big_data_spark.plans.registry import REGISTRY

    con = _oracle.duckdb_connection(sf_dir)
    errs = {}
    for n in names:
        try:
            errs[n] = _oracle.compare(REGISTRY[n].fn(spark, sf_dir), con.execute(REGISTRY[n].oracle).df())
        except Exception as exc:
            errs[n] = [repr(exc)[:200]]
    return errs


def session(tmp: str, master: str | None, partitions: int | None):
    from loan_default_prediction_app_big_data_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench-freeze", master=master, shuffle_partitions=partitions,
        extra_conf={"spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def freeze_queries(tmp: str) -> list[dict]:
    cands = candidates()
    names = sorted(set(cands["short"]) | set(cands["heavy"]))
    sf_dir = os.path.join(tmp, "fx")
    fixtures.generate(sf_dir, SF)

    spark = session(tmp, None, None)
    workloads.warm_session(spark, sf_dir)
    a = probe(spark, sf_dir, names, runs=2)
    oracle = oracle_errors(spark, sf_dir, names)
    bench.stop_session(spark)
    spark = session(tmp, "local[2]", 7)
    workloads.warm_session(spark, sf_dir)
    b = probe(spark, sf_dir, names, runs=1)
    bench.stop_session(spark)

    parts: dict = {}
    for part, reasons in cands.items():
        kept = []
        for n, (group, why) in reasons.items():
            fps = a[n].get("fp", []) + b[n].get("fp", [])
            if "error" in a[n] or "error" in b[n] or len(fps) < 3:
                print(f"drop {n}: {a[n].get('error') or b[n].get('error')}", file=sys.stderr)
                continue
            if oracle[n]:
                print(f"drop {n}: oracle mismatch {oracle[n][:1]}", file=sys.stderr)
                continue
            if len({f["rows"] for f in fps}) > 1:
                print(f"drop {n}: row count follows layout {fps}", file=sys.stderr)
                continue
            check = "hash" if len({f["hash"] for f in fps}) == 1 else "rows"
            kept.append({"name": n, "group": group, "reason": why, "cost_s": round(a[n]["cost_s"], 4),
                         "check": check, "rows": fps[0]["rows"], "hash": fps[0]["hash"]})
        parts[part] = kept
    # The short pool keeps SHORT_POOL queries spread over the cost range,
    # in SHORT_GROUPS cost-adjacent groups: a draw takes one of each.
    short = sorted(parts["short"], key=lambda e: e["cost_s"])
    step = len(short) / SHORT_POOL
    short = [short[int(i * step)] for i in range(min(SHORT_POOL, len(short)))]
    for i, e in enumerate(short):
        e["group"] = f"cost{i * SHORT_GROUPS // len(short)}"
    return short + parts["heavy"]


def freeze_loan(tmp: str) -> dict:
    spark = session(tmp, None, None)
    try:
        ctx = workloads.Ctx(spark, ROOT, tmp, 0, 0, False, SF)
        fit = workloads.LoanWorkload(ctx).reference_fit()
    finally:
        bench.stop_session(spark)
    print("loan reference fit", fit, file=sys.stderr, flush=True)
    return {"cpus": bench.host_cpus(), "fit": fit}


def main() -> int:
    argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter).parse_args()
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"freeze-{os.getpid()}")
    os.makedirs(tmp)
    bench.prepare_env(tmp)
    try:
        pools = {"sf": SF, "queries": freeze_queries(tmp), "loan_ml": freeze_loan(tmp)}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(workloads.POOLS_FILE, "w") as fh:
        json.dump(pools, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
