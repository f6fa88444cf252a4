#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001 with tiny counts.

    python3 perfbench/selftest.py

Checks, in about two minutes:

1. every workload, traced and untraced, emits exactly the metric names
   and units of BENCHMARK.json, with finite values and positive
   end-to-end values;
2. a corrupted frozen query fingerprint, and a corrupted frozen loan
   fit, are each reported as a failed operation (``error_rate`` > 0,
   ``correct`` false);
3. ``compare.py`` refuses runs taken at different core counts or scale
   factors.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import compare  # noqa: E402
import run as bench  # noqa: E402
import workloads  # noqa: E402

SF = 0.001
SHORT = ["count_rows", "window_lag_lead"]
HEAVY = ["streaming_session_window", "delta_vacuum_roundtrip"]


class TinyPools:
    """Builds the workloads on sf0.001 pools and a 2x loan replica, their
    frozen values taken on the spot, optionally with one corrupted."""

    def __init__(self, corrupt: bool = False) -> None:
        self.corrupt = corrupt

    def __call__(self, name: str, ctx: workloads.Ctx):
        ctx.sf = SF
        if name == "loan_ml":
            return self.loan(ctx)
        pool = [{"name": n, "group": n, "check": "hash", "rows": 0, "hash": ""} for n in SHORT + HEAVY]
        wl = workloads.QueryWorkload(ctx, pool)
        setup_round = wl.setup_round

        def setup_and_freeze(i: int) -> None:
            setup_round(i)
            if i == workloads.SETUP_ROUNDS - 1:
                self.freeze(wl)

        wl.setup_round = setup_and_freeze
        return wl

    def freeze(self, wl: workloads.QueryWorkload) -> None:
        from loan_default_prediction_app_big_data_spark.plans.registry import REGISTRY

        for e in wl.draw:
            df = REGISTRY[e["name"]].fn(wl.ctx.spark, wl.sf_dir)
            e.update(workloads.fingerprint(df.columns, df.collect()))
        if self.corrupt:
            wl.draw[0]["hash"] = "0" * 16

    def loan(self, ctx: workloads.Ctx) -> workloads.LoanWorkload:
        wl = workloads.LoanWorkload(ctx, replicas=2)
        warm_pass = wl.warm_pass

        def freeze_and_warm() -> None:
            wl.frozen = {"cpus": bench.host_cpus(), "fit": wl.reference_fit()}
            if self.corrupt:
                wl.frozen["fit"]["objective_history_len"] += 1
            warm_pass()

        wl.warm_pass = freeze_and_warm
        return wl


def check(ok: bool, what: str, failures: list[str]) -> None:
    print(("PASS " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def check_names(contract: dict, failures: list[str]) -> None:
    for workload in bench.WORKLOADS:
        for trace in (False, True):
            report, result = bench.run(workload, 7, 0.01, trace, make=TinyPools())
            spec = contract["per_layer" if trace else "end_to_end"]
            got = result["metrics"]
            tag = f"{workload} trace={int(trace)}"
            check(list(got) == [m["name"] for m in spec], f"{tag}: metric names", failures)
            check(all(got[m["name"]]["unit"] == m["unit"] for m in spec), f"{tag}: units", failures)
            check(all(math.isfinite(v["value"]) for v in got.values()), f"{tag}: finite values", failures)
            if not trace:
                check(all(v["value"] > 0 for v in got.values()), f"{tag}: end-to-end values > 0", failures)
            check(result["correct"] and result["failed"] == 0, f"{tag}: correct ({report['errors']})", failures)


def check_corrupt_frozen(failures: list[str]) -> None:
    for workload, what in (("queries", "fingerprint"), ("loan_ml", "loan fit")):
        report, result = bench.run(workload, 7, 0.01, False, make=TinyPools(corrupt=True))
        check(result["failed"] >= 1 and not result["correct"] and report["error_rate"] > 0,
              f"corrupted frozen {what} counted as a failure (error_rate {report['error_rate']:.3f})", failures)


def check_refusal(failures: list[str]) -> None:
    def runs(cpus: int, sf: float) -> list[tuple[dict, dict]]:
        return [({"workload": "queries", "cpus": cpus, "sf": sf},
                 {"metrics": {"pass_s": {"value": 1.0, "unit": "s"}}})]

    contract = bench.load_contract()
    for other, what in (((8, 0.01), "core counts"), ((4, 0.1), "scale factors")):
        try:
            compare.compare(runs(4, 0.01), runs(*other), contract)
            refused = False
        except compare.Refused:
            refused = True
        check(refused, f"compare refuses different {what}", failures)
    rows = compare.compare(runs(4, 0.01), runs(4, 0.01), contract)
    check(len(rows) == 1 and rows[0]["verdict"] != "worse", "compare accepts matching runs", failures)


def main() -> int:
    failures: list[str] = []
    check_refusal(failures)
    check_corrupt_frozen(failures)
    check_names(bench.load_contract(), failures)
    print(json.dumps({"selftest": "fail" if failures else "pass", "failures": failures}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
