#!/usr/bin/env python
"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit", "queries": {name: sec}, "sf"}.

Each query run is `harness.run_query` (`fn` plus a `noop` save, pins
released off the clock) after one `harness.warm_session`; this file
owns only the sampling policy and the report.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from loan_default_prediction_app_big_data_spark.harness import (  # noqa: E402
    run_query,
    warm_session,
)
from loan_default_prediction_app_big_data_spark.plans.registry import REGISTRY  # noqa: E402
from loan_default_prediction_app_big_data_spark.session import get_spark  # noqa: E402
from loan_default_prediction_app_big_data_spark.pinning import RELEASE_STATS  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# Streaming query included: it runs the same windowed agg via the
# streaming engine (memory sink) — its time IS comparable work.


def run() -> None:
    spark = get_spark(app_name="bench")
    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    warm_session(spark, SF_DIR)

    # Load the previously COMMITTED snapshot before overwriting it, so
    # the emitted artifact itself shows per-query deltas (BENCH_r03
    # recorded 2-7x environmental inflation on ~5 queries that a clean
    # rerun couldn't reproduce — make that noise visible in-band).
    prev_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_full.json"
    )
    prev_queries: dict[str, float] = {}
    if os.path.exists(prev_path):
        try:
            with open(prev_path) as fh:
                prev_queries = json.load(fh).get("queries", {})
        except (OSError, ValueError):
            prev_queries = {}

    # Best-of-2 per query, plus an ADAPTIVE third run when the two
    # samples disagree >1.5x (GC pause / concurrent-load noise): min is
    # the standard steady-state estimator for a long-lived cluster
    # session, and the third sample keeps one bad draw from inflating
    # it without tripling total bench wall-clock.
    import gc

    timings: dict[str, float] = {}
    streaming_steady: dict[str, float] = {}
    unstable = 0
    for qi, (name, spec) in enumerate(REGISTRY.items()):
        runs = [run_query(spark, name, SF_DIR) for _ in range(2)]
        if max(runs) > 1.5 * min(runs) and max(runs) - min(runs) > 0.5:
            unstable += 1
            runs.append(run_query(spark, name, SF_DIR))
        timings[name] = round(min(runs), 3)
        # Streaming replays pay checkpoint/state-store setup EVERY run,
        # so their wall-time is noise-prone; record the second-replay
        # sample separately so a driver-run inflation is separable from
        # a real regression (VERDICT r5 item 6: r5 flagged 7-10x
        # inflations on streaming queries that steady reruns refuted).
        if "streaming" in getattr(spec, "tags", ()):
            streaming_steady[name] = round(min(runs[1:]), 3)
        # localCheckpoint()ed RDDs stay pinned until their Python
        # DataFrame is garbage-collected AND the ContextCleaner
        # processes the release; across ~770 query executions the lag
        # compounds into JVM storage/GC pressure (VERDICT r8 item 4b).
        # A periodic collect() drains the py4j references promptly so
        # the cleaner can unpersist between queries, off the clock.
        if qi % 25 == 24:
            gc.collect()

    # ML parity pipeline + single-row serving latency (BASELINE.md
    # self-defined targets), on the loan golden fixture.
    loan_csv = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "Loan_Default.csv")
    if os.path.exists(loan_csv):
        from loan_default_prediction_app_big_data_spark.ml import (
            fit_loan_model,
            predict_single_row,
        )
        from loan_default_prediction_app_big_data_spark.sources.readers import (
            read_loan_csv,
        )

        start = time.perf_counter()
        model = fit_loan_model(read_loan_csv(spark, loan_csv))
        timings["ml_loan_pipeline_fit_eval"] = round(time.perf_counter() - start, 3)

        # 100x synthetic replica (BASELINE.md ML-scale target):
        # deterministic jitter derived from (ID, replica index).
        from pyspark.sql import functions as F

        loan = read_loan_csv(spark, loan_csv)
        jitter = (F.xxhash64("ID", "rep") % 1000) / 10000.0  # [-0.05, 0.1)
        loan_100x = (
            loan.crossJoin(spark.range(100).select(F.col("id").alias("rep")))
            .withColumn("loan_amount", (F.col("loan_amount") * (1 + jitter)).cast("int"))
            .withColumn("income", (F.col("income") * (1 + jitter)).cast("int"))
            .drop("rep")
        )
        start = time.perf_counter()
        fit_loan_model(loan_100x)
        timings["ml_loan_pipeline_fit_eval_100x"] = round(time.perf_counter() - start, 3)

        row = dict(
            loan_amount=100000.0, rate_of_interest=4.0, property_value=500000.0,
            income=120000.0, Credit_Score=800.0, LTV=20.0,
        )
        lat = []
        for _ in range(5):
            start = time.perf_counter()
            predict_single_row(spark, model.pipeline_model, model.lr_model, row)
            lat.append(time.perf_counter() - start)
        timings["ml_single_row_serve_p50"] = round(sorted(lat)[len(lat) // 2], 3)

    total = round(sum(timings.values()), 3)

    # Environment telemetry: 1-min load average and cumulative JVM GC
    # time, so a noisy driver run is diagnosable from the artifact.
    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover - non-POSIX
        load1 = None
    try:
        beans = (
            spark.sparkContext._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        gc_ms = sum(
            beans.get(i).getCollectionTime() for i in range(beans.size())
        )
    except Exception:  # pragma: no cover - JVM introspection best-effort
        gc_ms = None

    # Top regressions vs the committed snapshot (>1.5x and >1 s) —
    # in-band noise visibility per VERDICT r3 task 5.
    deltas = {}
    for name, sec in timings.items():
        prev = prev_queries.get(name)
        if prev and sec > 1.5 * prev and sec - prev > 1.0:
            deltas[name] = [prev, sec]
    top_regressions = dict(
        sorted(deltas.items(), key=lambda kv: kv[1][0] - kv[1][1])[:8]
    )

    payload = {
        "metric": "total_wall_clock_all_queries",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "load1": load1,
        "gc_ms": gc_ms,
        "n_third_runs": unstable,
        "regressions_vs_committed": top_regressions,
        "streaming_steady_s": streaming_steady,
        # One streaming query, two numbers (VERDICT r8 item 6): the
        # entry in "queries" is the best of ALL runs including the
        # first (the contract cost, checkpoint/state setup billed);
        # "streaming_steady_s" is the best EXCLUDING the first run —
        # the warm-replay estimate that separates one-time setup and
        # host stalls from real plan regressions. steady > queries is
        # normal when a stall hit the later replays.
        "field_docs": {
            "queries": "min of all runs incl first",
            "streaming_steady_s": "min of runs after first (warm replay)",
        },
        # release_local_checkpoints walks private JVM internals and
        # swallows failures; calls >> released here is the signal that
        # a Spark bump silently no-op'd it and pins are accumulating
        # again (ADVICE r9 item 1).
        "pin_release": dict(RELEASE_STATS),
    }
    # Full per-query timings of EVERY run land in bench_full_last.json;
    # bench_full.json is the COMMITTED comparison baseline and only
    # refreshes from a clean draw (_snapshot_is_clean) — the round-6
    # driver run clobbered the 386.6 s idle snapshot with a degraded
    # 536.5 s draw (gc_ms 33.9 s), which would have masked real
    # regressions in every later comparison. PERF.md documents the
    # idle-machine-only snapshot discipline; this gate automates it
    # with the run's own telemetry. stdout gets a line guaranteed to
    # fit the harness's 2000-char stdout-tail capture — round 1's
    # 96-entry line exceeded it and recorded as parsed:null.
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "bench_full_last.json"), "w") as fh:
        json.dump(payload, fh, indent=1)
    snap = os.path.join(here, "bench_full.json")
    if _should_refresh_snapshot(payload, snap):
        with open(snap, "w") as fh:
            json.dump(payload, fh, indent=1)
    print(_compact_line(payload))


def _should_refresh_snapshot(payload: dict, snap_path: str) -> bool:
    """Refresh the committed baseline only from a clean draw AT THE
    SAME scale factor that is NOT regression-shaped vs the standing
    baseline — both guards were added after live misses: a clean
    sf0.001 smoke replaced the sf0.1 baseline, then a 555 s degraded
    draw slipped the gc gate at gc 11.5 s. A run slower than
    _CLEAN_TOTAL_RATIO x the baseline needs investigating (or
    SPARK_GRAFT_SNAPSHOT=force after a deliberate slowdown) before it
    may become the thing later runs are compared against."""
    if os.environ.get("SPARK_GRAFT_SNAPSHOT") == "force":
        return True
    if not os.path.exists(snap_path):
        # Seeding is not exempt from the cleanliness gate (ADVICE r7):
        # a degraded first draw would otherwise become the standing
        # baseline, and it only self-heals if a later clean draw is
        # FASTER — the ratio guard blocks slower cleans.
        return _snapshot_is_clean(payload)
    if not _snapshot_is_clean(payload):
        return False
    try:
        with open(snap_path) as fh:
            prev = json.load(fh)
    except (OSError, ValueError):
        return True
    if payload.get("sf") != prev.get("sf"):
        return False
    prev_total = prev.get("value")
    new_total = payload.get("value")
    if prev_total and new_total and new_total > _CLEAN_TOTAL_RATIO * prev_total:
        return False
    return True


#: Every committed idle-machine snapshot measured gc_ms 3.6-4.9 s;
#: documented host-degraded draws measured 11.5-76.2 s (PERF.md
#: round-6/7 evidence — a 555 s degraded draw with gc 11.5 s slipped
#: a first-cut 15 s threshold live). 8 s splits the populations.
_CLEAN_GC_MS = 8_000

#: A run slower than this multiple of the standing baseline total is
#: regression-shaped: investigate it (or force with
#: SPARK_GRAFT_SNAPSHOT=force) before it may BECOME the baseline.
_CLEAN_TOTAL_RATIO = 1.15


def _snapshot_is_clean(payload: dict) -> bool:
    """True when a run's own telemetry says the host was healthy
    enough for the run to serve as the regression baseline. gc_ms is
    the separator (hypervisor vCPU pauses are attributed to whatever
    was running — usually GC — so degraded draws show 2.5-20x the
    idle-draw GC wall); a missing reading defaults to clean so
    non-JVM-introspectable environments still refresh."""
    gc_ms = payload.get("gc_ms")
    return gc_ms is None or gc_ms < _CLEAN_GC_MS


# A17 latency tiers must appear in EVERY driver snapshot (VERDICT r4
# item 9): serve-p50 and the 1x fit are cheap, so the
# drop-cheapest-first truncation silently omitted them in r4.
_PINNED = ("ml_single_row_serve_p50", "ml_loan_pipeline_fit_eval",
           "ml_loan_pipeline_fit_eval_100x")


def _compact_line(payload: dict, budget: int = 1900) -> str:
    """Serialize under `budget` bytes: compact separators, 2-dp values,
    then shed in priority order (VERDICT r6 item 5):

    1. A bloated ``regressions_vs_committed`` dict is collapsed to a
       ``{"shed_flags": n}`` marker FIRST — the full dict always lands
       in bench_full.json, and a high-flag-count run must not crowd
       the per-query timings and ``streaming_steady_s`` samples (the
       in-band evidence that exonerates host-degradation draws) out
       of the stdout line.
    2. Cheapest NON-PINNED queries drop next (tracked in
       omitted/omitted_sum_s so the total still reconciles).
    3. The diagnostic dicts are deleted outright as the last resort —
       pinned entries can't be dropped, so step 2 alone can't always
       fit the budget (ADVICE r5 item 4)."""
    q = {k: round(v, 2) for k, v in payload["queries"].items()}
    payload = {**payload, "queries": q}
    s = json.dumps(payload, separators=(",", ":"))
    if len(s) > budget and payload.get("regressions_vs_committed"):
        payload["regressions_vs_committed"] = {
            "shed_flags": len(payload["regressions_vs_committed"])
        }
        s = json.dumps(payload, separators=(",", ":"))
    for name in sorted(q, key=q.get):
        if len(s) <= budget:
            break
        if name in _PINNED:
            continue
        payload["omitted"] = payload.get("omitted", 0) + 1
        payload["omitted_sum_s"] = round(payload.get("omitted_sum_s", 0.0) + q.pop(name), 2)
        s = json.dumps(payload, separators=(",", ":"))
    for extra in ("pin_release", "field_docs", "regressions_vs_committed",
                  "streaming_steady_s"):
        if len(s) > budget and extra in payload:
            del payload[extra]
            s = json.dumps(payload, separators=(",", ":"))
    return s


if __name__ == "__main__":
    run()
