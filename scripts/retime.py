#!/usr/bin/env python
"""Standalone idle-machine retime for flagged bench queries.

Times each named query with bench.py's protocol (``harness.warm_session``
once, then ``harness.run_query`` per iteration on the tuned session at
$SPARK_GRAFT_SF_DIR, default sf0.1) but loops N iterations per query,
so a single hypervisor vCPU-pause draw is visibly an outlier inside an
otherwise-steady run — the r6/r7 refutation protocol (PERF.md "host
degradation evidence").

A StreamingQueryListener prints every micro-batch's ``durationMs``
breakdown for the streaming queries the named queries start, e.g.
``retime.py sqlite_cdc_streaming_tail sqlite_streaming_sink_roundtrip``
gives the per-batch table of the sqlite streaming pair.

Usage:
    python scripts/retime.py [-n ITERS] query [query ...]

Prints one line per iteration, with the codegen classes that run
compiled (``harness.codegen_compiles``; a warm iteration should show
0), and a final JSON summary
{name: {"runs": [...], "steady": min-of-tail, "cold": first}}.
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql.streaming import StreamingQueryListener

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from loan_default_prediction_app_big_data_spark.harness import (  # noqa: E402
    codegen_compiles,
    run_query,
    warm_session,
)
from loan_default_prediction_app_big_data_spark.plans.registry import REGISTRY  # noqa: E402
from loan_default_prediction_app_big_data_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DURATIONS = (
    "triggerExecution", "latestOffset", "queryPlanning", "getBatch",
    "addBatch", "walCommit", "commitOffsets",
)


class BatchDurations(StreamingQueryListener):
    """Prints one line per micro-batch progress event."""

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        dur = " ".join(f"{k}={p.durationMs.get(k)}" for k in DURATIONS)
        print(f"  batch={p.batchId} rows={p.numInputRows} {dur}", flush=True)

    def onQueryTerminated(self, event) -> None:
        pass


def main() -> int:
    args = sys.argv[1:]
    iters = 6
    if args and args[0] == "-n":
        iters = int(args[1])
        args = args[2:]
    names = [n for n in args if n in REGISTRY]
    unknown = [n for n in args if n not in REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 1

    spark = get_spark(app_name="retime")
    warm_session(spark, SF_DIR)
    spark.streams.addListener(BatchDurations())
    # Progress events reach the listener asynchronously; draining the
    # bus after each run keeps its batch lines above its iter line.
    bus = spark.sparkContext._jsc.sc().listenerBus()

    load1 = os.getloadavg()[0]
    print(f"# load1={load1:.2f} sf_dir={SF_DIR} iters={iters}")
    out: dict[str, dict] = {}
    for name in names:
        runs: list[float] = []
        for i in range(iters):
            before = codegen_compiles(spark)
            runs.append(round(run_query(spark, name, SF_DIR), 2))
            compiles = codegen_compiles(spark) - before
            bus.waitUntilEmpty()
            print(f"{name} iter{i} {runs[-1]}s compiles={compiles}", flush=True)
        out[name] = {
            "runs": runs,
            "cold": runs[0],
            "steady": min(runs[1:]) if len(runs) > 1 else runs[0],
        }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
