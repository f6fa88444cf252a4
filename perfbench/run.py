#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {queries,loan_ml} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One process, one client thread, on
``local[<cores>]``. Prints a report line (host, versions, the
workload's own metric names, errors) and, as the last line, the result:
``{"correct", "attempted", "failed", "metrics"}`` with every end-to-end
metric of BENCHMARK.json (``--trace 0``) or every per-layer metric
(``--trace 1``). Exits non-zero without a result when the engine
package or its inputs are missing.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "loan_default_prediction_app_big_data_spark"
WORKLOADS = ("queries", "loan_ml")


def host_cpus() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of physical memory, between 1 and 4 GiB: the data is
    small, and the host is shared."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, total // 4 // 2**30))}g"


def prepare_env(tmp: str) -> None:
    """Host setup through the engine's public knobs, before Spark starts."""
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Python workers (pandas UDFs, DataSources) import the package too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    import tempfile

    tempfile.tempdir = tmp


def start_session(tmp: str):
    from loan_default_prediction_app_big_data_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def jvm_live_heap_mb(spark) -> float:
    """Heap in use after a full collection: what the session retains."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def environment(spark, sf: float) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "cpus": host_cpus(),
        "sf": sf,
        "load1": os.getloadavg()[0],
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "versions": {
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "spark": spark.version,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "numpy": numpy.__version__,
            "pyarrow": pyarrow.__version__,
        },
    }


def load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def metrics_block(contract: dict, trace: bool, values: dict) -> dict:
    """Exactly the contract's metrics for this mode, with their units."""
    spec = contract["per_layer" if trace else "end_to_end"]
    names = {m["name"] for m in spec}
    if set(values) != names:
        raise RuntimeError(f"measured {sorted(values)} but BENCHMARK.json names {sorted(names)}")
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec}


def run(workload: str, seed: int, seconds: float, trace: bool, make=None) -> tuple[dict, dict]:
    """Set up, measure and check one workload; returns (report, result).
    ``make(name, ctx)`` builds the workload (default ``workloads.make``)."""
    import workloads

    make = make or workloads.make
    contract = load_contract()
    sf = workloads.load_pools()["sf"]
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    prepare_env(tmp)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(tmp)
        start_s = time.perf_counter() - t0
        ctx = workloads.Ctx(spark, ROOT, tmp, seed, seconds, trace, sf)
        wl = make(workload, ctx)
        rounds = []
        for i in range(workloads.SETUP_ROUNDS):
            t0 = time.perf_counter()
            wl.setup_round(i)
            rounds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_pass()
        warm_s = time.perf_counter() - t0
        m = wl.measure()
        setup_s = start_s + statistics.median(rounds) + warm_s
        peak_rss, live_heap = jvm_peak_rss_mb(spark), jvm_live_heap_mb(spark)
        values = {"setup_s": setup_s, "pass_s": m["pass_s"], "op_geomean_ms": m["op_geomean_ms"]}
        if trace:
            # A layer the workload never calls reads 0.
            values = {x["name"]: 0.0 for x in contract["per_layer"]}
            values.update(m["layers"], **{"session.start_s": start_s, "session.warm_s": warm_s,
                                          "jvm.peak_rss_mb": peak_rss, "jvm.live_heap_mb": live_heap})
        report = {
            "workload": workload,
            "seed": seed,
            "seconds": seconds,
            "trace": int(trace),
            **environment(spark, ctx.sf),
            "setup_s": setup_s,
            "setup_rounds_s": rounds,
            "session_start_s": start_s,
            "warm_pass_s": warm_s,
            **wl.report(m),
            "jvm_peak_rss_mb": peak_rss,
            "jvm_live_heap_mb": live_heap,
            "error_rate": ctx.failed / max(1, ctx.attempted),
            "errors": ctx.errors,
        }
        if trace:
            report["trace_overhead_s"] = m["layers"]["trace.overhead_s"]
            report["traced_times_s"] = m["traced_passes"]
        result = {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": metrics_block(contract, trace, values),
        }
        return report, result
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run's directory is still there


def check_checkout() -> str | None:
    """What is missing for a run, or None."""
    for rel in (PACKAGE, os.path.join("data", "Loan_Default.csv"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            return rel
    return None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = check_checkout()
    if missing is not None:
        print(f"perfbench: {missing} not found under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # On SIGTERM, unwind through run()'s cleanup: stop the JVM, remove temp files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    report, result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
