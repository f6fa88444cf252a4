"""The benchmark's two workloads.

``queries`` runs a seeded draw from the frozen query pool
(``pools.json``) through ``REGISTRY[name].fn`` -> ``executedPlan`` ->
noop save, one query at a time, pass after pass. ``loan_ml`` fits the
loan model on a seeded jittered replica of ``data/Loan_Default.csv``
and then scores single rows with ``predict_single_row``, alternating
fits and serves; its warm pass first fits a replica at a fixed jitter
seed whose outputs are frozen, so the fit is checked for every seed.
Both are a closed loop with one client: the next operation starts when
the previous one returns.

Each workload sets up (session warm-ups, input generation, one untimed
warm pass that also checks every output), then measures for the
requested number of seconds. In a traced run the measured passes are
untraced and traced in turn, so the per-layer numbers and the tracing
overhead come from the same run.
"""

from __future__ import annotations

import contextlib
import csv
import gc
import hashlib
import json
import math
import os
import random
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal

import fixtures
from tracing import SparkCounters, StreamCounter, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
POOLS_FILE = os.path.join(HERE, "pools.json")

#: Setup rounds per run; setup time reports their median.
SETUP_ROUNDS = 3
#: Measured units (query passes, loan cycles) per run, at the least; a
#: traced run takes this many traced units too.
MIN_UNITS = 2
#: Serves between two fits in ``loan_ml``.
SERVES_PER_FIT = 4
#: Replica factor of the loan table (999 rows -> ~100k rows).
LOAN_REPLICAS = 100
#: Jitter seed of the loan replica whose fit outputs ``pools.json`` freezes.
LOAN_REFERENCE_SEED = 0


# ---------------------------------------------------------------- checks


def canon(v) -> str:
    """Layout-independent text form of one output value. Floats keep 6
    significant digits, so sums whose order follows the partition
    layout still agree; any real change of value shows."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        return "0" if f == 0 else format(f, ".6g")
    if isinstance(v, str):
        return repr(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(x)}" for k, x in sorted(v.items(), key=lambda kv: canon(kv[0]))) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if hasattr(v, "toArray"):  # ml Vector
        return canon(list(v.toArray()))
    return repr(v)


def fingerprint(columns: list[str], rows) -> dict:
    """Row count plus an order-insensitive 64-bit hash of the rows."""
    acc = 0
    n = 0
    for r in rows:
        h = hashlib.blake2b(canon(tuple(r)).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "big")) % (1 << 64)
        n += 1
    head = hashlib.blake2b(canon(list(columns)).encode(), digest_size=8).digest()
    acc = (acc + int.from_bytes(head, "big")) % (1 << 64)
    return {"rows": n, "hash": f"{acc:016x}"}


def load_pools() -> dict:
    with open(POOLS_FILE) as fh:
        return json.load(fh)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# ---------------------------------------------------------------- context


@dataclass
class Ctx:
    spark: object
    root: str
    tmp: str
    seed: int
    seconds: float
    trace: bool
    sf: float
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what[:300])


class Layers:
    """Tracing state of one run: span recorder, Spark counters and the
    per-unit layer readings (a unit is a query pass or a loan fit)."""

    def __init__(self, spark) -> None:
        self.tracer = Tracer()
        self.counters = SparkCounters(spark)
        self.stream = StreamCounter()
        self.spark = spark
        self.units: list[dict] = []
        self.serves: list[dict] = []
        self._n = 0

    @contextlib.contextmanager
    def active(self):
        """Patch the layer boundaries for one traced unit."""
        from pyspark.ml.classification import LogisticRegression
        from pyspark.ml.evaluation import (
            BinaryClassificationEvaluator,
            MulticlassClassificationEvaluator,
        )
        from pyspark.ml.feature import Imputer, StandardScaler

        from loan_default_prediction_app_big_data_spark.operators import text
        from loan_default_prediction_app_big_data_spark.sources import readers

        t = self.tracer
        t.patch_everywhere(readers.read_parquet_table, "sources.read")
        t.patch_everywhere(readers.read_loan_csv, "sources.read")
        t.patch_everywhere(text.widen_to_parallelism, "operators.widen")
        t.patch(Imputer, "_fit", "ml.impute_fit")
        t.patch(StandardScaler, "_fit", "ml.scale_fit")
        t.patch(LogisticRegression, "_fit", "ml.lr_fit")
        t.patch(BinaryClassificationEvaluator, "_evaluate", "ml.eval")
        t.patch(MulticlassClassificationEvaluator, "_evaluate", "ml.eval")
        t.patch(type(self.spark.range(1)), "localCheckpoint", "ml.pin")
        self.spark.streams.addListener(self.stream)
        try:
            yield
        finally:
            self.spark.streams.removeListener(self.stream)
            t.restore()

    @contextlib.contextmanager
    def op(self, kind: str, name: str, acc: Counter):
        """One traced operation: its own job group, span and counters."""
        from loan_default_prediction_app_big_data_spark.pinning import RELEASE_STATS

        c = self.counters
        self._n += 1
        group = f"perfbench-{self._n}"
        conf0, views0 = c.conf(), c.temp_views()
        pins0, rel0, gc0 = c.persistent_rdds(), RELEASE_STATS["released"], c.gc_ms()
        state: dict = {"group": group}
        self.tracer.op = group
        c.begin(group, f"{kind}:{name}")
        try:
            with self.tracer.span(kind):
                yield state
        finally:
            c.end()
            self.tracer.op = None
        pins_held = c.persistent_rdds()
        release = state.get("release")
        if release is not None:
            release()
        jobs, stages, tasks, failed = c.jobs(group)
        conf1 = c.conf()
        acc["spark.jobs"] += jobs
        acc["spark.stages"] += stages
        acc["spark.tasks"] += tasks
        acc["spark.failed_tasks"] += failed
        acc["spark.gc_ms"] += c.gc_ms() - gc0
        acc["pinning.pins_created"] += max(0, pins_held - pins0)
        acc["pinning.pins_released"] += RELEASE_STATS["released"] - rel0
        acc["pinning.pins_leaked"] += max(0, c.persistent_rdds() - pins0)
        acc["hygiene.conf_changes"] += sum(
            1 for k in set(conf0) | set(conf1) if conf0.get(k) != conf1.get(k)
        )
        acc["hygiene.temp_views_left"] += len(c.temp_views() - views0)
        state["jobs"], state["tasks"] = jobs, tasks

    def close_unit(self, acc: Counter, groups: set[str]) -> None:
        """Fold the spans of one traced unit into its layer readings."""
        spans = self.tracer.select(groups)
        self_s = Tracer.self_times(spans)
        calls = Tracer.counts(spans)
        acc["sources.read_calls"] += calls.get("sources.read", 0)
        acc["sources.read_s"] += self_s.get("sources.read", 0.0)
        acc["operators.widen_calls"] += calls.get("operators.widen", 0)
        acc["operators.widen_s"] += self_s.get("operators.widen", 0.0)
        for layer in ("build", "plan", "exec"):
            acc[f"plans.{layer}_s"] += self_s.get(f"plans.{layer}", 0.0)
        in_fit = any(s.name == "fit" and s.parent is None for s in spans)
        for key in ("impute_fit", "scale_fit", "lr_fit", "eval", "pin"):
            acc[f"ml.{key}_s"] += self_s.get(f"ml.{key}", 0.0) if in_fit else 0.0
        self.tracer.spans = [s for s in self.tracer.spans if s.op not in groups]
        self.units.append(dict(acc))

    def stream_delta(self, before: tuple[int, int, int], acc: Counter) -> None:
        # Progress events reach the listener asynchronously; give the
        # bus a moment to drain before reading the totals.
        time.sleep(0.2)
        after = self.stream.snapshot()
        acc["streaming.batches"] += after[0] - before[0]
        acc["streaming.trigger_ms"] += after[1] - before[1]
        acc["streaming.input_rows"] += after[2] - before[2]


# ------------------------------------------------------------ warm-ups


def warm_session(spark, sf_dir: str) -> None:
    """The table warm-up bench.py makes: one query over the fixtures.
    (bench.py's Arrow-worker and Python DataSource warm-ups serve query
    families that the pool leaves out.)"""
    from loan_default_prediction_app_big_data_spark.plans.registry import REGISTRY

    REGISTRY["count_rows"].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


# ------------------------------------------------------ query workloads


def draw_queries(entries: list[dict], seed: int) -> list[dict]:
    """Seeded draw of one query per pool group, in seeded order. Short
    queries are grouped by cost and heavy ones by mechanism, members of
    a group costing about the same, so every seed gets a mix of about
    the same total cost: seeds vary the queries without swinging the
    pass time."""
    rng = random.Random(seed)
    groups: dict[str, list[dict]] = {}
    for e in sorted(entries, key=lambda e: (e["group"], e["name"])):
        groups.setdefault(e["group"], []).append(e)
    picked = [rng.choice(members) for _, members in sorted(groups.items())]
    rng.shuffle(picked)
    return picked


class QueryWorkload:
    def __init__(self, ctx: Ctx, pool: list[dict] | None = None) -> None:
        self.ctx = ctx
        self.draw = draw_queries(pool or load_pools()["queries"], ctx.seed)
        self.sf_dir = ""
        self.specs: dict = {}
        self.latency: dict[str, list[float]] = {e["name"]: [] for e in self.draw}

    def setup_round(self, i: int) -> None:
        ctx = self.ctx
        self.sf_dir = os.path.join(ctx.tmp, f"sf-{i}")
        fixtures.generate(self.sf_dir, ctx.sf)
        warm_session(ctx.spark, self.sf_dir)

    def warm_pass(self) -> None:
        """Untimed: run each drawn query once to check its output against
        the frozen fingerprint. This first execution also takes most of
        the cold start (class loading, code generation): it costs about
        2.5 times a timed pass."""
        from loan_default_prediction_app_big_data_spark.pinning import release_local_checkpoints
        from loan_default_prediction_app_big_data_spark.plans.registry import REGISTRY

        ctx = self.ctx
        for e in self.draw:
            ctx.attempted += 1
            spec = REGISTRY.get(e["name"])
            if spec is None:
                ctx.fail(f"{e['name']}: not in REGISTRY")
                continue
            self.specs[e["name"]] = spec
            try:
                df = spec.fn(ctx.spark, self.sf_dir)
                got = fingerprint(df.columns, df.collect())
                release_local_checkpoints(df)
            except Exception as exc:  # a failing query is counted, not fatal
                ctx.fail(f"{e['name']}: {exc!r}")
                continue
            want = {"rows": e["rows"]} if e["check"] == "rows" else {"rows": e["rows"], "hash": e["hash"]}
            if any(got[k] != v for k, v in want.items()):
                ctx.fail(f"{e['name']}: output {got} != frozen {want}")

    def _query(self, spec, span) -> tuple[object, float]:
        """build -> plan -> exec of one query; returns the frame and its latency."""
        t0 = time.perf_counter()
        with span("plans.build"):
            df = spec.fn(self.ctx.spark, self.sf_dir)
        with span("plans.plan"):
            df._jdf.queryExecution().executedPlan()
        with span("plans.exec"):
            df.write.format("noop").mode("overwrite").save()
        return df, time.perf_counter() - t0

    def one_pass(self, layers: Layers | None) -> tuple[float, list[float]]:
        """One pass over the draw: (wall-clock, per-query latencies)."""
        lat: list[float] = []
        acc: Counter = Counter()
        groups: set[str] = set()
        stream0 = layers.stream.snapshot() if layers else None
        start = time.perf_counter()
        with layers.active() if layers else contextlib.nullcontext():
            self._pass(layers, lat, acc, groups)
        elapsed = time.perf_counter() - start
        if layers is not None:
            layers.stream_delta(stream0, acc)
            layers.close_unit(acc, groups)
        gc.collect()
        return elapsed, lat

    def _pass(self, layers, lat: list[float], acc: Counter, groups: set[str]) -> None:
        from loan_default_prediction_app_big_data_spark.pinning import release_local_checkpoints

        ctx = self.ctx
        for e in self.draw:
            spec = self.specs.get(e["name"])
            if spec is None:
                continue  # already counted as failed in the warm pass
            ctx.attempted += 1
            try:
                if layers is None:
                    df, t = self._query(spec, _no_span)
                    release_local_checkpoints(df)  # off the clock, like bench.py
                    self.latency[e["name"]].append(t)
                else:
                    with layers.op("query", e["name"], acc) as st:
                        df, t = self._query(spec, layers.tracer.span)
                        st["release"] = lambda df=df: release_local_checkpoints(df)
                    groups.add(st["group"])
                lat.append(t)
                del df
            except Exception as exc:
                ctx.fail(f"{e['name']}: {exc!r}")

    def measure(self) -> dict:
        return measure_loop(self.ctx, self.one_pass)[0]

    def report(self, m: dict) -> dict:
        return {
            "mix_s": m["pass_s"],
            "query_p50_s": m["op_p50_ms"] / 1000,
            "query_p90_s": m["op_p90_ms"] / 1000,
            "queries_per_pass": len(self.draw),
            "pass_times_s": m["passes"],
            "latency_samples": m["ops"],
            "query_median_s": {n: statistics.median(v) for n, v in self.latency.items() if v},
        }


def measure_loop(ctx: Ctx, unit) -> tuple[dict, Layers | None]:
    """Repeat ``unit(layers)`` -> (seconds, op latencies) until
    ``ctx.seconds`` have passed and ``MIN_UNITS`` untraced units (and,
    when tracing, as many traced ones) have completed. A traced run
    orders its units untraced, traced, traced, untraced, and so on, so
    that the units still speeding up as the JIT warms weigh alike on
    both sides of the tracing overhead. Latencies come from untraced
    units only. A unit that failed reports NaN seconds; after a minute
    past the deadline the loop stops waiting for more that succeed."""
    layers = Layers(ctx.spark) if ctx.trace else None
    times: dict[bool, list[float]] = {False: [], True: []}
    lat: list[float] = []
    deadline = time.perf_counter() + ctx.seconds
    n = 0
    while True:
        traced = ctx.trace and n % 4 in (1, 2)
        n += 1
        t, ops = unit(layers if traced else None)
        if not math.isnan(t):
            times[traced].append(t)
        if not traced:
            lat.extend(ops)
        now = time.perf_counter()
        complete = len(times[False]) >= MIN_UNITS and (len(times[True]) >= MIN_UNITS or not ctx.trace)
        if now >= deadline and (complete or now >= deadline + 60):
            break
    if not (times[False] and lat):
        raise RuntimeError(f"no measured operation succeeded: {ctx.errors[:3]}")
    out = {
        "pass_s": statistics.median(times[False]),
        "op_geomean_ms": 1000 * statistics.geometric_mean(lat),
        "op_p50_ms": 1000 * percentile(lat, 50),
        "op_p90_ms": 1000 * percentile(lat, 90),
        "passes": times[False],
        "traced_passes": times[True],
        "ops": len(lat),
    }
    if layers is not None:
        out["layers"] = _median_units(layers.units)
        out["layers"]["trace.overhead_s"] = statistics.median(times[True]) - statistics.median(times[False])
    return out, layers


def _no_span(_name: str):
    return contextlib.nullcontext()


def _median_units(units: list[dict]) -> dict:
    keys = set().union(*units) if units else set()
    return {k: statistics.median(u.get(k, 0) for u in units) for k in keys}


# ----------------------------------------------------------- loan_ml


def make_loan_replica(src: str, dst: str, seed: int, replicas: int = LOAN_REPLICAS) -> None:
    """Write ``replicas`` copies of the loan CSV with seeded jitter on
    ``loan_amount`` and ``income`` (x U[0.995, 1.005)) and unique IDs.
    Every other field is copied as text, nulls included. The jitter is
    small so that every seed poses the same fitting problem: at +-5%
    L-BFGS converged in 11 or 12 iterations depending on the seed,
    which moved the fit time by about 8%."""
    rng = random.Random(seed)
    with open(src, newline="") as fh:
        reader = csv.reader(fh)
        header = next(reader)
        rows = list(reader)
    i_id, i_amt, i_inc = header.index("ID"), header.index("loan_amount"), header.index("income")
    with open(dst, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        for rep in range(replicas):
            for r in rows:
                r = list(r)
                r[i_id] = str(int(r[i_id]) * replicas + rep)
                for i in (i_amt, i_inc):
                    if r[i] != "":
                        r[i] = str(int(int(r[i]) * (1.0 + rng.uniform(-0.005, 0.005))))
                w.writerow(r)


def fit_summary(model) -> dict:
    """The fit outputs that are checked against a reference fit."""
    return {
        "roc_auc": model.roc_auc,
        "accuracy": model.accuracy,
        "objective_history_len": len(model.objective_history),
        "objective_final": model.objective_history[-1],
    }


#: The binary evaluator sums its binned ROC curve in task-completion
#: order, so roc_auc moves in the 6th digit between identical fits;
#: everything else in ``fit_summary`` must repeat bit for bit.
AUC_TOLERANCE = 1e-4


def same_fit(a: dict, b: dict) -> bool:
    return abs(a["roc_auc"] - b["roc_auc"]) <= AUC_TOLERANCE and all(
        a[k] == b[k] for k in ("accuracy", "objective_history_len", "objective_final")
    )


def serve_rows(src: str, seed: int, n: int) -> list[dict]:
    """``n`` seeded feature rows drawn from CSV rows whose six model
    features are all present."""
    from loan_default_prediction_app_big_data_spark.schema import LOAN_FEATURES

    with open(src, newline="") as fh:
        full = [r for r in csv.DictReader(fh) if all(r[c] != "" for c in LOAN_FEATURES)]
    rng = random.Random(seed ^ 0x5EED)
    return [{c: float(r[c]) for c in LOAN_FEATURES} for r in (rng.choice(full) for _ in range(n))]


class LoanWorkload:
    def __init__(self, ctx: Ctx, replicas: int = LOAN_REPLICAS) -> None:
        self.ctx = ctx
        self.replicas = replicas
        self.csv_src = os.path.join(ctx.root, "data", "Loan_Default.csv")
        self.frozen = load_pools()["loan_ml"]
        self.rows = serve_rows(self.csv_src, ctx.seed, 64)
        self.replica = ""
        self.reference: dict | None = None
        self.model = None
        self.params = None
        self._served = 0

    def setup_round(self, i: int) -> None:
        from loan_default_prediction_app_big_data_spark.sources.readers import read_loan_csv

        self.replica = os.path.join(self.ctx.tmp, f"loan-{i}.csv")
        make_loan_replica(self.csv_src, self.replica, self.ctx.seed, self.replicas)
        read_loan_csv(self.ctx.spark, self.replica).write.format("noop").mode("overwrite").save()

    def _fit(self, path: str):
        from loan_default_prediction_app_big_data_spark.ml import fit_loan_model
        from loan_default_prediction_app_big_data_spark.sources.readers import read_loan_csv

        return fit_loan_model(read_loan_csv(self.ctx.spark, path))

    def reference_fit(self) -> dict:
        """``fit_summary`` of the replica at ``LOAN_REFERENCE_SEED``. The
        fit follows the partition layout, so its values hold for one core
        count only."""
        path = os.path.join(self.ctx.tmp, "loan-reference.csv")
        make_loan_replica(self.csv_src, path, LOAN_REFERENCE_SEED, self.replicas)
        return fit_summary(self._fit(path))

    def _check_reference(self) -> None:
        """The reference fit against the frozen one (``same_fit``). A
        host whose core count was not frozen fails: its fit cannot be
        checked."""
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        if cpus != self.frozen["cpus"]:
            self.ctx.fail(f"fit: frozen at {self.frozen['cpus']} cores, this host has {cpus}; "
                          "re-freeze with perfbench/freeze.py")
            return
        got = self.reference_fit()
        if not same_fit(got, self.frozen["fit"]):
            self.ctx.fail(f"fit: reference {got} != frozen {self.frozen['fit']}")

    def _check_fit(self, model) -> None:
        """Same as the warm fit of this run (``same_fit``)."""
        from loan_default_prediction_app_big_data_spark.ml.serving import extract_serving_params

        got = fit_summary(model)
        if self.reference is None:
            self.reference = got
            if not (0.5 < got["roc_auc"] <= 1.0 and 0.0 < got["accuracy"] <= 1.0):
                self.ctx.fail(f"fit: implausible metrics {got}")
        elif not same_fit(got, self.reference):
            self.ctx.fail(f"fit: {got} != this run's warm fit {self.reference}")
        self.model = model
        self.params = extract_serving_params(model.pipeline_model, model.lr_model)

    def _serve(self, features: dict) -> dict:
        from loan_default_prediction_app_big_data_spark.ml import predict_single_row

        return predict_single_row(self.ctx.spark, self.model.pipeline_model, self.model.lr_model, features)

    def _check_serve(self, features: dict, out: dict) -> None:
        from loan_default_prediction_app_big_data_spark.ml.serving import predict_local

        ref = predict_local(self.params, features)
        p1 = float(out["probability"].strip("[]").split(",")[1])
        if (out["prediction"], out["final_prediction"], out["verdict"]) != (
            ref["prediction"], ref["final_prediction"], ref["verdict"]
        ) or abs(p1 - ref["probability_1"]) > 1e-9:
            self.ctx.fail(f"serve: {out} != predict_local {ref}")

    def _next_row(self) -> dict:
        row = self.rows[self._served % len(self.rows)]
        self._served += 1
        return row

    def warm_pass(self) -> None:
        """Untimed: fit the reference replica and check it against the
        frozen values, fit this run's replica twice (the first fit is
        what every later fit of the run must repeat), serve one row.
        Fit times fall for the first four fits of a session as the JIT
        warms (12 s, 5 s, 4 s, 3.3 s), so the first timed fit is the
        fourth."""
        ctx = self.ctx
        ctx.attempted += 1
        self._check_reference()
        for _ in range(2):
            ctx.attempted += 1
            self._check_fit(self._fit(self.replica))
        ctx.attempted += 1
        row = self._next_row()
        self._check_serve(row, self._serve(row))

    def one_cycle(self, layers: Layers | None) -> tuple[float, list[float]]:
        """One fit and its serves: (fit wall-clock, serve latencies)."""
        with layers.active() if layers else contextlib.nullcontext():
            return self._cycle(layers)

    def _cycle(self, layers: Layers | None) -> tuple[float, list[float]]:
        ctx = self.ctx
        acc: Counter = Counter()
        ctx.attempted += 1
        try:
            if layers is None:
                t0 = time.perf_counter()
                model = self._fit(self.replica)
                fit_s = time.perf_counter() - t0
            else:
                with layers.op("fit", "fit_loan_model", acc) as st:
                    t0 = time.perf_counter()
                    model = self._fit(self.replica)
                    fit_s = time.perf_counter() - t0
                group = st["group"]
                acc["ml.fit_jobs"] = st["jobs"]
                acc["ml.lbfgs_iters"] = model.lr_model.summary.totalIterations
                layers.close_unit(acc, {group})
            self._check_fit(model)
        except Exception as exc:
            ctx.fail(f"fit: {exc!r}")
            return math.nan, []
        lat = []
        for _ in range(SERVES_PER_FIT):
            ctx.attempted += 1
            row = self._next_row()
            try:
                if layers is None:
                    t0 = time.perf_counter()
                    out = self._serve(row)
                    lat.append(time.perf_counter() - t0)
                else:
                    sacc: Counter = Counter()
                    with layers.op("serve", "predict_single_row", sacc) as st:
                        out = self._serve(row)
                    layers.tracer.spans = []
                    layers.serves.append({"jobs": st["jobs"], "tasks": st["tasks"]})
                self._check_serve(row, out)
            except Exception as exc:
                ctx.fail(f"serve: {exc!r}")
        return fit_s, lat

    def measure(self) -> dict:
        out, layers = measure_loop(self.ctx, self.one_cycle)
        if layers is not None:
            out["layers"]["serve.jobs_per_request"] = statistics.median(s["jobs"] for s in layers.serves)
            out["layers"]["serve.tasks_per_request"] = statistics.median(s["tasks"] for s in layers.serves)
        return out

    def report(self, m: dict) -> dict:
        return {
            "fit_s": m["pass_s"],
            "serve_p50_ms": m["op_p50_ms"],
            "serve_p90_ms": m["op_p90_ms"],
            "fit_times_s": m["passes"],
            "latency_samples": m["ops"],
            "roc_auc": self.reference and self.reference["roc_auc"],
        }


WORKLOADS = {"queries": QueryWorkload, "loan_ml": LoanWorkload}


def make(name: str, ctx: Ctx):
    return WORKLOADS[name](ctx)
