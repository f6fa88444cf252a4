"""Structured Streaming operators (SURVEY.md §2.B "Streaming").

The reference is batch-only; this is the charter's streaming tier over
the ``events`` fixture: event-time tumbling/sliding windows with
watermarks. For deterministic verification, a finite parquet replay
drives the stream to completion (``processAllAvailable``) with a
``memory`` sink — the streaming result must equal the batch twin
(registry ``tumbling_window_agg``), which the DuckDB oracle checks.

Scale posture: in production the source is Kafka (``readStream.format
('kafka')``) and the sink parquet/Delta with checkpointing; the
watermark bounds state so a 100 TB/day stream holds only
(watermark ÷ slide) windows per key in the state store.

Arbitrary state uses ``applyInPandasWithState``. Spark 4's successor
API (``transformWithStateInPandas``, ValueState/ListState/timers)
needs the ``protobuf`` Python package for its driver<->worker channel,
which this image does not bundle — its per-key semantics are covered
here by the applyInPandasWithState runner, and migration is mechanical
(same grouping, state pulled from a handle instead of GroupState).

State-stage width: every runner replays with ``spark.sql.shuffle.
partitions`` narrowed by ``state_stage_conf`` for the stream's
lifetime (``session.scoped_conf``, so the session gets its own value
back). Structured streaming opens one state-store instance per shuffle
partition (two per partition for a stream-stream join) and pays its
open/commit cycle EVERY micro-batch, so for the fixtures' 10²–10⁴-key
state a narrow stage is strictly faster: r9 measured backfill
4.33→2.88 s, append 2.21→1.51 s, session 2.83→2.09 s at 32→8
partitions, and an 8→4 A/B read as noise; a bare session's 200
partitions cost 400 store cycles per micro-batch in a stream-stream
join whose batch form runs in 0.6 s. A file sink also writes that
many files, not one near-empty file per session partition. At real
scale the state stage is sized like any exchange (~cores × executors,
far above 8).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..pinning import pin_local
from ..scratch import tmp_io
from ..session import scoped_conf
from ..sources.readers import (
    apply_fixture_read_conf,
    fixture_static_schema,
    ns_long_to_timestamp,
    read_parquet_table,
)


def streaming_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a bounded stream (schema pinned from the static
    file; ns timestamps converted exactly like the batch reader)."""
    apply_fixture_read_conf(spark)
    static_schema = fixture_static_schema(spark, sf_dir, "events")
    # FileStreamSource needs a directory or glob, not a bare file path.
    stream = spark.readStream.schema(static_schema).parquet(
        os.path.join(sf_dir, "events*.parquet")
    )
    if isinstance(static_schema["ts"].dataType, T.LongType):
        stream = stream.withColumn("ts", ns_long_to_timestamp("ts"))
    elif isinstance(static_schema["ts"].dataType, T.TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def state_stage_conf(spark: SparkSession) -> dict[str, str]:
    """The scoped conf that narrows a replay's keyed-state stage (see
    the module docstring) to ``min(defaultParallelism, 8)`` partitions,
    so it scales DOWN with a reduced-core run instead of pinning a
    local[32] constant."""
    n = min(spark.sparkContext.defaultParallelism, 8)
    return {"spark.sql.shuffle.partitions": str(n)}


def replay_to_memory(
    spark: SparkSession,
    stream: DataFrame,
    output_mode: str,
    *,
    result: Callable[[DataFrame, int], DataFrame] | None = None,
    conf: Mapping[str, str] | None = None,
    available_now: bool = False,
) -> tuple[DataFrame, int]:
    """Drive a bounded stream to completion through a memory sink.

    ``start()`` through ``stop()`` runs under ``scoped_conf(conf)``
    (default: the narrowed state stage), to ``processAllAvailable`` or,
    with ``available_now``, to the end of a ``Trigger.AvailableNow``
    run. Returns the pinned result and the number of micro-batches that
    read input.

    The result is ``result(sink, n_batches)`` under ``pin_local``'s
    default guard, or else the whole sink under a 1M-row guard: the
    memory sink already holds every row on the driver, so pinning adds
    no scale exposure, and event-level append sinks (the full-outer
    join) exceed the default. The sink table is then dropped, so
    nothing stays registered or pinned once the caller drops the
    result; a ``.cache()`` of the sink would stay in JVM storage for
    the whole session.
    """
    name = f"replay_{uuid.uuid4().hex[:8]}"
    writer = stream.writeStream.outputMode(output_mode).format("memory").queryName(name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    with scoped_conf(spark, state_stage_conf(spark) if conf is None else conf):
        q = writer.start()
        try:
            if available_now:
                q.awaitTermination()
            else:
                q.processAllAvailable()
        finally:
            q.stop()
    n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    try:
        sink = spark.table(name)
        if result is None:
            return pin_local(spark, sink, max_rows=1_000_000), n_batches
        return pin_local(spark, result(sink, n_batches)), n_batches
    finally:
        spark.catalog.dropTempView(name)


def tumbling_window_agg_stream(events: DataFrame) -> DataFrame:
    """1-hour tumbling windows with a 1-hour watermark — identical
    semantics to the batch twin on a finite replay (complete mode)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_window_agg(events: DataFrame) -> DataFrame:
    """1-hour windows sliding every 30 minutes (each event lands in 2)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def run_tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the tumbling-window stream to completion over the parquet
    replay and return the materialized result.

    Complete output mode: every window is emitted on the final trigger,
    so a finite replay yields exactly the batch answer (append mode
    would hold back windows newer than the watermark).
    """
    stream = tumbling_window_agg_stream(streaming_events(spark, sf_dir))
    return replay_to_memory(spark, stream, "complete")[0]


def run_stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: per-user running event counts
    via ``applyInPandasWithState`` (the arbitrary-state API — what you
    reach for when windows/aggregations can't express the semantics).

    State = one long per user_id, bounded and partitioned by the
    grouping key across executors. On the finite replay the final
    emitted count per user equals the batch ``groupBy(user).count()``,
    which is the oracle check.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    def update_counts(key, pdf_iter, state: GroupState):
        n = sum(len(pdf) for pdf in pdf_iter)
        total = (state.get[0] if state.exists else 0) + n
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

    stream = (
        streaming_events(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update_counts,
            outputStructType="user_id long, n_events long",
            stateStructType="n long",
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )
    # The memory sink accumulates one row per (user, micro-batch);
    # the max per user is the final running count.
    return replay_to_memory(
        spark,
        stream,
        "update",
        result=lambda sink, _: sink.groupBy("user_id").agg(
            F.max("n_events").alias("n_events")
        ),
    )[0]


def run_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the sliding-window stream (1h windows, 30-min slide) to
    completion and return the materialized per-window counts."""
    stream = sliding_window_agg(streaming_events(spark, sf_dir))
    return replay_to_memory(spark, stream, "complete")[0]


def run_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: ``dropDuplicates`` keyed on
    (user_id, event_type) with a watermark bounding the dedup state.

    On the finite replay the surviving key set equals the batch
    DISTINCT — the oracle check. At scale the watermark is what keeps
    state bounded: keys older than the horizon are evicted.
    """
    events = streaming_events(spark, sf_dir)
    # dropDuplicatesWithinWatermark: dedup state is evicted once the
    # watermark passes a key's event time — plain dropDuplicates
    # without the event-time column in the subset NEVER evicts, which
    # would grow state unboundedly on a live stream.
    deduped = (
        events.withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return replay_to_memory(spark, deduped, "append")[0]


def _purchase_view_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """The stream-stream runners' interval join: purchases joined
    (``how``) to the same user's views from the preceding 24 hours,
    each side under a 1-hour watermark."""
    ev = streaming_events(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    return purchases.join(
        views,
        F.expr(
            """
            user_id = v_user AND
            view_ts BETWEEN purchase_ts - INTERVAL 24 HOURS AND purchase_ts
            """
        ),
        how,
    )


def run_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream INTERVAL join: purchases joined to the
    same user's views from the preceding 24 hours.

    The canonical attribution join. Both sides carry watermarks and the
    join condition bounds event-time distance, so the state store only
    buffers rows inside (watermark + interval) — without BOTH, Spark
    rejects the join as unbounded-state. Inner joins emit matches
    eagerly, so a finite replay (processAllAvailable) yields exactly
    the batch interval-join answer — the DuckDB oracle check.

    At 100 TB/day the state is (join-horizon × per-key rate) per side,
    partitioned by user_id across executors; the watermark is what
    evicts it.
    """
    joined = _purchase_view_join(spark, sf_dir, "inner").select(
        "user_id",
        F.unix_micros("view_ts").alias("view_ts_us"),
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
    )
    return replay_to_memory(spark, joined, "append")[0]


def run_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the events stream joins a STATIC
    dimension (customer, read as a plain batch table) before a windowed
    aggregation by market segment.

    Unlike a stream-stream join this keeps NO join state: the static
    side is broadcast into every micro-batch, so the only state is the
    windowed aggregation's (bounded by the watermark). That asymmetry
    is exactly why the enrichment-then-aggregate pattern is the default
    for dimension joins on a 100 TB/day stream — re-keying the stream
    to co-partition with a dimension would be a per-batch shuffle.
    """
    ev = streaming_events(spark, sf_dir)
    cust = read_parquet_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = ev.join(F.broadcast(cust), "user_id").withWatermark("ts", "1 hour")
    agg = (
        joined.groupBy(F.window("ts", "6 hours").alias("w"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "c_mktsegment",
            "n_events",
            "total_value",
        )
    )
    return replay_to_memory(spark, agg, "complete")[0]


def run_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``foreachBatch`` sink with exactly-once MERGE semantics: the
    events stream is unioned with itself (every event arrives at least
    twice), and the sink dedups within the batch AND anti-joins against
    the already-written target before appending — so the final table
    holds each event exactly once, whatever the batch boundaries.

    This is the idempotent-sink pattern for sinks without transactional
    MERGE: at production scale the anti-join becomes a Delta/Iceberg
    MERGE ON event_id (one key shuffle), and foreachBatch is the hook
    Structured Streaming provides for exactly such batch-only writers.
    The returned aggregate must equal the plain batch GROUP BY — which
    is what the oracle checks.
    """
    tgt = tempfile.mkdtemp(prefix="fbu_") + "/target"
    ev = streaming_events(spark, sf_dir)
    doubled = ev.union(ev)

    def merge(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        fresh = batch.dropDuplicates(["event_id"])
        try:
            cur = s.read.parquet(tgt).select("event_id")
            fresh = fresh.join(cur, "event_id", "left_anti")
        except Exception:
            pass  # first batch: no target yet
        fresh.write.mode("append").parquet(tgt)

    with scoped_conf(spark, state_stage_conf(spark)):
        q = doubled.writeStream.foreachBatch(merge).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    agg = (
        spark.read.parquet(tgt)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    # Pin the handful of result rows before removing the temp target
    # (groups are event_type cardinality — metadata scale).
    out = pin_local(spark, agg)
    shutil.rmtree(tgt.rsplit("/", 1)[0], ignore_errors=True)
    return out


def run_checkpointed_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shaped sink: append-mode windowed aggregation written
    to a PARQUET sink with a checkpoint directory — the exactly-once
    file-sink pattern (commit log + checkpoint), vs the memory sink
    the deterministic replay tests use.

    Append mode only emits windows the watermark has CLOSED; on a
    finite replay the processAllAvailable() pass leaves the tail
    window(s) open, so the batch oracle applies the same watermark
    cutoff: windows whose end <= max(ts) - 1 hour... except the final
    watermark after the last micro-batch is max(ts) - delay, so the
    oracle filter is window_end <= max_ts - 1h. Restarting from the
    checkpoint re-emits NOTHING (exactly-once), which the runner
    asserts by re-opening the stream.
    """
    events = streaming_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
        )
    )
    base = tempfile.mkdtemp(prefix="spark_graft_sink_")
    out_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    try:
        with scoped_conf(spark, state_stage_conf(spark)):
            for _ in range(2):  # second run: restart from checkpoint, no dupes
                q = (
                    agg.writeStream.outputMode("append")
                    .format("parquet")
                    .option("path", out_dir)
                    .option("checkpointLocation", ckpt)
                    .start()
                )
                try:
                    q.processAllAvailable()
                finally:
                    q.stop()
        # Pin before the finally-rmtree: a cache could be invalidated
        # later and recompute from the deleted path.
        return pin_local(spark, spark.read.parquet(out_dir))
    finally:
        shutil.rmtree(base, ignore_errors=True)


def run_incremental_backfill(
    spark: SparkSession, sf_dir: str, n_files: int = 8, per_trigger: int = 2
):
    """Backfill pattern: replay a bounded history through Trigger.
    AvailableNow with ``maxFilesPerTrigger``, so the stream processes
    the archive in several rate-limited micro-batches and terminates —
    exactly how a production job catches up after downtime without one
    giant batch. State (the tumbling windows) must merge correctly
    ACROSS micro-batches for the final answer to equal the batch twin;
    a single-batch replay would never exercise that merge.

    Returns (result DataFrame, micro-batch count).
    """
    # Temp IO lives under <repo>/.tmp_io (gitignored) like every other
    # IO query, and is removed in finally once the memory-sink result
    # is materialized.
    base = tmp_io(f"backfill_{uuid.uuid4().hex[:8]}")
    try:
        src_dir = os.path.join(base, "events")
        # Re-shard the replay so the rate limit yields multiple batches.
        read_parquet_table(spark, sf_dir, "events").repartition(n_files).write.mode(
            "overwrite"
        ).parquet(src_dir)
        schema = spark.read.parquet(src_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", per_trigger)
            .parquet(src_dir)
        )
        return replay_to_memory(
            spark, tumbling_window_agg_stream(stream), "complete", available_now=True
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def run_append_mode_windows(spark: SparkSession, sf_dir: str):
    """Append-mode tumbling windows: a window row is emitted ONLY once
    the watermark (max event time - 1 h) passes its end — the
    exactly-once downstream-sink contract (complete mode re-emits
    everything each trigger; append emits each window exactly once,
    which is what file/kafka sinks need). On a bounded replay the
    final watermark is max(ts) - 1 h, so windows ending after that
    are withheld as still-open — the batch-oracle twin applies the
    same cutoff.
    """
    stream = tumbling_window_agg_stream(streaming_events(spark, sf_dir))
    return replay_to_memory(spark, stream, "append")[0]


def run_stream_stream_left_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join: every
    purchase joined to same-user views from the preceding 24 hours,
    and purchases with NO such view still emitted (NULL view columns)
    — but only once the global watermark proves no matching view can
    still arrive.

    That proof obligation is what makes outer stream-stream joins
    harder than inner ones: a NULL-extended row is a *negative* claim,
    so Spark holds the unmatched left row in state until the watermark
    passes its latest possible match time, then emits it in a
    subsequent (possibly no-data) micro-batch. On a finite replay the
    consequence is DETERMINISTIC and the oracle encodes it: unmatched
    purchases with ``purchase_ts`` at/after the final watermark
    ``min(max view_ts, max purchase_ts) - 1 hour`` are still pending
    at stream end and are NOT in the result; older unmatched
    purchases are. Watermark arithmetic is millisecond-floored,
    matching Spark's EventTimeWatermark.

    At 100 TB/day state sizing is identical to the inner join
    (horizon x per-key rate per side, keyed by user_id) plus the
    unmatched-left buffer the watermark evicts.
    """
    joined = _purchase_view_join(spark, sf_dir, "leftOuter").select(
        "user_id",
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        F.unix_micros("view_ts").alias("view_ts_us"),
    )
    return replay_to_memory(spark, joined, "append")[0]


def run_stream_stream_full_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream FULL OUTER interval join — completes
    the stream-stream join matrix (inner: run_stream_stream_join;
    left outer: run_stream_stream_left_outer_join): matched
    purchase/view pairs, PLUS view-less purchases with a NULL view
    side, PLUS purchase-less views with a NULL purchase side.

    Both NULL extensions are negative claims, each gated by its own
    watermark proof derived from the interval condition
    ``view_ts BETWEEN purchase_ts - 24h AND purchase_ts``:
    an unmatched purchase is provably final once the global watermark
    passes ``purchase_ts`` (its latest possible matching view time);
    an unmatched view once the watermark passes ``view_ts + 24h``
    (its latest possible matching purchase time). On a finite replay
    both evictions are deterministic — final watermark =
    ``min(max view_ts, max purchase_ts) - 1 hour``, ms-floored like
    EventTimeWatermark — and the oracle encodes the two eviction
    rules relationally.

    At 100 TB/day state is the inner join's (horizon x per-key rate
    per side, keyed by user_id) plus BOTH unmatched buffers; the
    asymmetric eviction horizons (0 vs 24 h past event time) mean the
    view-side buffer dominates by the interval width.
    """
    joined = _purchase_view_join(spark, sf_dir, "fullOuter").select(
        F.coalesce(F.col("user_id"), F.col("v_user")).alias("user_id"),
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        F.unix_micros("view_ts").alias("view_ts_us"),
    )
    return replay_to_memory(spark, joined, "append")[0]


def run_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's NEW arbitrary-state API (``transformWithStateInPandas``
    with a ``StatefulProcessor`` + typed ``ValueState``) — the
    successor to ``applyInPandasWithState`` that this module's older
    runner uses, backed by the RocksDB state store provider (the
    production store for TB-scale keyed state: state lives off-heap
    and spills to disk per key range instead of occupying executor
    heap).

    Per-user ValueState carries (n_events, total_cents) as exact
    integers; every micro-batch folds its rows into the state and
    emits the running totals. On the finite availableNow replay the
    LAST emission per user equals the batch
    ``groupBy(user).agg(count, sum(cents))`` — the oracle check.
    Cents fold as BIGINTs inside the processor, so no float
    accumulation crosses micro-batch boundaries.

    ENVIRONMENT GATE (same posture as the Avro/JDBC jar gates in
    sources/readers.py): the TransformWithStateInPySpark driver
    worker requires ``google.protobuf`` for its state-server
    protocol; this sandbox has no protobuf wheel and installs are
    disallowed, so calling this without protobuf raises
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE from Spark.
    tests/test_round4_session5.py skips accordingly; the
    applyInPandasWithState runner above covers the same semantics
    un-gated (and is certified by the stateful-counts driver row).
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    class RunningTotals(StatefulProcessor):
        def init(self, handle):
            self.totals = handle.getValueState(
                "totals", "n BIGINT, cents BIGINT"
            )

        def handleInputRows(self, key, rows, timer_values):
            n, cents = 0, 0
            if self.totals.exists():
                n, cents = self.totals.get()
            for pdf in rows:
                n += len(pdf)
                cents += int(pdf["cents"].sum())
            self.totals.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
            )

        def close(self):
            pass

    stream = (
        streaming_events(spark, sf_dir)
        .select(
            "user_id",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningTotals(),
            outputStructType="user_id long, n_events long, total_cents long",
            outputMode="Update",
            timeMode="None",
        )
    )
    # one row per (user, micro-batch); the final running totals are
    # the per-user maxima (counts and sums only grow).
    return replay_to_memory(
        spark,
        stream,
        "update",
        result=lambda sink, _: sink.groupBy("user_id")
        .agg(
            F.max("n_events").cast("bigint").alias("n_events"),
            F.max("total_cents").cast("bigint").alias("total_cents"),
        )
        .orderBy("user_id"),
        conf={
            **state_stage_conf(spark),
            # transformWithState requires the RocksDB provider (bundled).
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
            ),
        },
    )[0]


def run_session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` ON THE STREAMING ENGINE — completes the
    window-type matrix (tumbling/sliding runners above are driver-
    certified; this adds the third, state-store-merged kind).

    Unlike fixed windows, streaming session windows have no
    pre-computable assignment: the state store keeps one open session
    per (user, gap-run) and MERGES adjacent sessions when a late event
    bridges two of them — the ``session_window`` keyword switches the
    aggregation to Spark's merging-session state format. Complete
    output mode on the finite replay emits every merged session, which
    must equal the batch lag+cumsum sessionization (the oracle) — the
    same contract the batch twin ``session_window_native`` is certified
    against. At scale the watermark evicts sessions whose
    (end + gap) < horizon, bounding state exactly like the tumbling
    case; session state is keyed by (user, window) so it shards across
    executors with the shuffle.
    """
    events = streaming_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(
            F.col("user_id"),
            F.session_window("ts", "30 minutes").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.floor(F.unix_micros(F.col("first_ts")) / 1_000_000)
            .cast("bigint")
            .alias("session_start_s"),
            F.col("n_events").cast("bigint").alias("n_events"),
            (
                (F.unix_micros(F.col("last_ts")) - F.unix_micros(F.col("first_ts")))
                / F.lit(1_000_000)
            )
            .cast("bigint")
            .alias("span_s"),
        )
    )
    return replay_to_memory(spark, agg, "complete")[0]
