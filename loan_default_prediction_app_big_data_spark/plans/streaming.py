"""Structured Streaming queries, each replayed to completion over the
events fixture.
"""

from __future__ import annotations

import os
import shutil

from ..pinning import pin_local
from ..scratch import tmp_io
from ..session import scoped_conf
from ._core import DataFrame, F, SparkSession, register, t
from .analytics import TUMBLING_ORACLE


@register(
    "streaming_tumbling_window",
    TUMBLING_ORACLE,
    "Structured Streaming: 1-hour tumbling event-time windows with "
    "watermark over the events replay, memory sink, complete mode — "
    "must equal the batch twin (tumbling_window_agg), and the same "
    "DuckDB oracle checks it.",
    tags=("streaming",),
)
def streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import run_tumbling_stream

    return run_tumbling_stream(spark, sf_dir)


@register(
    "streaming_stateful_counts",
    """
    SELECT user_id, count(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
    "Custom stateful streaming operator (applyInPandasWithState): "
    "per-user running counts with explicit GroupState; the final state "
    "on a finite replay equals the batch groupBy count — which is the "
    "oracle.",
    tags=("streaming",),
)
def streaming_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import run_stateful_user_counts

    return run_stateful_user_counts(spark, sf_dir)


@register(
    "streaming_sliding_window",
    """
    WITH expanded AS (
        SELECT event_id, event_type,
               time_bucket(INTERVAL 30 MINUTE, ts) AS w1,
               time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE AS w2
        FROM events
    )
    SELECT CAST(epoch(w) AS BIGINT) AS window_start, event_type,
           count(*) AS n_events
    FROM (SELECT event_id, event_type, w1 AS w FROM expanded
          UNION ALL
          SELECT event_id, event_type, w2 AS w FROM expanded)
    GROUP BY w, event_type
    """,
    "Structured Streaming sliding windows (1 h window, 30 min slide): "
    "each event lands in exactly two windows. The oracle expands each "
    "event into its two covering windows and aggregates — the "
    "streaming engine must produce the identical window set.",
    tags=("streaming",),
)
def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import run_sliding_stream

    return run_sliding_stream(spark, sf_dir)


@register(
    "streaming_dedup",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    "Streaming dropDuplicates keyed on (user_id, event_type) under a "
    "watermark — the surviving key set on a finite replay equals the "
    "batch DISTINCT (the oracle). The watermark bounds dedup state at "
    "scale.",
    tags=("streaming", "dedup"),
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import run_streaming_dedup

    return run_streaming_dedup(spark, sf_dir)


@register(
    "streaming_stream_stream_join",
    """
    SELECT p.user_id,
           epoch_us(v.ts) AS view_ts_us,
           epoch_us(p.ts) AS purchase_ts_us
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
    WHERE v.ts BETWEEN p.ts - INTERVAL 24 HOUR AND p.ts
    """,
    "Watermarked stream-stream INTERVAL join (purchase ⋈ same-user "
    "views in the trailing 24h) — the attribution join. Watermarks on "
    "BOTH sides plus the event-time bound keep join state finite "
    "(watermark+interval horizon per side); inner joins emit matches "
    "eagerly, so the finite replay equals the batch interval join, "
    "which is the oracle.",
    tags=("streaming", "join"),
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import run_stream_stream_join

    return run_stream_stream_join(spark, sf_dir)


@register(
    "streaming_foreach_batch_upsert",
    """
    SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM events GROUP BY event_type
    """,
    "foreachBatch sink with exactly-once MERGE semantics: the stream "
    "is unioned with itself (every event arrives >= twice) and the "
    "sink dedups in-batch AND anti-joins the already-written target "
    "before appending — the idempotent-writer pattern Structured "
    "Streaming provides for batch-only sinks (Delta/Iceberg MERGE at "
    "production scale). The final per-type aggregate must equal the "
    "plain batch GROUP BY over SINGLE copies, which the oracle checks "
    "— duplicates surviving the merge would double every count.",
    tags=("streaming", "upsert", "sink"),
)
def streaming_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import run_foreach_batch_upsert

    return run_foreach_batch_upsert(spark, sf_dir)


@register(
    "streaming_static_join",
    """
    SELECT CAST(epoch(time_bucket(INTERVAL 6 HOUR, ts)) AS BIGINT) AS window_start,
           c_mktsegment,
           count(*)             AS n_events,
           round(sum(value), 4) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
    "Stream-static enrichment join: the events stream broadcast-joins "
    "the static customer dimension per micro-batch (NO join state — "
    "only the windowed agg's watermark-bounded state), then aggregates "
    "into 6-hour tumbling windows by market segment. The default "
    "pattern for dimension joins on a high-volume stream; the batch "
    "oracle runs the same join+window in SQL and must hash-match.",
    tags=("streaming", "join"),
)
def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import run_stream_static_join

    return run_stream_static_join(spark, sf_dir)


@register(
    "streaming_checkpointed_file_sink",
    """
    WITH mx AS (SELECT max(ts) AS m FROM events)
    SELECT CAST(epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT)
               AS window_start_us,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events, mx
    WHERE time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 2 HOUR <= m
    GROUP BY 1, 2
    """,
    "Production-shaped streaming sink: append-mode 1-hour windows "
    "written to a PARQUET file sink with a checkpoint directory — "
    "the exactly-once pattern (file-sink commit log + offset "
    "checkpoint) every real deployment uses instead of the test "
    "harness's memory sink. Append emits only watermark-CLOSED "
    "windows, so the batch oracle applies the same cutoff "
    "(window_end <= max(ts) - 1h); the runner restarts the stream "
    "from its checkpoint a second time and the commit log emits "
    "ZERO duplicate rows — exactly-once proven, not asserted.",
    tags=("streaming", "agg"),
)
def streaming_checkpointed_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import run_checkpointed_parquet_sink

    return run_checkpointed_parquet_sink(spark, sf_dir)


@register(
    "streaming_incremental_backfill",
    TUMBLING_ORACLE,
    "Backfill/catch-up streaming pattern: the bounded event history "
    "replays through Trigger.AvailableNow with maxFilesPerTrigger "
    "rate limiting, so the engine processes the archive in several "
    "micro-batches and self-terminates — the production shape for "
    "recovering after downtime without one giant batch. Window state "
    "must merge correctly ACROSS micro-batches; the final "
    "complete-mode answer is hash-checked against the SAME DuckDB "
    "oracle as the batch tumbling aggregate, proving the incremental "
    "state algebra exact. The multi-batch property itself (>= 3 "
    "rate-limited triggers) is pinned in the test.",
    tags=("streaming",),
)
def streaming_incremental_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import run_incremental_backfill

    out, _ = run_incremental_backfill(spark, sf_dir)
    return out


@register(
    "streaming_append_mode_windows",
    """
    WITH wm AS (
        SELECT max(epoch_us(ts)) - 3600000000 AS watermark_us FROM events
    )
    SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT)
               AS window_start,
           event_type,
           count(*)              AS n_events,
           round(sum(value), 4)  AS total_value
    FROM events
    GROUP BY 1, 2
    HAVING CAST(epoch(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) * 1000000
           + 3600000000 <= (SELECT watermark_us FROM wm)
    """,
    "APPEND-mode streaming windows: each window row emits exactly "
    "once, only after the watermark (max event time - 1 h) passes "
    "its end — the contract file/queue sinks require (complete mode "
    "re-emits the whole state every trigger; append is the "
    "write-once form). On the bounded replay the final watermark "
    "withholds the newest still-open windows, and the oracle applies "
    "the SAME cutoff analytically: windows with end <= max(ts) - 1 h. "
    "A hash match therefore proves both the aggregation AND the "
    "emission policy (no early emit, no missing closed window).",
    tags=("streaming",),
)
def streaming_append_mode_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import run_append_mode_windows

    return run_append_mode_windows(spark, sf_dir)


# =====================================================================
# Stream-stream LEFT OUTER join (watermark-gated NULL extension)
# =====================================================================
_SS_LEFT_OUTER_ORACLE = """
    -- The outer stream-stream join's NULL-extended rows are a
    -- NEGATIVE claim ("no view can still arrive"), so Spark emits
    -- them only after the global watermark passes the purchase's
    -- latest possible match time. On a finite replay that behavior is
    -- deterministic: final watermark = min(max view_ts, max
    -- purchase_ts) - 1 hour, millisecond-floored exactly like
    -- EventTimeWatermark; unmatched purchases older than it ARE in
    -- the result, newer ones are still pending and are NOT.
    WITH ev AS MATERIALIZED (
        SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
    ),
    views AS MATERIALIZED (
        SELECT user_id, ts_us FROM ev WHERE event_type = 'view'
    ),
    purch AS MATERIALIZED (
        SELECT user_id, ts_us FROM ev WHERE event_type = 'purchase'
    ),
    wm AS (
        SELECT least((SELECT max(ts_us) FROM views) // 1000,
                     (SELECT max(ts_us) FROM purch) // 1000)
               - 3600000 AS w_ms
    ),
    matched AS (
        SELECT p.user_id,
               p.ts_us AS purchase_ts_us,
               v.ts_us AS view_ts_us
        FROM purch p JOIN views v
          ON p.user_id = v.user_id
         AND v.ts_us BETWEEN p.ts_us - 86400000000 AND p.ts_us
    ),
    null_extended AS (
        SELECT p.user_id, p.ts_us AS purchase_ts_us,
               CAST(-1 AS BIGINT) AS view_ts_us
        FROM purch p, wm
        WHERE NOT EXISTS (
                SELECT 1 FROM views v
                WHERE v.user_id = p.user_id
                  AND v.ts_us BETWEEN p.ts_us - 86400000000 AND p.ts_us)
          AND p.ts_us // 1000 < wm.w_ms
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(purchase_ts_us AS BIGINT) AS purchase_ts_us,
           CAST(view_ts_us AS BIGINT) AS view_ts_us,
           view_ts_us >= 0 AS is_matched
    FROM (SELECT * FROM matched UNION ALL SELECT * FROM null_extended)
    ORDER BY user_id, purchase_ts_us, view_ts_us
"""


@register(
    "streaming_left_outer_join",
    _SS_LEFT_OUTER_ORACLE,
    "Stream-stream LEFT OUTER interval join with watermarks "
    "(streaming/windows.py run_stream_stream_left_outer_join): every "
    "purchase attributed to same-user views in the trailing 24 h, and "
    "view-less purchases still emitted with a NULL view side - the "
    "outer form the inner streaming_stream_stream_join cannot "
    "express, because a NULL-extended row asserts no match can still "
    "arrive and must wait for watermark proof. The replay's final "
    "no-data micro-batch flushes exactly the unmatched purchases "
    "older than the ms-floored final watermark; the oracle encodes "
    "that eviction rule relationally (NULL view ts surfaces as -1 on "
    "both sides for a hash-stable representation). State at 100 "
    "TB/day = horizon x per-key rate per side plus the watermark-"
    "evicted unmatched-left buffer, keyed by user_id.",
    tags=("streaming", "join", "round4"),
)
def streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import run_stream_stream_left_outer_join

    out = run_stream_stream_left_outer_join(spark, sf_dir)
    return (
        out.select(
            "user_id",
            "purchase_ts_us",
            F.coalesce(F.col("view_ts_us"), F.lit(-1)).alias("view_ts_us"),
            F.col("view_ts_us").isNotNull().alias("is_matched"),
        )
        .orderBy("user_id", "purchase_ts_us", "view_ts_us")
    )


# =====================================================================
# Streaming CDC tail through the Python DataSource stream reader
# =====================================================================
_SQLITE_CDC_ORACLE = """
    -- The incremental tail must be exactly-once: draining the shard
    -- directory batch-by-batch (rowid high-water-mark offsets, 1000
    -- rows/shard/batch) and aggregating the union of all micro-batches
    -- must equal the batch aggregate of the parquet original - no
    -- dropped ranges, no double reads at batch boundaries. The
    -- multi_batch_replay flag pins that the replay really was
    -- incremental (>= 2 non-empty micro-batches), not one big read.
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_price_cents,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key,
           TRUE AS multi_batch_replay
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""


@register(
    "sqlite_cdc_streaming_tail",
    _SQLITE_CDC_ORACLE,
    "CDC-style STREAMING source through Spark 4's Python DataSource "
    "stream-reader API (sources/sqlite_py.py _SQLiteStreamReader): "
    "the SQLite shard directory is tailed incrementally - the offset "
    "is a {shard -> last rowid} high-water-mark dict (the "
    "JDBC/Debezium incremental contract, checkpointable by Spark), "
    "each micro-batch plans one executor-side InputPartition per "
    "shard for the newly appended rowid range, and a 1000-row/shard "
    "rate limit forces a genuinely multi-batch replay. The appended "
    "union of every micro-batch must aggregate EXACTLY to the batch "
    "parquet twin (exactly-once: no dropped ranges, no boundary "
    "double-reads), and multi_batch_replay pins >= 2 non-empty "
    "batches from the query progress. Completes the connector "
    "matrix: sqlite batch read/write + pushdown + now a streaming "
    "reader; at scale the same reader tails any append-only "
    "single-writer SQL store.",
    tags=("streaming", "source", "round4"),
)
def sqlite_cdc_streaming_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.sqlite_py import register_sqlite_source, write_sqlite_shards
    from ..streaming.windows import replay_to_memory

    out_dir = tmp_io("cdc_sqlite")

    src = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
        )
        .repartition(4)
    )
    # The shard writer already returns per-shard (file, n_rows)
    # metadata — summing it replaces the separate count() job's second
    # full scan of orders (r10, guide §1.2: don't compute things
    # twice). Identical n_src, identical rate, identical batch counts.
    n_src = sum(
        r.n_rows for r in write_sqlite_shards(src, out_dir, "orders").collect()
    )

    register_sqlite_source(spark)
    # Rate-limit scaled to the input so the replay is ~4 micro-batches
    # at ANY sf. A fixed 1000/shard was wrong at both ends: 38 batches
    # at sf0.1 (each paying Python DataSource planning overhead) and a
    # SINGLE batch at sf0.001 (375 rows/shard < 1000), which broke the
    # multi_batch_replay=TRUE oracle contract at the smallest sf.
    # 4 batches (was 6): each Python-DataSource micro-batch costs a
    # steady ~0.7 s of driver-side stream-reader planning regardless
    # of rows (r8 profile), and 4 still exercises three exactly-once
    # batch boundaries plus the >=2 non-empty-batch contract.
    rate = max(1, n_src // (4 * 4))
    stream = (
        spark.readStream.format("sqlite_py_cdc")
        .option("path", out_dir)
        .option("table", "orders")
        .option("rows_per_batch", rate)
        .load()
    )
    # Aggregate the replay inside the session and pin only the
    # per-status result. The stream keeps no state, so the session's
    # shuffle width is left as it is (conf={}).
    return replay_to_memory(
        spark,
        stream,
        "append",
        conf={},
        result=lambda sink, n_batches: sink.groupBy(
            F.col("status").alias("o_orderstatus")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("price") * 100).cast("long"))
            .cast("long")
            .alias("sum_price_cents"),
            F.min("k").alias("min_key"),
            F.max("k").alias("max_key"),
        )
        .withColumn("multi_batch_replay", F.lit(n_batches >= 2))
        .orderBy("o_orderstatus"),
    )[0]


# =====================================================================
# Streaming sink: exactly-once transactional shard commits
# =====================================================================
_SQLITE_SINK_ORACLE = """
    -- Four connector legs chained: distributed batch write ->
    -- CDC streaming read (multi-batch) -> transactional streaming
    -- sink (stage + rename-on-commit per batchId) -> batch pushdown
    -- read. The final aggregate must equal the parquet original under
    -- the same predicate: any dropped/duplicated micro-batch, staged
    -- file leak, or boundary error breaks the hash.
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_price_cents,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    WHERE o_orderkey > 3000
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""


@register(
    "sqlite_streaming_sink_roundtrip",
    _SQLITE_SINK_ORACLE,
    "Transactional STREAMING SINK through Spark 4's Python "
    "DataSourceStreamWriter (sources/sqlite_py.py "
    "_SQLiteStreamWriter): every task stages its micro-batch "
    "partition as a .db.tmp file and the driver-side commit renames "
    "the batch's files into place after clearing any prior attempt "
    "of the same batchId - the stage/rename-on-commit, "
    "delete-on-abort protocol of a transactional file sink, giving "
    "exactly-once output under retries. The query chains the FULL "
    "connector matrix: distributed batch write -> CDC streaming "
    "read (rate-limited to multiple micro-batches) -> streaming "
    "sink -> batch pushdown read (o_orderkey > 3000 into the sqlite "
    "WHERE) -> aggregate, which must hash-equal the parquet "
    "original. Checkpointed like any production sink; temp IO under "
    ".tmp_io.",
    tags=("streaming", "sink", "source", "round4"),
)
def sqlite_streaming_sink_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil

    from ..sources.sqlite_py import register_sqlite_source, write_sqlite_shards

    src_dir = tmp_io("cdc_sink_src")
    out_dir = tmp_io("cdc_sink_out")
    ckpt = tmp_io("cdc_sink_ckpt")

    src = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
        )
        .repartition(4)
    )
    # n_src from the writer's own (file, n_rows) metadata — drops the
    # separate count() job's second full scan (see the cdc-tail twin).
    n_src = sum(
        r.n_rows for r in write_sqlite_shards(src, src_dir, "orders").collect()
    )

    register_sqlite_source(spark)
    # Size-scaled rate limit (see sqlite_cdc_streaming_tail): ~4
    # micro-batches per shard at any sf instead of 25+ at sf0.1 or a
    # replay-defeating single batch at sf0.001; each Python-DataSource
    # micro-batch costs ~0.7 s of planning regardless of rows.
    rate = max(1, n_src // (4 * 4))
    q = (
        spark.readStream.format("sqlite_py_cdc")
        .option("path", src_dir)
        .option("table", "orders")
        .option("rows_per_batch", rate)
        .load()
        .writeStream.format("sqlite_py_sink")
        .option("path", out_dir)
        .option("table", "orders")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    back = (
        spark.read.format("sqlite_py")
        .option("path", out_dir)
        .option("table", "orders")
        .option("rows_per_partition", 4000)
        .load()
        .filter(F.col("k") > 3000)  # pushed into the sqlite WHERE
    )
    result = (
        back.groupBy(F.col("status").alias("o_orderstatus"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("price") * 100).cast("long"))
            .cast("long")
            .alias("sum_price_cents"),
            F.min("k").alias("min_key"),
            F.max("k").alias("max_key"),
        )
        .orderBy("o_orderstatus")
    )
    # Pin as a local relation before the checkpoint dir is torn down:
    # a cache could be invalidated later and recompute from the
    # deleted path, and it would stay pinned for the whole session
    # (same class as the round-6 streaming memory-sink leak fix).
    from ..pinning import pin_local

    result = pin_local(spark, result)
    shutil.rmtree(ckpt, ignore_errors=True)
    return result


# =====================================================================
# Stream-stream FULL OUTER join — completes the streaming join matrix
# =====================================================================
@register(
    "streaming_full_outer_join",
    """
    -- Both NULL extensions of a full-outer stream-stream join are
    -- negative claims, each gated by its own watermark proof derived
    -- from the interval condition: an unmatched purchase is final
    -- once the ms-floored final watermark (min(max view_ts, max
    -- purchase_ts) - 1 h) passes purchase_ts (its latest possible
    -- matching view time); an unmatched view once it passes
    -- view_ts + 24 h (its latest possible matching purchase time).
    WITH ev AS MATERIALIZED (
        SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
    ),
    views AS MATERIALIZED (
        SELECT user_id, ts_us FROM ev WHERE event_type = 'view'
    ),
    purch AS MATERIALIZED (
        SELECT user_id, ts_us FROM ev WHERE event_type = 'purchase'
    ),
    wm AS (
        SELECT least((SELECT max(ts_us) FROM views) // 1000,
                     (SELECT max(ts_us) FROM purch) // 1000)
               - 3600000 AS w_ms
    ),
    matched AS (
        SELECT p.user_id, p.ts_us AS purchase_ts_us, v.ts_us AS view_ts_us
        FROM purch p JOIN views v
          ON p.user_id = v.user_id
         AND v.ts_us BETWEEN p.ts_us - 86400000000 AND p.ts_us
    ),
    left_null AS (
        SELECT p.user_id, p.ts_us AS purchase_ts_us,
               CAST(-1 AS BIGINT) AS view_ts_us
        FROM purch p, wm
        WHERE NOT EXISTS (
                SELECT 1 FROM views v
                WHERE v.user_id = p.user_id
                  AND v.ts_us BETWEEN p.ts_us - 86400000000 AND p.ts_us)
          AND p.ts_us // 1000 < wm.w_ms
    ),
    right_null AS (
        SELECT v.user_id, CAST(-1 AS BIGINT) AS purchase_ts_us,
               v.ts_us AS view_ts_us
        FROM views v, wm
        WHERE NOT EXISTS (
                SELECT 1 FROM purch p
                WHERE p.user_id = v.user_id
                  AND v.ts_us BETWEEN p.ts_us - 86400000000 AND p.ts_us)
          AND (v.ts_us + 86400000000) // 1000 < wm.w_ms
    )
    SELECT CAST(user_id AS BIGINT)        AS user_id,
           CAST(purchase_ts_us AS BIGINT) AS purchase_ts_us,
           CAST(view_ts_us AS BIGINT)     AS view_ts_us,
           CASE WHEN purchase_ts_us < 0 THEN 'right_only'
                WHEN view_ts_us < 0     THEN 'left_only'
                ELSE 'both' END           AS side
    FROM (SELECT * FROM matched
          UNION ALL SELECT * FROM left_null
          UNION ALL SELECT * FROM right_null)
    ORDER BY user_id, purchase_ts_us, view_ts_us
    """,
    "Stream-stream FULL OUTER interval join with watermarks "
    "(streaming/windows.py run_stream_stream_full_outer_join) — "
    "completes the streaming join matrix (inner: "
    "streaming_stream_stream_join; left outer: "
    "streaming_left_outer_join): matched purchase/view pairs PLUS "
    "view-less purchases PLUS purchase-less views, each NULL "
    "extension emitted only after ITS watermark proof (asymmetric "
    "horizons: purchase_ts vs view_ts + 24 h — the interval "
    "condition's two bounds). On the finite replay both evictions "
    "are deterministic and the oracle encodes them relationally "
    "(NULL ts surfaces as -1 for a hash-stable representation). "
    "State at 100 TB/day = the inner join's two keyed buffers plus "
    "both unmatched buffers; the view side dominates by the "
    "interval width.",
    tags=("streaming", "join"),
)
def streaming_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import run_stream_stream_full_outer_join

    out = run_stream_stream_full_outer_join(spark, sf_dir)
    return (
        out.select(
            "user_id",
            F.coalesce(F.col("purchase_ts_us"), F.lit(-1)).alias("purchase_ts_us"),
            F.coalesce(F.col("view_ts_us"), F.lit(-1)).alias("view_ts_us"),
            F.when(F.col("purchase_ts_us").isNull(), "right_only")
            .when(F.col("view_ts_us").isNull(), "left_only")
            .otherwise("both")
            .alias("side"),
        )
        .orderBy("user_id", "purchase_ts_us", "view_ts_us")
    )


# =====================================================================
# Streaming session windows - completes the streaming window-type
# matrix (tumbling and sliding runners are driver-certified; session
# windows are the third kind, state-store MERGED rather than assigned).
# =====================================================================
_STREAM_SESSWIN_ORACLE = """
    WITH flagged AS (
        -- Boundary rule: a new session starts only when the gap is
        -- STRICTLY greater than 30 min. ADVICE r4 suspected Spark
        -- splits at the exact-gap tie; empirically it MERGES (the
        -- state-store merge condition is inclusive), so `>` is the
        -- correct oracle. Pinned by
        -- test_session_window_exact_gap_boundary_merges.
        SELECT user_id, epoch_us(ts) AS ts_us,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY epoch_us(ts))
                        > 1800000000
                         OR lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY epoch_us(ts)) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts_us,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
        FROM flagged
    )
    SELECT user_id,
           min(ts_us) // 1000000 AS session_start_s,
           count(*) AS n_events,
           (max(ts_us) - min(ts_us)) // 1000000 AS span_s
    FROM sessions
    GROUP BY user_id, seq
"""


@register(
    "streaming_session_window",
    _STREAM_SESSWIN_ORACLE,
    "Native session_window ON THE STREAMING ENGINE - the third and "
    "last window kind after the driver-certified tumbling and sliding "
    "runners. Streaming session windows cannot be pre-assigned: the "
    "state store holds one open session per key and MERGES adjacent "
    "sessions when an event bridges two of them (Spark's "
    "merging-session state format, selected by the session_window "
    "keyword in a streaming groupBy). Complete mode on the finite "
    "replay emits every merged session, which must equal the batch "
    "lag+cumsum sessionization - the identical contract the batch "
    "twin session_window_native is certified against, now proven on "
    "the state-store path. At scale the watermark evicts sessions "
    "whose end+gap has passed, and session state shards by "
    "(user, window) with the shuffle.",
    tags=("streaming", "window", "sessionization", "round4"),
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import run_session_window_stream

    return run_session_window_stream(spark, sf_dir)


# =====================================================================
# State-store reader — Spark 4's statestore format reads a streaming
# checkpoint's state as a DataFrame (the observability surface for
# debugging stateful pipelines at scale).
# =====================================================================
_STATESTORE_ORACLE = """
    -- the state store after a finite append-mode replay holds EXACTLY
    -- the windows the watermark has NOT closed (the emitted set's
    -- complement): window_end > max(ts) - 1h. The oracle recomputes
    -- those open-tail aggregates analytically.
    WITH wm AS (
        SELECT max(epoch_us(ts)) - 3600000000 AS watermark_us FROM events
    )
    SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) * 1000000
               AS window_start_us,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1, 2
    HAVING window_start_us + 3600000000 > (SELECT watermark_us FROM wm)
    ORDER BY 1, 2
"""


@register(
    "statestore_reader_audit",
    _STATESTORE_ORACLE,
    "State-store READER (spark.read.format('statestore') on a "
    "streaming checkpoint, Spark 4 surface): after the append-mode "
    "tumbling-window replay finishes, the operator state is read "
    "back as a DataFrame (key.window, key.event_type, value.count) "
    "and must contain EXACTLY the open tail windows — the complement "
    "of the emitted set, since append mode evicts state precisely "
    "when the watermark closes a window. A hash match against the "
    "analytically-recomputed open-window aggregates proves BOTH the "
    "reader decodes state bytes faithfully AND the eviction policy "
    "left the right rows behind. This is the production debugging "
    "path for stateful streams at 100 TB: state inspection without "
    "replaying the stream, sharded by partition_id exactly as the "
    "shuffle laid it out.",
    tags=("streaming", "source", "round5"),
)
def statestore_reader_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..streaming.windows import state_stage_conf, streaming_events

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
    base = tempfile.mkdtemp(prefix="spark_graft_statestore_")
    out_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    # The checkpoint pins the state stage's width for the query's
    # lifetime, so the narrowed stage (streaming.windows module
    # docstring) also means fewer state files for the reader below.
    try:
        with scoped_conf(spark, state_stage_conf(spark)):
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
        state = (
            spark.read.format("statestore")
            .load(ckpt)
            .select(
                F.unix_micros(F.col("key.window.start")).alias(
                    "window_start_us"
                ),
                F.col("key.event_type").alias("event_type"),
                F.col("value.count").cast("bigint").alias("n_events"),
            )
            .orderBy("window_start_us", "event_type")
        )
        # Pin the tiny open-tail-window state as a local relation BEFORE
        # the finally-rmtree deletes the checkpoint it reads from: a
        # mere .cache() could be invalidated later (clearCache by
        # another test, unpersist, session restart) and any downstream
        # action would recompute from the deleted path — and the cache
        # was never unpersisted, leaking across the 376-query bench run
        # (ADVICE r5 item 1).
        return pin_local(spark, state)
    finally:
        shutil.rmtree(base, ignore_errors=True)
