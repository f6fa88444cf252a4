"""Round-5 additions: a path-accumulating recursive CTE (Spark 4
WITH RECURSIVE carrying per-row state, complementing _q05's
recursive_cte_hierarchy level census), the three remaining
file-source connectors (native XML, line-text, binaryFile — closing
the format matrix next to csv/json/orc/avro/parquet/delta/sqlite),
the statestore checkpoint reader, dynamic SQL via EXECUTE IMMEDIATE
+ IDENTIFIER, and the built-in approx_top_k sketch.

Registration ORDER is part of the driver contract - segments are
imported by the facade in fixed sequence; do not reorder.
"""

from __future__ import annotations

import os
import shutil

from ..pinning import pin_local
from ..scratch import tmp_io
from ..session import scoped_conf
from ._core import DataFrame, F, SparkSession, register, t


# =====================================================================
# Recursive CTE with a carried accumulator — Spark 4's WITH RECURSIVE
# on a derived supplier hierarchy (parent(k) = k div 2, binary tree
# rooted at suppkey 1). The level-census twin lives in _q05
# (recursive_cte_hierarchy); this one threads per-path state.
# =====================================================================

_RECURSIVE_CTE_ORACLE = """
    -- DuckDB runs the IDENTICAL recursion (dialect: // vs div) —
    -- iterate-to-fixpoint semantics must agree step for step, and
    -- the integer-cents accumulator makes every row exact.
    WITH RECURSIVE walk AS (
        -- domain: suppkey >= 1 (the tree is rooted at 1; the
        -- fixture's suppkey 0 has no path to the root and is
        -- excluded EXPLICITLY rather than silently dropped by the
        -- cur = 1 readout filter)
        SELECT s_suppkey AS k, s_suppkey AS cur,
               CAST(round(s_acctbal * 100) AS BIGINT) AS acc, 0 AS depth
        FROM supplier WHERE s_suppkey >= 1
        UNION ALL
        SELECT w.k, s.s_suppkey,
               w.acc + CAST(round(s.s_acctbal * 100) AS BIGINT),
               w.depth + 1
        FROM walk w JOIN supplier s ON s.s_suppkey = w.cur // 2
        WHERE w.cur > 1
    )
    SELECT depth AS root_depth, CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(acc) AS BIGINT) AS chain_cents
    FROM walk WHERE cur = 1 GROUP BY 1 ORDER BY 1
"""


@register(
    "recursive_cte_supplier_chain",
    _RECURSIVE_CTE_ORACLE,
    "WITH RECURSIVE with a PATH ACCUMULATOR: each supplier walks its "
    "ancestor chain in the derived binary-tree hierarchy parent(k) = "
    "k div 2 down to root 1, summing exact account-balance cents "
    "along the path, readout grouped by root distance. Complements "
    "the pre-existing recursive_cte_hierarchy (a top-down LEVEL "
    "CENSUS: per-depth node counts, no carried state) with the other "
    "recursion shape — bottom-up walks that CARRY an aggregate "
    "through every step (BOM cost rollup, path-cost reachability), "
    "so each iteration's frontier rows, not just the final level "
    "structure, must be exact. The oracle runs the textually "
    "identical recursion in DuckDB (// for div). At 100 TB each "
    "iteration is one shuffle join of the frontier against the "
    "(broadcastable) edge table; the all-nodes seed makes total work "
    "O(n log n) rows, vs the census's O(n) — price of per-path "
    "state.",
    tags=("sql", "recursive", "join", "round5"),
)
def recursive_cte_supplier_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        WITH RECURSIVE walk AS (
            SELECT s_suppkey AS k, s_suppkey AS cur,
                   CAST(round(s_acctbal * 100) AS BIGINT) AS acc, 0 AS depth
            FROM {supplier} WHERE s_suppkey >= 1
            UNION ALL
            SELECT w.k, s.s_suppkey,
                   w.acc + CAST(round(s.s_acctbal * 100) AS BIGINT),
                   w.depth + 1
            FROM walk w JOIN {supplier} s ON s.s_suppkey = w.cur div 2
            WHERE w.cur > 1
        )
        SELECT depth AS root_depth, CAST(count(*) AS BIGINT) AS n_suppliers,
               CAST(sum(acc) AS BIGINT) AS chain_cents
        FROM walk WHERE cur = 1 GROUP BY 1 ORDER BY 1
        """,
        supplier=t(spark, sf_dir, "supplier"),
    )


# =====================================================================
# XML file source — Spark 4 ships the former spark-xml as a native
# format; the connector matrix gains its last text-based format.
# =====================================================================

_XML_ROUNDTRIP_ORACLE = """
    -- the XML writer+reader pair is value-lossless for the integer
    -- transport columns (cents as BIGINT; no float text round-trip
    -- in the file — double fidelity is xml_serialize_roundtrip's job)
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN o_orderkey % 97 = 0 THEN NULL
                         ELSE CAST(round(o_totalprice * 100) AS BIGINT) END)
               AS BIGINT) AS total_cents,
           CAST(sum(CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_cents_null,
           min(o_orderkey) AS min_key,
           max(o_orderkey) AS max_key,
           CAST(min(epoch_us(o_orderdate)) AS BIGINT) AS min_date_us
    FROM orders GROUP BY o_orderstatus
"""


@register(
    "xml_source_roundtrip",
    _XML_ROUNDTRIP_ORACLE,
    "Native XML FILE connector (Spark 4 absorbed spark-xml as "
    "format('xml')): orders write as distributed rowTag-per-record "
    "XML part-files, then read back with an explicit schema — "
    "completing the file-format matrix next to the certified "
    "csv/json/orc/avro/parquet/delta/sqlite twins. Transport columns "
    "are integers (price as cents BIGINT, date as epoch-micros "
    "BIGINT) so the text round-trip is bit-lossless by construction; "
    "a nullable column (cents NULLed on orderkey % 97 = 0) exercises "
    "the reader's absent-element-to-NULL path. The aggregate of the "
    "read-back must hash-match the oracle's aggregate of the parquet "
    "original. Scale: both legs are parallel per-partition text IO; "
    "rowTag framing splits at file boundaries like json-lines.",
    tags=("source", "sink", "round5"),
)
def xml_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out_dir = tmp_io("roundtrip_xml")
    src = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(None))
        .otherwise(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .alias("cents"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("odate_us"),
    )
    src.repartition(8).write.format("xml").option("rowTag", "order").mode(
        "overwrite"
    ).save(out_dir)
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema("k BIGINT, status STRING, cents BIGINT, odate_us BIGINT")
        .load(out_dir)
    )
    return back.groupBy(F.col("status").alias("o_orderstatus")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.sum(F.when(F.col("cents").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_cents_null"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
        F.min("odate_us").alias("min_date_us"),
    )


# =====================================================================
# Line-text source — spark.read.text / write.text, the rawest text
# connector (one string column per line); id rides a tab prefix.
# =====================================================================

_TEXT_SOURCE_ORACLE = """
    SELECT doc_id % 10 AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars,
           CAST(sum(len(list_filter(string_split(text, ' '),
                                    x -> x <> ''))) AS BIGINT) AS sum_tokens
    FROM documents GROUP BY 1 ORDER BY 1
"""


@register(
    "text_source_line_stats",
    _TEXT_SOURCE_ORACLE,
    "Line-text connector (write.text / read.text — one UTF-8 line "
    "per record, the format raw LLM corpora actually arrive in): "
    "documents serialize as 'doc_id<TAB>text' lines across "
    "partitioned part-files, read back as the single `value` column, "
    "split on the FIRST tab only (substring_index), and the "
    "recomputed per-bucket char/token statistics must hash-match the "
    "oracle's direct computation on the parquet table — proving the "
    "line transport neither splits, merges, nor mangles any "
    "document. Scale: text files split by line boundaries, each "
    "partition parses independently, no shuffle before the "
    "aggregate's partial combine.",
    tags=("source", "sink", "text", "round5"),
)
def text_source_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out_dir = tmp_io("roundtrip_text")
    docs = t(spark, sf_dir, "documents").select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), F.col("text")).alias(
            "value"
        )
    )
    docs.repartition(8).write.mode("overwrite").text(out_dir)
    back = spark.read.text(out_dir).select(
        F.substring_index("value", "\t", 1).cast("bigint").alias("doc_id"),
        F.expr("substring(value, instr(value, '\t') + 1)").alias("text"),
    )
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    return (
        back.groupBy((F.col("doc_id") % 10).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("sum_chars"),
            F.sum(F.size(toks)).cast("bigint").alias("sum_tokens"),
        )
        .orderBy("bucket")
    )


# =====================================================================
# binaryFile source — the opaque-payload ingestion path the
# multimodal tier's SURVEY row promises (one file -> one row with
# path/length/content), closed with a content-hash oracle.
# =====================================================================

_BINARYFILE_ORACLE = """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS content_sha256
    FROM documents WHERE doc_id % 20 = 0 ORDER BY doc_id
"""


@register(
    "binaryfile_source_stats",
    _BINARYFILE_ORACLE,
    "binaryFile connector (spark.read.format('binaryFile'): one row "
    "per file with path/modificationTime/length/content) — the "
    "opaque-payload ingestion path for image/audio corpora. Every "
    "20th document's UTF-8 bytes are written as '<doc_id>.bin' files "
    "from a distributed foreachPartition (rows never visit the "
    "driver), read back through binaryFile, the id recovered from "
    "the path, and each payload re-hashed JVM-side (sha2 on the "
    "content bytes). The oracle recomputes byte length and SHA-256 "
    "directly from the parquet text — a single flipped bit anywhere "
    "in write, scan, or transport breaks the hash column. Scale: "
    "binaryFile lists files in parallel and never splits a payload; "
    "pathGlobFilter + partitioned directories prune at the listing.",
    tags=("source", "multimodal", "round5"),
)
def binaryfile_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out_dir = tmp_io("roundtrip_binaryfile")
    os.makedirs(out_dir, exist_ok=True)
    sample = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 20 == 0)
        .select("doc_id", "text")
    )

    def write_files(rows):
        for r in rows:
            with open(
                os.path.join(out_dir, f"{r['doc_id']}.bin"), "wb"
            ) as fh:
                fh.write(r["text"].encode("utf-8"))

    sample.foreachPartition(write_files)
    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(out_dir)
    )
    return (
        back.select(
            F.regexp_extract(
                F.col("path"), r"(\d+)\.bin$", 1
            ).cast("bigint").alias("doc_id"),
            F.col("length").cast("bigint").alias("n_bytes"),
            F.sha2(F.col("content"), 256).alias("content_sha256"),
        )
        .orderBy("doc_id")
    )


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


# =====================================================================
# Dynamic SQL — EXECUTE IMMEDIATE with IDENTIFIER() parameter binding
# (Spark 4): table/column names as typed parameters, never string
# splices.
# =====================================================================

_DYNAMIC_SQL_ORACLE = """
    SELECT c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM customer GROUP BY 1 ORDER BY 1
"""


@register(
    "dynamic_sql_identifier",
    _DYNAMIC_SQL_ORACLE,
    "Dynamic SQL the injection-safe way (Spark 4 surface): EXECUTE "
    "IMMEDIATE runs a query template whose TABLE and COLUMN names "
    "arrive as USING parameters through the IDENTIFIER() clause — "
    "identifiers become typed parameters with identifier-validity "
    "enforcement, completing the parameterized-query story next to "
    "parameterized_query_markers (which binds VALUES). The bound "
    "plan is indistinguishable from the static one: same pushdown, "
    "same codegen, hash-equal to the oracle's static SQL. This is "
    "the metadata-driven-pipeline primitive (same template fanned "
    "across table names) without the string-splice injection risk.",
    tags=("sql", "functions", "round5"),
)
def dynamic_sql_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        EXECUTE IMMEDIATE
        'SELECT c_mktsegment AS segment,
                CAST(count(*) AS BIGINT) AS n_customers,
                CAST(sum(CAST(round(IDENTIFIER(:col) * 100) AS BIGINT))
                    AS BIGINT) AS total_cents
         FROM IDENTIFIER(:tbl) GROUP BY 1 ORDER BY 1'
        USING 'c_acctbal' AS col, '{customer}' AS tbl
        """,
        customer=t(spark, sf_dir, "customer"),
    )


# =====================================================================
# approx_top_k — Spark 4.1's built-in heavy-hitter sketch function
# (the API twin of the hand-built Misra-Gries in heavy_hitters_sketch).
# =====================================================================

_APPROX_TOP_K_ORACLE = """
    SELECT event_type AS item, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    ORDER BY n DESC, item LIMIT 5
"""


@register(
    "approx_top_k_events",
    _APPROX_TOP_K_ORACLE,
    "approx_top_k (built-in since Spark 4.1; internally an Apache "
    "DataSketches frequent-items sketch) over the event-type column, "
    "re-sorted deterministically (count DESC, item) after inline(). "
    "The fixture's event-type cardinality is far below the default "
    "maxItemsTracked=10000, and the frequent-items sketch is EXACT "
    "whenever nothing is ever evicted — so the result must equal the "
    "oracle's exact GROUP BY top-5, hash-for-hash. This pins the "
    "exactness boundary the hand-built twin (heavy_hitters_sketch) "
    "proves from the other side with its N/(k+1) error-bound "
    "booleans: same algorithm family, built-in vs from-scratch, both "
    "driver-falsifiable. At 100 TB the sketch is the point: partials "
    "merge associatively map-side, state is O(k), no raw-key "
    "shuffle.",
    tags=("agg", "sketch", "approx", "round5"),
)
def approx_top_k_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT item, n FROM (
            SELECT inline(approx_top_k(event_type, 5))
                AS (item, n)
            FROM {events}
        )
        ORDER BY n DESC, item
        """,
        events=t(spark, sf_dir, "events"),
    ).select("item", F.col("n").cast("bigint").alias("n"))


# =====================================================================
# mapInArrow — the ungrouped RAW-Arrow batch map (Spark 4), closing
# the Arrow UDF matrix next to applyInArrow (grouped), mapInPandas,
# pandas scalar/grouped-agg, and applyInPandasWithState.
# =====================================================================

_MAP_IN_ARROW_ORACLE = """
    SELECT l_orderkey, l_linenumber,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
           CAST(round(l_extendedprice * 100) AS BIGINT) // 100000
               AS price_band
    FROM lineitem WHERE l_orderkey % 499 = 0
    ORDER BY l_orderkey, l_linenumber
"""


@register(
    "map_in_arrow_cents",
    _MAP_IN_ARROW_ORACLE,
    "mapInArrow (Spark 4): per-batch computation directly on "
    "pyarrow.RecordBatch — no pandas materialization, the zero-copy "
    "fast path for columnar Python kernels. The kernel runs "
    "pyarrow.compute round (round_mode=half_towards_infinity, which "
    "equals SQL round's HALF_UP on the positive money grid) and an "
    "integer divide, per row, so the result is partitioning-"
    "independent and must hash-match the oracle's pure-SQL twin "
    "exactly. Completes the Arrow/pandas UDF matrix: pandas scalar, "
    "pandas grouped-agg, mapInPandas, applyInPandas(+WithState), "
    "applyInArrow (grouped) were already certified; this is the "
    "ungrouped Arrow map. At 100 TB the shape is map-only: no "
    "shuffle, Arrow batches stream through the Python worker at "
    "spark.sql.execution.arrow.maxRecordsPerBatch granularity.",
    tags=("udf", "functions", "round5"),
)
def map_in_arrow_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_linenumber", T.LongType()),
            T.StructField("price_cents", T.LongType()),
            T.StructField("price_band", T.LongType()),
        ]
    )

    def cents_kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            cents = pc.cast(
                pc.round(
                    pc.multiply(batch.column("l_extendedprice"), pa.scalar(100.0)),
                    ndigits=0,
                    round_mode="half_towards_infinity",
                ),
                pa.int64(),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pc.cast(batch.column("l_orderkey"), pa.int64()),
                    pc.cast(batch.column("l_linenumber"), pa.int64()),
                    cents,
                    pc.divide(cents, pa.scalar(100000, pa.int64())),
                ],
                names=["l_orderkey", "l_linenumber", "price_cents", "price_band"],
            )

    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 499 == 0)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )
    return li.mapInArrow(cents_kernel, out_schema).orderBy(
        "l_orderkey", "l_linenumber"
    )


# =====================================================================
# Delta OPTIMIZE — small-file compaction on the pure-Python Delta
# protocol (sources/delta_py), the write-path maintenance primitive.
# =====================================================================

_DELTA_COMPACTION_ORACLE = """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           TRUE AS files_reduced,
           TRUE AS pre_compaction_snapshot_intact
    FROM orders WHERE o_orderkey % 3 = 0
    GROUP BY 1 ORDER BY 1
"""


@register(
    "delta_compaction_roundtrip",
    _DELTA_COMPACTION_ORACLE,
    "OPTIMIZE-style small-file compaction on the Delta transaction "
    "log (sources/delta_py.commit_compaction): four small appends "
    "build a fragmented table, one compaction commit swaps the "
    "fragments for a consolidated file with dataChange:false (the "
    "protocol's no-logical-change marker — streaming readers skip "
    "it, time travel still replays the fragments). The readout "
    "aggregates the POST-compaction snapshot (must hash-match the "
    "oracle's direct aggregate — compaction may not lose or dup a "
    "row) plus two proven booleans: live-file count strictly "
    "dropped, and the PRE-compaction version still returns the "
    "identical aggregate through versionAsOf (MVCC intact because "
    "OPTIMIZE never deletes data files — that's VACUUM's job). At "
    "100 TB this is the periodic maintenance pass that keeps scan "
    "file sizes near maxPartitionBytes after high-frequency small "
    "appends.",
    tags=("sink", "source", "round5"),
)
def delta_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import delta_py as D

    path = tmp_io("delta_compaction")
    base = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    # four fragmented appends (disjoint key slices cover % 3 == 0)
    for rem in range(4):
        D.commit_append(path, base.filter(F.col("o_orderkey") % 4 == rem))
    n_files_before = len(D.snapshot_files(path))
    pre_version = D.table_versions(path)[-1]

    D.commit_compaction(spark, path, target_files=1)
    n_files_after = len(D.snapshot_files(path))

    agg = lambda df: df.groupBy("o_orderstatus").agg(  # noqa: E731
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )
    post = agg(D.read_delta(spark, path))
    pre = agg(D.read_delta(spark, path, version=pre_version)).select(
        F.col("o_orderstatus").alias("s2"),
        F.col("n_orders").alias("n2"),
        F.col("total_cents").alias("c2"),
    )
    return (
        post.join(pre, post.o_orderstatus == pre.s2, "full_outer")
        .select(
            "o_orderstatus",
            "n_orders",
            "total_cents",
            F.lit(n_files_after < n_files_before).alias("files_reduced"),
            (
                (F.col("n_orders") == F.col("n2"))
                & (F.col("total_cents") == F.col("c2"))
            ).alias("pre_compaction_snapshot_intact"),
        )
        .orderBy("o_orderstatus")
    )


# =====================================================================
# CSV scalar serialization — to_csv/from_csv complete the per-row
# serialize matrix next to to_json/from_json and to_xml/from_xml.
# =====================================================================

_CSV_SCALAR_ORACLE = """
    SELECT o_orderkey, o_orderstatus AS csv_status,
           CAST(round(o_totalprice * 100) AS BIGINT) AS csv_cents
    FROM orders WHERE o_orderkey % 61 = 0
    ORDER BY o_orderkey
"""


@register(
    "csv_scalar_roundtrip",
    _CSV_SCALAR_ORACLE,
    "CSV SCALAR serialization round-trip: to_csv(struct) -> "
    "from_csv(schema) must reproduce the input values exactly, "
    "completing the per-row serialize matrix next to the certified "
    "to_json/from_json (serialize_functions) and to_xml/from_xml "
    "(xml_serialize_roundtrip) cells — the three interchange codecs "
    "an export pipeline embeds in larger payloads, as expressions "
    "rather than file formats. Integer cents transport keeps the "
    "text round-trip bit-lossless; the oracle selects the ORIGINAL "
    "columns, so a hash match proves the writer/parser pair loses "
    "nothing. Map-only at any scale.",
    tags=("scalar", "serialize", "round5"),
)
def csv_scalar_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 61 == 0)
    line = F.to_csv(
        F.struct(
            F.col("o_orderstatus"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    parsed = F.from_csv(line, "o_orderstatus STRING, cents BIGINT")
    return o.select(
        "o_orderkey",
        parsed.getField("o_orderstatus").alias("csv_status"),
        parsed.getField("cents").alias("csv_cents"),
    ).orderBy("o_orderkey")
