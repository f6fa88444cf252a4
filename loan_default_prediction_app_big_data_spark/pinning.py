"""Pin a metadata-scale result on the driver.

The pinned frame is a ``Scan ExistingRDD`` over a parallelized Python
RDD of the collected rows (``createDataFrame(rows, schema)``), not a
``LocalRelation``. Shared implementation of the ``collect()`` +
``createDataFrame`` pattern that previously appeared three times
(streaming runners, checkpoint-scoped plans, SQL-scripting scope) —
VERDICT r7 item 5.
Leaf module (imports only pyspark) so both ``plans._core`` and
``streaming.windows`` can use it without an import cycle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: Pinning materializes on the driver — a guard this size keeps the
#: pattern usable only for post-aggregate / metadata-scale frames.
MAX_PIN_ROWS = 10_000


def pin_local(
    spark: SparkSession, df: DataFrame, max_rows: int = MAX_PIN_ROWS
) -> DataFrame:
    """Collect a metadata-scale result and rebuild it from the driver-
    held rows (``createDataFrame(rows, schema)``: a ``Scan ExistingRDD``
    over a parallelized Python RDD), severing any dependency on
    soon-to-be-dropped inputs (memory-sink tables, temp checkpoint/
    output dirs). Safer than ``.cache()``: a cache can be invalidated
    (clearCache, unpersist, session restart) after which any action
    recomputes from the deleted source and fails — ADVICE r5 item 1's
    failure mode.

    Refuses frames larger than ``max_rows`` so a future call site
    can't silently pin (= drag through the driver) a data-scale frame.
    The collected rows live only as long as the returned DataFrame —
    nothing stays pinned after the caller drops it.
    """
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"pin_local: frame exceeds {max_rows} rows — pinning is for "
            "post-aggregate metadata-scale results only; write a "
            "distributed sink instead"
        )
    return spark.createDataFrame(rows, df.schema)


def release_local_checkpoints(*dfs: DataFrame) -> int:
    """Unpersist the pinned RDDs behind ``df.localCheckpoint()`` frames.

    ``df.rdd.unpersist()`` is a silent NO-OP for a checkpointed
    DataFrame: ``.rdd`` builds a fresh pipeline RDD over the pinned
    one, so the unpersist lands on the wrapper (verified r9: pinned
    count unchanged). The pin lives in the plan's ``LogicalRDD`` leaf;
    this walks the analyzed plan and unpersists those leaves' RDDs —
    the only reliable in-query release, used by iterative plans
    (BPE/WordPiece rounds, label propagation, Bellman-Ford frontiers,
    FP-mining baskets) to drop dead intermediates instead of leaking
    one pinned RDD per iteration into the session (measured r9: 8
    un-released fpgrowth runs accumulate 16 pins and degrade to
    26-29 s/run; released, the session holds steady).

    Blocking=False: release is asynchronous, never on the timed path.

    Returns the number of LogicalRDD leaves unpersisted and tallies
    into ``RELEASE_STATS`` — the walk depends on private JVM internals
    (``_jdf``, ``analyzed().collectLeaves()``, the LogicalRDD simple
    class name) and swallows failures, so a Spark upgrade could turn
    it into a silent no-op and reintroduce the measured
    pin-accumulation degradation; a caller (or bench telemetry) that
    sees ``calls`` grow while ``released`` stays 0 has its signal
    (ADVICE r9 item 1).
    """
    released = 0
    for df in dfs:
        RELEASE_STATS["calls"] += 1
        try:
            leaves = df._jdf.queryExecution().analyzed().collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                if leaf.getClass().getSimpleName() == "LogicalRDD":
                    leaf.rdd().unpersist(False)
                    released += 1
        except Exception:
            RELEASE_STATS["errors"] += 1  # best-effort hygiene, never correctness
    RELEASE_STATS["released"] += released
    return released


#: Lifetime tallies for release_local_checkpoints — a no-op regression
#: (e.g. a Spark bump renaming LogicalRDD) shows as calls >> released.
RELEASE_STATS = {"calls": 0, "released": 0, "errors": 0}
