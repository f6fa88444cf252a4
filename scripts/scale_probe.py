"""sf1 scale probe for the TPC-H join tier (VERDICT r3 task 7).

PERF.md's dedup tier has a measured 10x-scaling table; this script
produces the equivalent for the heavy join queries (q5/q9/q21 + the
skew/broadcast-sensitive shapes). It materializes a ~sf1 fixture by
replicating the sf0.1 FACT tables (orders, lineitem) 10x with disjoint
orderkey ranges — dimension tables are symlinked unchanged, which is
exactly the growth pattern the engine's broadcast-dim claims assume —
then times each query at sf0.1 and at the 10x fixture (best-of-2
``harness.run_query``) and prints the scaling ratio.

A join tier that holds its claimed shape (broadcast dims, partial aggs,
AQE-planned shuffles) should scale ~linearly in fact rows: ratio ~<=
10x with sublinearity from fixed overheads. Superlinear ratios flag a
shape that breaks past sf0.1 (e.g. a dim join falling off the
broadcast threshold into an unplanned SMJ).

Usage: python scripts/scale_probe.py [query ...]
Writes the fixture under .tmp_io/sf1_probe (gitignored; reused if
present — delete the dir to regenerate).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from loan_default_prediction_app_big_data_spark.harness import run_query, warm_session  # noqa: E402
from loan_default_prediction_app_big_data_spark.session import get_spark  # noqa: E402

SF_BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PROBE_DIR = os.path.join(REPO, ".tmp_io", "sf1_probe")
REPLICAS = 10
# Join-tier probe set: the three VERDICT-named heavy joins plus the
# shapes most sensitive to broadcast-threshold / skew behaviour.
DEFAULT_QUERIES = [
    "q5_region_revenue",
    "q9_product_profit",
    "q21_waiting_suppliers",
    "q18_large_orders",
    "skew_join_salted",
    "q7_nation_trade_flows",
    "q10_returned_items",
]
ALL_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def build_fixture(spark) -> None:
    """10x the fact tables with disjoint key ranges; symlink dims.

    Round 6 extends the replication to ``events`` and ``documents``
    (ids shifted, timestamps/text unchanged) so the round-5 source/
    streaming additions probe against genuinely 10x inputs — they were
    symlinked before, which made a probe on them a no-op. Event
    density grows 10x at the same ts range, which is the right shape
    for state-size claims: streaming state must stay bounded by the
    (window x key-domain) cardinality, not by volume.
    """
    from pyspark.sql import functions as F

    os.makedirs(PROBE_DIR, exist_ok=True)
    orders = spark.read.parquet(os.path.join(SF_BASE, "orders.parquet"))
    offset = orders.agg(F.max("o_orderkey")).first()[0] + 1
    replicated = [
        ("orders", ["o_orderkey"], offset),
        ("lineitem", ["l_orderkey"], offset),
        ("events", ["event_id"], None),
        ("documents", ["doc_id"], None),
    ]
    for name, keys, off in replicated:
        src = spark.read.parquet(os.path.join(SF_BASE, f"{name}.parquet"))
        out = os.path.join(PROBE_DIR, f"{name}.parquet")
        if off is None:
            off = src.agg(F.max(keys[0])).first()[0] + 1
        # one replica per union leg, keys shifted into disjoint ranges;
        # within-order structure (q21's self-join semantics) is preserved
        scaled = None
        for i in range(REPLICAS):
            leg = src
            for key in keys:
                leg = leg.withColumn(
                    key, (F.col(key) + F.lit(i * off)).cast("long")
                )
            scaled = leg if scaled is None else scaled.unionByName(leg)
        scaled.write.mode("overwrite").parquet(out)
    for name in ALL_TABLES:
        dst = os.path.join(PROBE_DIR, f"{name}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SF_BASE, f"{name}.parquet"), dst)


def main() -> None:
    names = sys.argv[1:] or DEFAULT_QUERIES
    spark = get_spark(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(os.path.join(PROBE_DIR, "lineitem.parquet")):
        print(f"building 10x fact fixture under {PROBE_DIR} ...", file=sys.stderr)
        build_fixture(spark)
    warm_session(spark, SF_BASE)
    rows = []
    for name in names:
        base, big = (
            round(min(run_query(spark, name, sf_dir) for _ in range(2)), 2)
            for sf_dir in (SF_BASE, PROBE_DIR)
        )
        ratio = round(big / base, 2) if base > 0 else None
        rows.append({"query": name, "sf0.1_s": base, "10x_s": big, "ratio": ratio})
        print(f"{name:32s} sf0.1 {base:7.2f}s  10x {big:7.2f}s  ratio {ratio}",
              file=sys.stderr)
    print(json.dumps({"replicas": REPLICAS, "base": SF_BASE, "rows": rows}))


if __name__ == "__main__":
    main()
