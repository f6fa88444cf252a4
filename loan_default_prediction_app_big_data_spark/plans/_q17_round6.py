"""Round-6 additions: the last uncovered modern-SQL surface cells —
LIMIT/OFFSET pagination, SQL:2003 ordered-set aggregates
(percentile_disc / percentile_cont WITHIN GROUP), the GROUP BY
ALL / ORDER BY ALL shorthand — plus two charter LLM-pipeline ops:
fuzzy train-vs-benchmark decontamination (asymmetric lossless
PPJoin) and WordPiece-style merge training (likelihood-ratio pair
scoring, the second tokenizer-vocabulary algorithm next to BPE).

Registration ORDER is part of the driver contract - segments are
imported by the facade in fixed sequence; do not reorder.
"""

from __future__ import annotations

import math

from ._core import DataFrame, F, SparkSession, register, t
from ..operators.text import pair_counts
from ._q08_sequences_session2 import _train_merges


# =====================================================================
# LIMIT/OFFSET pagination over a total order
# =====================================================================

_PAGINATION_ORACLE = """
    SELECT o_orderkey, o_custkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 40
"""


@register(
    "limit_offset_pagination",
    _PAGINATION_ORACLE,
    "Keyless pagination: page 3 (rows 41-60) of orders under the "
    "total order (o_totalprice DESC, o_orderkey) via DataFrame "
    ".offset(40).limit(20) — the reference's .head() preview "
    "(spark.py:36) generalized to arbitrary pages. Scale: Catalyst "
    "folds ORDER BY + LIMIT k + OFFSET m into TakeOrderedAndProject "
    "(limit k+m, drop m): each partition keeps a bounded top-(k+m) "
    "heap, one tiny final merge on the driver — no global sort, no "
    "full shuffle, memory O(k+m) regardless of table size. (Deep "
    "pages at 100 TB should switch to keyset pagination — WHERE "
    "(price,key) < last_seen ORDER BY ... LIMIT k — which this total "
    "order makes possible; OFFSET cost grows with m.) The tiebreak "
    "key makes the page deterministic, so the driver hash pins the "
    "exact 20 rows.",
    tags=("relational", "pagination", "round6"),
)
def limit_offset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .offset(40)
        .limit(20)
    )


# =====================================================================
# SQL:2003 ordered-set aggregates: percentile_disc / percentile_cont
# WITHIN GROUP
# =====================================================================

_WITHIN_GROUP_ORACLE = """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)
                AS BIGINT) AS median_disc_cents,
           CAST(percentile_cont(0.25) WITHIN GROUP (ORDER BY cents) * 4
                AS BIGINT) AS q1_cont_quarter_cents
    FROM (
        SELECT o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


@register(
    "percentile_within_group",
    _WITHIN_GROUP_ORACLE,
    "SQL:2003 ordered-set aggregates per priority class: "
    "percentile_disc(0.5) WITHIN GROUP is the exact lower-median "
    "order statistic (an integer cents value — hash-exact by "
    "construction) and percentile_cont(0.25) interpolates between "
    "the two bracketing order statistics. The continuous quartile is "
    "emitted as exact integer QUARTER-cents: with a 0.25 fraction the "
    "interpolation a+frac*(b-a) lands on the binary-exact 1/4 grid, "
    "so *4 is an integer on BOTH engines and no float rounding can "
    "diverge. Scale: Spark plans WITHIN GROUP percentiles as a "
    "partial/final ObjectHashAggregate (per-group sorted sketch "
    "merge) — one shuffle on the 5 priority keys; the per-group "
    "state is the value multiset, so for high-cardinality value "
    "domains at 100 TB prefer approx_percentile (sketch tier, "
    "already registered) and reserve exact WITHIN GROUP for "
    "bounded-domain columns like integer cents.",
    tags=("aggregation", "ordered-set", "round6"),
)
def percentile_within_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)
                    AS BIGINT) AS median_disc_cents,
               CAST(percentile_cont(0.25) WITHIN GROUP (ORDER BY cents) * 4
                    AS BIGINT) AS q1_cont_quarter_cents
        FROM (
            SELECT o_orderpriority,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM {orders}
        )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        orders=t(spark, sf_dir, "orders"),
    )


# =====================================================================
# GROUP BY ALL / ORDER BY ALL shorthand
# =====================================================================

_GROUP_BY_ALL_ORACLE = """
    SELECT o_orderstatus,
           o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
"""


@register(
    "group_by_all_shorthand",
    _GROUP_BY_ALL_ORACLE,
    "GROUP BY ALL + ORDER BY ALL (the modern-SQL shorthand both "
    "Spark 4 and DuckDB support — the oracle is the IDENTICAL query "
    "text): the engine infers the grouping keys as every "
    "non-aggregate select item and the ordering as the full select "
    "list. Semantics and plan are exactly the explicit GROUP BY "
    "o_orderstatus, o_orderpriority — partial+final hash aggregate, "
    "one shuffle on the 15-key grid, then a metadata-scale sort — so "
    "the shorthand costs nothing at 100 TB; it exists to kill "
    "keep-the-column-lists-in-sync bugs in wide rollups.",
    tags=("aggregation", "sql-surface", "round6"),
)
def group_by_all_shorthand(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT o_orderstatus,
               o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM {orders}
        GROUP BY ALL
        ORDER BY ALL
        """,
        orders=t(spark, sf_dir, "orders"),
    )


# =====================================================================
# Fuzzy train-vs-benchmark decontamination (asymmetric PPJoin)
# =====================================================================

_FUZZY_DECON_ORACLE = """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(ws) - 2, 1)),
                   i -> array_to_string(ws[i:i+2], ' '))) AS sh3
        FROM toks WHERE len(ws) > 0
    ), e AS (
        SELECT doc_id, unnest(sh3) AS s FROM sh
    ), sizes AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS nc
        FROM e a JOIN e b ON a.s = b.s
        WHERE a.doc_id % 11 <> 0 AND b.doc_id % 11 = 0
        GROUP BY 1, 2
    )
    SELECT CAST(i.id_a AS BIGINT) AS id_a,
           CAST(i.id_b AS BIGINT) AS id_b,
           i.nc AS n_inter,
           sa.n + sb.n - i.nc AS n_union
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE 10 * i.nc >= 5 * (sa.n + sb.n - i.nc)  -- jaccard >= 0.5, exact ints
    ORDER BY id_a, id_b
"""


@register(
    "fuzzy_decontamination",
    _FUZZY_DECON_ORACLE,
    "Fuzzy benchmark decontamination: every (train doc, benchmark "
    "doc) pair with 3-shingle Jaccard >= 0.5, via the ASYMMETRIC "
    "PPJoin kernel (operators/dedup.py: the prefix_filtered_jaccard_"
    "join_asym wrapper over the shared _prefixes/_verified_pairs "
    "kernel) — benchmark_decontamination's exact-n-gram containment "
    "catches verbatim leakage; THIS catches paraphrased or partially "
    "edited eval items. The prefix filter is LOSSLESS (shared "
    "union-corpus frequency order, so any J>=t pair must collide "
    "inside both prefixes), hence the oracle can demand exact "
    "equality with the O(|train| x |bench|) DuckDB join — a banded "
    "MinHash here could drop a borderline J=0.52 pair and break the "
    "hash. Output is pure integers (n_inter, n_union), the "
    "engine-exact rational similarity. Scale: candidates come only "
    "from rare-shingle prefix collisions + length bounds, and the "
    "benchmark side is the small one — at 100 TB this is a broadcast "
    "of the benchmark prefix table against the train corpus, cost "
    "~linear in true leaks.",
    tags=("dedup", "llm-pipeline", "round6"),
)
def fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import prefix_filtered_jaccard_join_asym

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 11 == 0)
    train = docs.filter(F.col("doc_id") % 11 != 0)
    return (
        prefix_filtered_jaccard_join_asym(
            train, bench, id_col="doc_id", text_col="text",
            k=3, threshold=0.5,
        )
        .select(
            F.col("id_a").cast("bigint").alias("id_a"),
            F.col("id_b").cast("bigint").alias("id_b"),
            "n_inter",
            "n_union",
        )
        .orderBy("id_a", "id_b")
    )


# =====================================================================
# WordPiece-style merge training: likelihood-ratio pair scoring
# =====================================================================

_WP_FLOOR = 5  # min pair support — rare pairs of rare tokens score
#                1/(1*1) and would dominate an unfloored likelihood ratio


def _wordpiece_oracle_parts(n_merges: int = 4) -> tuple[str, str]:
    """(stage_ctes, merge_table_select): the n training-stage CTE
    block (starting ``WITH t0 AS ...``) and the final merge-table
    SELECT, as SEPARATE pieces so ``_q18_round6b._maxmatch_oracle``
    can compose the identical trained-vocabulary stages with its own
    recursive segmentation walk structurally, instead of slicing the
    assembled SQL text by rindex (ADVICE r6 — the text surgery broke
    at a distance on any cosmetic reformat here)."""
    stages = ["WITH t0 AS MATERIALIZED (SELECT doc_id, text FROM documents)"]
    selects = []
    for i in range(n_merges):
        stages.append(f"""
    u{i} AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM t{i})
        GROUP BY 1
    ),
    p{i} AS MATERIALIZED (
        SELECT bg[1] AS w1, bg[2] AS w2, CAST(count(*) AS BIGINT) AS cnt
        FROM (
            SELECT unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS bg
            FROM (SELECT string_split(text, ' ') AS ws FROM t{i})
            WHERE len(ws) >= 2
        ) GROUP BY 1, 2
    ),
    m{i} AS MATERIALIZED (
        SELECT p.w1, p.w2, p.cnt, ua.c AS c1, ub.c AS c2
        FROM p{i} p
        JOIN u{i} ua ON ua.w = p.w1
        JOIN u{i} ub ON ub.w = p.w2
        WHERE p.cnt >= {_WP_FLOOR}
        ORDER BY CAST(p.cnt AS DOUBLE) / (ua.c * ub.c) DESC, p.w1, p.w2
        LIMIT 1
    ),
    t{i + 1} AS MATERIALIZED (
        SELECT doc_id,
               trim(replace(replace(
                   ' ' || replace(text, ' ', '  ') || ' ',
                   ' ' || (SELECT w1 FROM m{i}) || '  '
                       || (SELECT w2 FROM m{i}) || ' ',
                   ' ' || (SELECT w1 FROM m{i}) || '@@'
                       || (SELECT w2 FROM m{i}) || ' '),
                   '  ', ' ')) AS text
        FROM t{i}
    )""")
        selects.append(
            f"SELECT {i + 1} AS merge_order, w1, w2, cnt, c1, c2 FROM m{i}"
        )
    union = "\n    UNION ALL ".join(selects)
    final = f"""
    SELECT CAST(merge_order AS INT) AS merge_order, w1, w2,
           cnt AS pair_count, c1 AS left_count, c2 AS right_count,
           CAST(floor(1e9 * CAST(cnt AS DOUBLE) / (c1 * c2)) AS BIGINT)
               AS score_1e9
    FROM ({union}) ORDER BY merge_order"""
    return ",".join(stages), final


def _wordpiece_oracle(n_merges: int = 4) -> str:
    """Full WordPiece training oracle: the stage CTEs plus the
    merge-table readout (see _wordpiece_oracle_parts)."""
    ctes, final = _wordpiece_oracle_parts(n_merges)
    return ctes + final


def _wordpiece_pick(toks: DataFrame):
    """The round's likelihood-ratio argmax (score DESC, w1, w2) over
    pairs with support >= the floor."""
    uni = (
        toks.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    scored = (
        pair_counts(toks)
        .filter(F.col("cnt") >= _WP_FLOOR)
        .join(
            F.broadcast(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))),
            "w2",
        )
        .withColumn(
            "score", F.col("cnt").cast("double") / (F.col("c1") * F.col("c2"))
        )
    )
    return scored.orderBy(F.desc("score"), "w1", "w2").limit(1).collect()[0]


@register(
    "wordpiece_merge_training",
    _wordpiece_oracle(4),
    "WordPiece-style merge-rule training — the SECOND of the major "
    "tokenizer-vocabulary algorithms next to bpe_merge_training: "
    "instead of BPE's raw pair count, each round merges the argmax "
    "of the LIKELIHOOD RATIO cnt(w1,w2)/(cnt(w1)*cnt(w2)) (pairs "
    "that co-occur exclusively beat merely-frequent pairs; support "
    "floor %d keeps one-off pairs of singleton tokens from scoring "
    "a perfect ratio). Cross-engine exactness: the score is ONE "
    "IEEE double division of exact integers — correctly rounded, so "
    "both engines compute the identical double and the identical "
    "(score DESC, w1, w2) argmax; the emitted score is floor(1e9*s) "
    "so even its representation is an integer. Corpus rewrite uses "
    "the same double-space greedy-replace trick as BPE (pinned "
    "cross-engine). Per round the driver receives exactly ONE row; "
    "corpus text never leaves the executors. Scale: each round is "
    "two partial-combined aggregations (unigrams, bigrams) + a "
    "broadcast join of two metadata-scale count tables + one narrow "
    "map over the corpus — embarrassingly parallel, same plan every "
    "round." % _WP_FLOOR,
    tags=("text", "llm-pipeline", "iterative", "round6"),
)
def wordpiece_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    picks = _train_merges(spark, sf_dir, 4, _wordpiece_pick)
    # Mirror the oracle's float op ORDER exactly: divide first (one
    # correctly-rounded IEEE division), then *1e9, then floor — a
    # different association could land 1 ulp across the floor boundary
    # on one engine only.
    return spark.createDataFrame(
        [
            (i + 1, m.w1, m.w2, m.cnt, m.c1, m.c2,
             math.floor(1e9 * (m.cnt / (m.c1 * m.c2))))
            for i, m in enumerate(picks)
        ],
        "merge_order int, w1 string, w2 string, pair_count bigint,"
        " left_count bigint, right_count bigint, score_1e9 bigint",
    ).orderBy("merge_order")
