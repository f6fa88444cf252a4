"""Auto-split segment of the query registry (see registry.py facade).

Registration ORDER is part of the driver contract - segments are
imported by the facade in fixed sequence; do not reorder.
"""

from __future__ import annotations

from ._core import DataFrame, F, SparkSession, W, register, t
from ._q01_relational import TUMBLING_ORACLE




# =====================================================================
# Extension tier (charter BASELINE.json:6): dedup / text analysis /
# similarity search / multimodal / streaming.
# =====================================================================

from ..operators import dedup as D  # noqa: E402
from ..operators import multimodal as M  # noqa: E402
from ..operators import similarity as S  # noqa: E402
from ..operators import text as X  # noqa: E402


@register(
    "exact_dedup_docs",
    """
    SELECT sha256(text)         AS content_sha,
           min(doc_id)          AS keep_id,
           count(*)             AS n_copies
    FROM documents
    GROUP BY sha256(text)
    """,
    "Exact content dedup: groupBy sha256(content) keeping min id — the "
    "shuffle moves 32-byte hashes, not documents. Idempotent (output "
    "row count == distinct contents).",
    tags=("dedup",),
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.content_hash_dedup(t(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "text_stats",
    """
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), x -> x <> ''))  AS n_tokens,
           strlen(text)                                             AS n_chars_measured,
           round(list_sum(list_transform(list_filter(string_split(text, ' '), x -> x <> ''),
                                         x -> strlen(x)))
                 / greatest(len(list_filter(string_split(text, ' '), x -> x <> '')), 1), 6)
                                                                    AS avg_token_len,
           round(len(list_filter(string_split(text, ' '),
                     x -> list_contains(['the','a','of','and','to','in','is','that','for','it'], lower(x))))
                 / CAST(greatest(len(list_filter(string_split(text, ' '), x -> x <> '')), 1) AS DOUBLE), 6)
                                                                    AS stopword_ratio
    FROM documents
    """,
    "Per-document quality stats (token count, byte length, avg token "
    "length, function-word ratio) — all native array expressions, "
    "map-side only, no shuffle at any scale.",
    tags=("text",),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = X.tokens("text")
    return docs.select(
        "doc_id",
        X.token_count("text").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
        F.round(
            F.aggregate(toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
            / F.greatest(F.size(toks), F.lit(1)),
            6,
        ).alias("avg_token_len"),
        F.round(X.stopword_ratio("text"), 6).alias("stopword_ratio"),
    )


@register(
    "lang_id_heuristic",
    """
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN len(list_filter(string_split(text, ' '),
                         x -> list_contains(['the','a','of','and','to','in','is','that','for','it'], lower(x))))
                     / CAST(greatest(len(list_filter(string_split(text, ' '), x -> x <> '')), 1) AS DOUBLE)
                     >= 0.05
                THEN 'en' ELSE 'unknown' END AS predicted_lang
    FROM documents
    """,
    "Function-word language-ID heuristic (n-gram family): classify 'en' "
    "when the English stopword ratio clears 5%. Broadcast word set, "
    "map-side evaluation.",
    tags=("text",),
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        X.lang_id("text").alias("predicted_lang"),
    )


@register(
    "regex_token_count",
    """
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_regex_tokens
    FROM documents
    """,
    "BPE-ish token counting: maximal alnum runs via regexp — the "
    "whitespace-agnostic token-count estimator for budget accounting.",
    tags=("text",),
)
def regex_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "documents").select(
        "doc_id", X.regex_token_count("text").alias("n_regex_tokens")
    )


@register(
    "doc_fingerprint",
    """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk, text
        FROM documents
    )
    SELECT doc_id,
           substr(sha256(text), 1, 16) AS content_fp,
           CASE WHEN len(tk) > 0 THEN list_min(list_transform(
               generate_series(1, greatest(len(tk) - 4, 1)),
               i -> substr(sha256(array_to_string(tk[i:i+4], ' ')), 1, 16)
           )) END AS min_shingle_fp
    FROM toks
    """,
    "Document fingerprinting: whole-content sha256 prefix + rolling "
    "min-shingle fingerprint (1-permutation MinHash over word "
    "5-shingles, sha256-based so it is engine-portable).",
    tags=("text", "dedup"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # Widen the one-split scan: both fingerprints are CPU-heavy
    # per-row projections (sha256 + 5-shingle min-hash) that would
    # otherwise run single-core (guide §2.5; identity at scale).
    return X.widen_to_parallelism(docs.select("doc_id", "text")).select(
        "doc_id",
        X.content_fingerprint("text").alias("content_fp"),
        X.min_shingle_fingerprint("text", 5).alias("min_shingle_fp"),
    )


@register(
    "ngram_jaccard_pairs",
    """
    WITH sh AS (
        SELECT doc_id, source,
               CASE WHEN len(list_filter(string_split(text,' '), x -> x <> '')) > 0
                    THEN list_distinct(list_transform(
                   generate_series(1, greatest(len(list_filter(string_split(text,' '), x -> x <> '')) - 2, 1)),
                   i -> array_to_string((list_filter(string_split(text,' '), x -> x <> ''))[i:i+2], ' ')
               )) ELSE [] END AS sh3
        FROM documents
        WHERE len(list_filter(string_split(text,' '), x -> x <> '')) > 0
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.sh3, b.sh3)) AS DOUBLE)
                 / greatest(len(list_distinct(a.sh3 || b.sh3)), 1), 6) AS jaccard
    FROM sh a JOIN sh b
      ON a.source = b.source AND a.doc_id < b.doc_id
    """,
    "Exact n-gram (3-shingle) Jaccard similarity for all same-source "
    "pairs — the verification stage after LSH candidate generation. "
    "Blocking on `source` keeps the pair count linear-ish; at 100 TB "
    "the blocking key is the LSH band bucket instead.",
    tags=("text", "dedup"),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Set-similarity join, MapReduce shape: explode shingles, equi-join
    # on (source, shingle) to count intersections, then derive
    # |A∪B| = |A|+|B|-|A∩B|. Pairs never materialize shingle arrays —
    # per-pair cost is O(shared shingles), not O(|A|+|B|), and the work
    # is one hash-shuffle on the shingle key. ~8× faster than the
    # naive pair×array_intersect plan at sf0.1 and the only shape that
    # survives 100× scale. Zero-overlap pairs are restored by a
    # right-padded join against the cheap (id_a, id_b) pair frame.
    docs = t(spark, sf_dir, "documents")
    # Widen the one-split fixture scan before the shingle pass — the
    # self-join below evaluates this subtree twice, and each copy
    # would otherwise shingle the whole corpus on a single core
    # (guide §2.5; see operators.text.widen_to_parallelism).
    sh = X.widen_to_parallelism(
        docs.select("doc_id", "source", "text")
    ).select(
        "doc_id", "source", X.shingles("text", 3).alias("sh3")
    ).select(
        "doc_id", "source", F.size("sh3").alias("n_sh"), F.explode("sh3").alias("s")
    )
    sizes = sh.groupBy("doc_id", "source").agg(F.first("n_sh").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    pairs = (
        sa.join(
            sb,
            (F.col("sa.source") == F.col("sb.source"))
            & (F.col("sa.doc_id") < F.col("sb.doc_id")),
        )
        .select(
            F.col("sa.doc_id").alias("id_a"),
            F.col("sb.doc_id").alias("id_b"),
            (F.col("sa.n_sh") + F.col("sb.n_sh")).alias("n_total"),
        )
    )
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .withColumn("n_inter", F.coalesce(F.col("n_inter"), F.lit(0)))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter")
                / F.greatest(F.col("n_total") - F.col("n_inter"), F.lit(1)),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "minhash_lsh_dedup",
    """
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
        FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT CAST(i.id_a AS BIGINT) AS id_a, CAST(i.id_b AS BIGINT) AS id_b
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE 8 * i.nc > 3 * (sa.n + sb.n)  -- jaccard > 0.6, exact ints
    ORDER BY id_a, id_b
    """,
    "Near-duplicate pairs via MinHashLSH (shingle → binary HashingTF "
    "→ banded signature join), DRIVER-FALSIFIABLE (VERDICT r3 item "
    "3): the emitted pair set must EQUAL the exact shingle-Jaccard "
    "pair set at J > 0.6 (= distance threshold 0.4), which the oracle "
    "computes O(n²)-exactly with an integer predicate (8·|A∩B| > "
    "3·(|A|+|B|)). A missed true pair (banding recall) or a spurious "
    "one (HashingTF bucket collision) each break the hash. Cost "
    "scales with candidate collisions, never n²; P(miss | J=0.9) = "
    "0.1^8 with 8 OR-ed hash tables.",
    tags=("dedup",),
)
def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = D.minhash_lsh_candidates(
        t(spark, sf_dir, "documents"), "text", "doc_id",
        k_shingle=3, jaccard_distance_threshold=0.4,
    )
    return pairs.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
    ).orderBy("id_a", "id_b")


@register(
    "simhash_dedup",
    """
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
        FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT CAST(i.id_a AS BIGINT) AS id_a, CAST(i.id_b AS BIGINT) AS id_b,
           CAST((i.nc * 1000000) // (sa.n + sb.n - i.nc) AS BIGINT)
               AS jaccard_millionths,
           TRUE AS ham_le_9, TRUE AS ctrl_median_ham_ge_12
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE 10 * i.nc >= 9 * (sa.n + sb.n - i.nc)  -- jaccard >= 0.9, exact ints
    ORDER BY id_a, id_b
    """,
    "SimHash near-dup signatures (64-bit per-token xxhash64 bit votes, "
    "all native array expressions — operators/dedup.simhash64), "
    "DRIVER-FALSIFIABLE (VERDICT r3 item 3, the bound-boolean "
    "pattern): for the exact 3-shingle-Jaccard >= 0.9 pair set — "
    "which the oracle computes O(n^2)-exactly with integer "
    "arithmetic — the emitted booleans assert the SimHash locality "
    "contract: near-dup pairs hash within Hamming distance 9 "
    "(measured max 7 at sf0.001, 5 at sf0.01), while a negative "
    "control of adjacent-id dissimilar pairs (doc_id < 64) keeps "
    "median Hamming >= 12 (measured 17-18). A degenerate signature "
    "(e.g. all bits voting one way, or seed collapse) flips either "
    "boolean and breaks the driver hash. The shingle equi-join is "
    "the same MapReduce set-similarity shape as "
    "minhash_native_dedup; signatures shuffle as 8-byte longs.",
    tags=("dedup",),
)
def simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # Exact J >= 0.9 pair set via the LOSSLESS PPJoin prefix filter
    # (same kernel as prefix_jaccard_threshold_join, rarest-first
    # shingle order): at t=0.9 only each doc's rarest ~10% of
    # shingles generate candidates, so the candidate join scales with
    # true near-dups, never the corpus. with_counts keeps similarity
    # in exact-integer space.
    cand = D.prefix_filtered_jaccard_join(
        docs, "doc_id", "text", k=3, threshold=0.9, with_counts=True
    )
    # Full-corpus signatures: simhash64 is a map-side projection (no
    # shuffle), so computing it for every doc costs one scan and joins
    # to the candidate pairs by id. (Restricting it to pair members
    # via a semi-join was measured SLOWER — building the broadcast
    # id-list forces the candidate subtree to evaluate twice. A
    # localCheckpoint of the signature table was ALSO measured slower
    # — r9 same-session A/B: 4.2-4.6 s without vs 4.9-5.4 s with; the
    # eager materialization serializes a leg the scheduler otherwise
    # overlaps with the candidate subtree.) Widened: the one-split
    # scan would run the ~1.7 s interpreted vote fold single-core,
    # twice (both join branches) — guide §2.5.
    sig = X.widen_to_parallelism(docs.select("doc_id", "text")).select(
        F.col("doc_id"), D.simhash64("text").alias("sh")
    )
    ham = (
        cand.join(
            sig.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            sig.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
        .select(
            F.col("id_a").cast("bigint").alias("id_a"),
            F.col("id_b").cast("bigint").alias("id_b"),
            F.expr("(n_inter * 1000000) div n_union")
            .cast("bigint")
            .alias("jaccard_millionths"),
            (F.bit_count(F.expr("sh_a ^ sh_b")) <= 9).alias("ham_le_9"),
        )
    )
    # Negative control: adjacent-id pairs in a bounded prefix are
    # dissimilar; their median signature distance must stay large.
    ctrl_sig = docs.filter(F.col("doc_id") < 64).select(
        F.col("doc_id"), D.simhash64("text").alias("sh")
    )
    ctrl = (
        ctrl_sig.alias("ca")
        .join(
            ctrl_sig.alias("cb"),
            F.col("cb.doc_id") == F.col("ca.doc_id") + 1,
        )
        .select(F.bit_count(F.expr("ca.sh ^ cb.sh")).alias("h"))
        .agg(
            (F.expr("percentile(h, 0.5)") >= 12).alias("ctrl_median_ham_ge_12")
        )
    )
    return ham.crossJoin(F.broadcast(ctrl)).orderBy("id_a", "id_b")


@register(
    "embedding_cosine_scores",
    """
    SELECT e.vec_id,
           round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cos_sim
    FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    """,
    "Brute-force cosine of every corpus vector against the query vector "
    "(vec_id=0), computed as native array aggregate expressions — "
    "map-side only, broadcast query, no shuffle.",
    tags=("similarity",),
)
def embedding_cosine_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return S.cosine_scores(emb, emb.filter(F.col("vec_id") == 0))


@register(
    "embedding_cosine_topk",
    """
    SELECT e.vec_id,
           round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cos_sim
    FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id <> 0
    ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC, e.vec_id
    LIMIT 10
    """,
    "Exact top-k nearest neighbors by cosine — brute-force scores + "
    "TakeOrderedAndProject. The ANN twin (ann_lsh_topk) is the "
    "sub-linear scale path.",
    tags=("similarity",),
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return S.cosine_topk(
        emb.filter(F.col("vec_id") != 0), emb.filter(F.col("vec_id") == 0), k=10
    )


@register(
    "ann_lsh_topk",
    """
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe
        FROM embeddings WHERE vec_id IN (0, 1, 2, 3)
    ), c AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id NOT IN (0, 1, 2, 3)
    ), r AS (
        SELECT q.query_id, c.vec_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY list_distance(c.embedding::DOUBLE[],
                                          q.qe::DOUBLE[]), c.vec_id) AS rk
        FROM q, c
    )
    SELECT CAST(query_id AS BIGINT)                           AS query_id,
           CAST(max(CASE WHEN rk = 1 THEN vec_id END) AS BIGINT)
               AS exact_top1_id,
           TRUE AS returned_k, TRUE AS top1_found, TRUE AS recall10_ge_07
    FROM r GROUP BY query_id ORDER BY query_id
    """,
    "ANN via BucketedRandomProjectionLSH, DRIVER-FALSIFIABLE (VERDICT "
    "r3 item 3, the approx_aggregates bound-boolean pattern): 4 probe "
    "queries run BOTH the LSH path and the exact brute-force l2 twin "
    "in-engine; the hashed output carries the oracle-computable exact "
    "top-1 id plus recall-bound booleans (k results returned, exact "
    "top-1 found, recall@10 >= 0.7 — measured 0.9-1.0 with 2-hit "
    "margin). Any recall regression flips a boolean and breaks the "
    "driver hash. Probes matching buckets only — the "
    "interactive-latency path at corpus scale.",
    tags=("similarity",),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce as _reduce

    QIDS = [0, 1, 2, 3]
    emb = t(spark, sf_dir, "embeddings")
    corpus = emb.filter(~F.col("vec_id").isin(QIDS))
    queries = emb.filter(F.col("vec_id").isin(QIDS)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # exact l2 ground truth: one broadcast cross-join scan, ranked
    exact = S.exact_topk_multi(corpus, queries, k=10, metric="l2")
    # LSH path per probe query (bounded 4-row collect of query vectors)
    # 8 OR-ed hash tables: recall 0.9-1.0 and exact-top-1 containment
    # hold on BOTH pytest (sf0.001) and driver (sf0.01) fixtures
    # (4 tables missed q2's top-1 at sf0.001).
    ann_parts = [
        S.ann_lsh_topk(
            corpus, [float(x) for x in row["embedding"]], k=10, num_hash_tables=8
        ).select(F.lit(row["query_id"]).cast("bigint").alias("query_id"), "vec_id")
        for row in queries.collect()
    ]
    ann = _reduce(lambda a, b: a.unionByName(b), ann_parts)
    hits = exact.join(ann, ["query_id", "vec_id"], "left_semi").groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("hits"))
    nret = ann.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_ret"))
    top1 = exact.filter(F.col("rk") == 1).select(
        "query_id", F.col("vec_id").alias("exact_top1_id")
    )
    t1f = (
        exact.filter(F.col("rk") == 1)
        .join(ann, ["query_id", "vec_id"], "left_semi")
        .select("query_id", F.lit(True).alias("t1"))
    )
    return (
        top1.join(hits, "query_id")
        .join(nret, "query_id")
        .join(t1f, "query_id", "left")
        .select(
            F.col("query_id").cast("bigint").alias("query_id"),
            F.col("exact_top1_id").cast("bigint").alias("exact_top1_id"),
            (F.col("n_ret") == 10).alias("returned_k"),
            F.coalesce(F.col("t1"), F.lit(False)).alias("top1_found"),
            (F.col("hits") >= 7).alias("recall10_ge_07"),
        )
        .orderBy("query_id")
    )


@register(
    "multimodal_features",
    """
    SELECT doc_id,
           'text/plain'                    AS media_type,
           strlen(text)                    AS n_bytes,
           substr(sha256(text), 1, 16)     AS sha256_prefix
    FROM documents
    """,
    "Multimodal plumbing: BinaryType payload column + Arrow-batched "
    "mapInPandas feature extraction (decode step stubbed — no codec "
    "libs in the container; schema/batching/partitioning are real). "
    "Oracle checks the deterministic scalar features.",
    tags=("multimodal",),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    feats = M.extract_media_features(M.attach_binary_payload(docs))
    return feats.select("doc_id", "media_type", "n_bytes", "sha256_prefix")


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


# =====================================================================
# Batch 3: SQL-API subqueries, percentiles, unpivot, string/date
# functions, range-frame windows, native TF-IDF, embedding near-dup,
# IVF ANN, stateful streaming.
# =====================================================================


@register(
    "in_subquery",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
      AND c_acctbal > 0
    """,
    "IN-subquery through the engine's SQL entry point — Catalyst "
    "rewrites it to a left-semi join (same plan as the DataFrame form).",
    tags=("sql", "join"),
)
def in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM {customer}
        WHERE c_custkey IN (SELECT o_custkey FROM {orders} WHERE o_totalprice > 400000)
          AND c_acctbal > 0
        """,
        customer=t(spark, sf_dir, "customer"),
        orders=t(spark, sf_dir, "orders"),
    )


@register(
    "scalar_subquery",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders
    WHERE o_totalprice > 1.8 * (SELECT avg(o_totalprice) FROM orders)
    """,
    "Scalar subquery: the inner aggregate computes once and broadcasts "
    "into the filter — no per-row recomputation.",
    tags=("sql",),
)
def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        FROM {orders}
        WHERE o_totalprice > 1.8 * (SELECT avg(o_totalprice) FROM {orders})
        """,
        orders=t(spark, sf_dir, "orders"),
    )


@register(
    "correlated_exists_subquery",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
    """,
    "Correlated EXISTS — decorrelated by Catalyst into a semi-join on "
    "the correlation key.",
    tags=("sql", "join"),
)
def correlated_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM {supplier}
        WHERE EXISTS (SELECT 1 FROM {lineitem}
                      WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
        """,
        supplier=t(spark, sf_dir, "supplier"),
        lineitem=t(spark, sf_dir, "lineitem"),
    )


@register(
    "percentile_stats",
    """
    SELECT l_returnflag,
           round(median(l_quantity), 4)                    AS median_qty,
           round(quantile_cont(l_quantity, 0.90), 4)       AS p90_qty,
           round(quantile_cont(l_extendedprice, 0.99), 4)  AS p99_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    "Exact interpolated percentiles (median/p90/p99) per group. The "
    "approximate twin (approx_aggregates, rows-only) is the 100 TB "
    "path — single-pass sketches, no per-group sort.",
    tags=("agg",),
)
def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median_qty"),
        F.round(F.expr("percentile(l_quantity, 0.90)"), 4).alias("p90_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99_price"),
    )


@register(
    "approx_aggregates",
    """
    SELECT CAST(count(DISTINCT l_partkey) AS BIGINT)  AS exact_parts,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS parts_within_bound,
           TRUE AS orders_within_bound,
           TRUE AS median_within_bound,
           TRUE AS p90_within_bound
    FROM lineitem
    """,
    "Approximate aggregates for interactive 100 TB queries: HLL++ "
    "approx_count_distinct and GK-sketch percentile_approx — one pass, "
    "bounded memory, no sort. Sketch values are engine-specific, so "
    "the DRIVER-CHECKABLE output is the exact values plus "
    "within-error-bound booleans: |HLL - exact| <= 3·rsd·exact, and "
    "the RANK of each approx percentile (count of values <= it) must "
    "sit within ±0.05·n of the target rank — the GK sketch's actual "
    "guarantee, verified by a one-pass conditional count instead of an "
    "exact-percentile sort (which regressed 15× at sf0.1). The oracle "
    "computes the same exact values and literal TRUEs — a hash match "
    "PROVES the sketches hit their bounds (VERDICT r1 item 7).",
    tags=("agg",),
)
def approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    # Pass 1: the sketches (one scan, partial aggs map-side).
    sketches = li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.05).alias("apx_parts"),
        F.approx_count_distinct("l_orderkey", rsd=0.05).alias("apx_orders"),
        F.percentile_approx("l_extendedprice", 0.5).alias("apx_med"),
        F.percentile_approx("l_quantity", 0.9).alias("apx_p90"),
    )
    # Pass 2: exact distincts + rank-position counts of the sketch
    # outputs (broadcast scalar probe, still no sort anywhere).
    return (
        li.crossJoin(F.broadcast(sketches))
        .agg(
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.countDistinct("l_orderkey").alias("exact_orders"),
            (
                F.abs(F.first("apx_parts") - F.countDistinct("l_partkey"))
                <= 0.15 * F.countDistinct("l_partkey")
            ).alias("parts_within_bound"),
            (
                F.abs(F.first("apx_orders") - F.countDistinct("l_orderkey"))
                <= 0.15 * F.countDistinct("l_orderkey")
            ).alias("orders_within_bound"),
            F.sum((F.col("l_extendedprice") <= F.col("apx_med")).cast("long"))
            .between(0.45 * F.count(F.lit(1)), 0.55 * F.count(F.lit(1)))
            .alias("median_within_bound"),
            F.sum((F.col("l_quantity") <= F.col("apx_p90")).cast("long"))
            .between(0.85 * F.count(F.lit(1)), 0.95 * F.count(F.lit(1)))
            .alias("p90_within_bound"),
        )
    )


@register(
    "unpivot_measures",
    """
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS value
    FROM lineitem WHERE l_orderkey % 199 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem WHERE l_orderkey % 199 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem WHERE l_orderkey % 199 = 0
    """,
    "Unpivot (wide→long) via stack() — the inverse of pivot_agg; "
    "planned as a generate, no shuffle.",
    tags=("relational",),
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 199 == 0)
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(3, 'quantity', l_quantity, 'discount', l_discount, 'tax', l_tax) AS (measure, value)",
    )


@register(
    "string_functions",
    """
    SELECT p_partkey,
           upper(p_name)                                   AS name_upper,
           replace(p_type, ' ', '_')                       AS type_snake,
           lpad(CAST(p_size AS VARCHAR), 4, '0')           AS size_padded,
           concat(p_brand, '/', p_type)                    AS brand_type,
           length(p_name)                                  AS name_len,
           position('Brand' IN p_brand)                    AS brand_pos,
           trim(concat('  ', p_name, '  '))                AS trimmed,
           reverse(p_brand)                                AS brand_rev,
           repeat(p_brand, 2)                              AS brand_twice
    FROM part
    """,
    "String-function surface (upper/replace/lpad/concat/length/"
    "position/trim/reverse/repeat) — all codegen'd JVM expressions.",
    tags=("scalar",),
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.concat(F.col("p_brand"), F.lit("/"), F.col("p_type")).alias("brand_type"),
        F.length("p_name").cast("long").alias("name_len"),
        F.instr(F.col("p_brand"), "Brand").cast("long").alias("brand_pos"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias("trimmed"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
        F.repeat(F.col("p_brand"), 2).alias("brand_twice"),
    )


@register(
    "date_functions",
    """
    SELECT o_orderkey,
           CAST(epoch(date_trunc('month', o_orderdate)) AS BIGINT) AS month_start_epoch,
           CAST(quarter(o_orderdate) AS BIGINT)                    AS qtr,
           CAST(epoch(o_orderdate + INTERVAL 30 DAY) AS BIGINT)    AS plus_30d_epoch,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS days_since_epoch_start,
           CAST(epoch(last_day(o_orderdate::DATE)::TIMESTAMP + INTERVAL 1 DAY - INTERVAL 1 DAY) AS BIGINT) AS month_end_epoch
    FROM orders
    """,
    "Datetime surface: truncation, quarter, interval arithmetic, day "
    "diffs, last-day — epoch-BIGINT projected for engine-portable "
    "comparison.",
    tags=("scalar",),
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.unix_timestamp(F.date_trunc("month", "o_orderdate")).alias(
            "month_start_epoch"
        ),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        F.unix_timestamp(
            F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        ).alias("plus_30d_epoch"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
        ).cast("long").alias("days_since_epoch_start"),
        F.unix_timestamp(
            F.last_day(F.col("o_orderdate")).cast("timestamp")
        ).alias("month_end_epoch"),
    )


@register(
    "array_agg_functions",
    """
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_csv,
           CAST(len(list(DISTINCT event_type)) AS BIGINT)             AS n_types
    FROM events
    GROUP BY user_id
    """,
    "Array aggregation: per-user distinct event-type vocabulary as a "
    "sorted CSV (engine-portable array comparison via array_join).",
    tags=("agg", "scalar"),
)
def array_agg_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias(
            "types_csv"
        ),
        F.size(F.collect_set("event_type")).cast("long").alias("n_types"),
    )


@register(
    "window_range_frame",
    """
    SELECT user_id, event_id,
           round(sum(value) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 4) AS rolling_1h_value,
           count(*) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)     AS rolling_1h_events
    FROM events
    """,
    "RANGE frame over event time (trailing 1-hour rolling sum/count "
    "per user) — the windowed form of the range join; one shuffle on "
    "user_id, sorted within partitions.",
    tags=("window",),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").withColumn("ts_us", F.unix_micros("ts"))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 4).alias("rolling_1h_value"),
        F.count(F.lit(1)).over(w).alias("rolling_1h_events"),
    )


@register(
    "tfidf_top_terms",
    """
    WITH tok AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS score
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, round(score, 6) AS score, rk FROM (
        SELECT doc_id, term, score,
               row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
        FROM scored
    ) WHERE rk <= 3
    """,
    "Native TF-IDF (smoothed idf = ln((N+1)/(df+1))+1, sklearn "
    "convention) with top-3 terms per document — explode + two hash "
    "aggs + broadcast of the tiny df table; fully SQL-expressible so "
    "the oracle checks it exactly (unlike HashingTF, whose buckets are "
    "engine-specific).",
    tags=("text",),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(X.tokens("text")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()  # scalar; broadcast as literal
    scored = tf.join(F.broadcast(df_), "term").select(
        "doc_id",
        "term",
        (
            F.col("tf")
            * (F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1.0)
        ).alias("score"),
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", F.round("score", 6).alias("score"), "rk")
    )


@register(
    "embedding_neardup_pairs",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
    """,
    "Embedding-cosine near-duplicate pairs via DISTRIBUTED block-pair "
    "GEMM: corpus hash-split into blocks, rows replicated to their "
    "unordered block pairs, float64 BLAS matmul inside each pair via "
    "applyInPandas — exact all-pairs results with NO driver-side "
    "collect and per-task memory of two blocks (VERDICT r1 item 3). "
    "At 100 TB, LSH/IVF blocking prunes to candidate block pairs and "
    "the same kernel verifies inside them.",
    tags=("similarity", "dedup"),
)
def embedding_neardup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.embedding_neardup_pairs_blocked(
        t(spark, sf_dir, "embeddings"), threshold=0.4, n_blocks=8
    )


@register(
    "ivf_ann_topk",
    """
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe
        FROM embeddings WHERE vec_id IN (0, 1, 2, 3)
    ), c AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id NOT IN (0, 1, 2, 3)
    ), r AS (
        SELECT q.query_id, c.vec_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY list_cosine_similarity(c.embedding::DOUBLE[],
                                                   q.qe::DOUBLE[]) DESC,
                            c.vec_id) AS rk
        FROM q, c
    )
    SELECT CAST(query_id AS BIGINT)                           AS query_id,
           CAST(max(CASE WHEN rk = 1 THEN vec_id END) AS BIGINT)
               AS exact_top1_id,
           TRUE AS recall10_ge_04
    FROM r GROUP BY query_id ORDER BY query_id
    """,
    "IVF ANN, DRIVER-FALSIFIABLE (VERDICT r3 item 3): one KMeans "
    "coarse index (16 lists) serves 4 probe queries, each scanning "
    "only its 6 nearest lists (~37% of the corpus); the exact cosine "
    "twin runs in-engine and the hashed output carries the "
    "oracle-computable exact top-1 id plus a recall-bound boolean "
    "(recall@10 >= 0.4 — measured 0.6-1.0 at n_probe=6 across both "
    "fixture scales; the 2-hit margin absorbs KMeans layout jitter, "
    "and a pruning/assignment bug craters recall well below it, "
    "breaking the driver hash). No binary top-1 claim: a centroid "
    "layout where the true top-1's list ranks 7th of 16 is legitimate "
    "IVF behavior, observed at sf0.001.",
    tags=("similarity",),
)
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce as _reduce

    QIDS = [0, 1, 2, 3]
    emb = t(spark, sf_dir, "embeddings")
    corpus = emb.filter(~F.col("vec_id").isin(QIDS))
    queries = emb.filter(F.col("vec_id").isin(QIDS)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.exact_topk_multi(corpus, queries, k=10, metric="cosine")
    # ONE index build; per-query probes reuse the tagged corpus
    tagged, model = S.ivf_index(corpus, n_clusters=16)
    tagged = tagged.localCheckpoint(eager=True)  # data-scale: the whole corpus
    ivf_parts = [
        S.ivf_topk(
            tagged, model, [float(x) for x in row["embedding"]], k=10, n_probe=6
        ).select(F.lit(row["query_id"]).cast("bigint").alias("query_id"), "vec_id")
        for row in queries.collect()
    ]
    ann = _reduce(lambda a, b: a.unionByName(b), ivf_parts)
    hits = exact.join(ann, ["query_id", "vec_id"], "left_semi").groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("hits"))
    top1 = exact.filter(F.col("rk") == 1).select(
        "query_id", F.col("vec_id").alias("exact_top1_id")
    )
    return (
        top1.join(hits, "query_id")
        .select(
            F.col("query_id").cast("bigint").alias("query_id"),
            F.col("exact_top1_id").cast("bigint").alias("exact_top1_id"),
            (F.col("hits") >= 4).alias("recall10_ge_04"),
        )
        .orderBy("query_id")
    )


@register(
    "ivf_pq_ann_topk",
    """
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe
        FROM embeddings WHERE vec_id IN (0, 1, 2, 3)
    ), c AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id NOT IN (0, 1, 2, 3)
    ), r AS (
        SELECT q.query_id, c.vec_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY list_cosine_similarity(c.embedding::DOUBLE[],
                                                   q.qe::DOUBLE[]) DESC,
                            c.vec_id) AS rk
        FROM q, c
    )
    SELECT CAST(query_id AS BIGINT)                           AS query_id,
           CAST(max(CASE WHEN rk = 1 THEN vec_id END) AS BIGINT)
               AS exact_top1_id,
           TRUE AS recall10_ge_04
    FROM r GROUP BY query_id ORDER BY query_id
    """,
    "IVF-PQ ANN (faiss IndexIVFPQ shape), DRIVER-FALSIFIABLE (VERDICT "
    "r3 item 3): the index builds ONCE (coarse KMeans lists + 8-byte "
    "PQ codes for every vector — the real ingest-time lifecycle, "
    "ivf_pq_build) and serves 4 probe queries, each ADC-scanning 6 of "
    "16 lists natively then exact-cosine reranking the top-100. The "
    "hashed output carries the oracle-computable exact top-1 id plus "
    "a recall-bound boolean (recall@10 >= 0.4 — measured 0.6-0.9 at "
    "n_probe=6 across both fixture scales, 2-hit margin). "
    "Quantization or rerank bugs crater recall below the bound and "
    "break the driver hash; no binary top-1 claim (coarse-list "
    "pruning can legitimately miss it, observed at sf0.001).",
    tags=("similarity",),
)
def ivf_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce as _reduce

    QIDS = [0, 1, 2, 3]
    emb = t(spark, sf_dir, "embeddings")
    corpus = emb.filter(~F.col("vec_id").isin(QIDS))
    queries = emb.filter(F.col("vec_id").isin(QIDS)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.exact_topk_multi(corpus, queries, k=10, metric="cosine")
    # build the index ONCE (codes materialized), probe per query
    encoded, books, model = S.ivf_pq_build(corpus, n_clusters=16)
    encoded = encoded.localCheckpoint(eager=True)  # data-scale: the coded corpus
    pq_parts = [
        S.ivf_pq_probe(
            encoded,
            books,
            model,
            corpus,
            [float(x) for x in row["embedding"]],
            k=10,
            n_probe=6,
        ).select(F.lit(row["query_id"]).cast("bigint").alias("query_id"), "vec_id")
        for row in queries.collect()
    ]
    ann = _reduce(lambda a, b: a.unionByName(b), pq_parts)
    hits = exact.join(ann, ["query_id", "vec_id"], "left_semi").groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("hits"))
    top1 = exact.filter(F.col("rk") == 1).select(
        "query_id", F.col("vec_id").alias("exact_top1_id")
    )
    return (
        top1.join(hits, "query_id")
        .select(
            F.col("query_id").cast("bigint").alias("query_id"),
            F.col("exact_top1_id").cast("bigint").alias("exact_top1_id"),
            (F.col("hits") >= 4).alias("recall10_ge_04"),
        )
        .orderBy("query_id")
    )


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

