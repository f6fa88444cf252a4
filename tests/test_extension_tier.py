"""Behavioral tests for the extension tier (dedup / similarity /
multimodal / streaming) — properties the DuckDB oracle can't express:
LSH recall, dedup idempotence/fixed-point, Arrow batch plumbing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from loan_default_prediction_app_big_data_spark.operators import dedup as D
from loan_default_prediction_app_big_data_spark.operators import multimodal as M
from loan_default_prediction_app_big_data_spark.operators import similarity as S
from loan_default_prediction_app_big_data_spark.operators import text as X
from loan_default_prediction_app_big_data_spark.sources.readers import (
    read_parquet_table,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return read_parquet_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return read_parquet_table(spark, sf_dir, "embeddings").cache()


def test_exact_dedup_fixed_point(spark, docs):
    """dedup is idempotent and conserves row counts via n_copies."""
    once = D.content_hash_dedup(docs, "text", "doc_id").cache()
    assert once.agg(F.sum("n_copies")).first()[0] == docs.count()
    # fixed point: dedup of the deduped keep-set changes nothing
    keep = docs.join(
        once.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"
    )
    twice = D.content_hash_dedup(keep, "text", "doc_id")
    assert twice.count() == once.count()


def test_minhash_lsh_finds_planted_near_dups(spark):
    """Plant near-duplicate pairs; MinHashLSH must surface them as
    candidates and exact Jaccard must verify them."""
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun"
    )
    rows = [
        (1, base),
        (2, base + " today"),  # near-dup of 1
        (3, base.replace("quick", "slow")),  # near-dup of 1
        (4, "completely different text about spark shuffles and joins"),
        (5, "another unrelated document mentioning parquet and arrow"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = D.minhash_lsh_candidates(
        df, "text", "doc_id", k_shingle=3, jaccard_distance_threshold=0.6
    )
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in found
    assert (1, 3) in found
    # verify with exact jaccard: planted pairs similar, unrelated not
    sh = df.select("doc_id", X.shingles("text", 3).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    jac = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("ia"),
            F.col("b.doc_id").alias("ib"),
            D.ngram_jaccard(F.col("a.sh"), F.col("b.sh")).alias("j"),
        )
        .collect()
    )
    jmap = {(r["ia"], r["ib"]): r["j"] for r in jac}
    assert jmap[(1, 2)] > 0.6
    assert jmap[(4, 5)] < 0.2


def test_simhash_identical_docs_collide(spark):
    rows = [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
            (3, "totally different words here now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    groups = D.simhash_dedup(df, "text", "doc_id").collect()
    assert len(groups) == 1
    assert groups[0]["member_ids"] == [1, 2]


def test_ann_lsh_recall_vs_brute_force(spark, emb):
    """ANN top-10 must recover most of the exact top-10 (recall >= 0.5
    with 4 hash tables on the 500-vector fixture)."""
    corpus = emb.filter(F.col("vec_id") != 0)
    query = emb.filter(F.col("vec_id") == 0)
    exact = {r["vec_id"] for r in S.cosine_topk(corpus, query, k=10).collect()}
    qvec = [float(x) for x in query.first()["embedding"]]
    approx = {r["vec_id"] for r in S.ann_lsh_topk(corpus, qvec, k=10).collect()}
    assert len(approx) == 10
    # L2-LSH on unnormalized vectors approximates cosine top-k loosely;
    # demand non-trivial overlap, not equality.
    assert len(exact & approx) >= 3


def test_cosine_self_similarity(spark, emb):
    """cos(v, v) == 1 for every vector — numeric sanity of the native
    array expressions."""
    row = emb.filter(F.col("vec_id") == 7)
    out = S.cosine_scores(emb.filter(F.col("vec_id") == 7), row).first()
    assert out["cos_sim"] == pytest.approx(1.0, abs=1e-9)


def test_multimodal_batch_plumbing(spark, docs):
    """map_rows feature extraction: schema, determinism, byte counts."""
    feats = M.extract_media_features(M.attach_binary_payload(docs)).cache()
    assert feats.schema == M.MEDIA_FEATURE_SCHEMA
    assert feats.count() == docs.count()
    joined = feats.join(docs, "doc_id").select(
        "n_bytes", F.length("text").alias("text_len"), "feature"
    )
    bad = joined.filter(F.col("n_bytes") != F.col("text_len")).count()
    assert bad == 0  # ascii corpus: byte length == char length
    one = joined.first()
    assert len(one["feature"]) == 4
    assert all(0.0 <= v <= 1.0 for v in one["feature"])
    # determinism: rerun produces identical features
    again = M.extract_media_features(M.attach_binary_payload(docs))
    assert (
        feats.select("doc_id", "sha256_prefix")
        .exceptAll(again.select("doc_id", "sha256_prefix"))
        .count()
        == 0
    )


def test_map_rows_values_and_empty_partitions(spark):
    """map_rows hands ``fn`` plain Python values (binary as ``bytes``,
    null as ``None``) and keeps the output schema typed when a
    partition, or the whole input, has no rows."""
    from pyspark.sql import types as T

    from loan_default_prediction_app_big_data_spark.operators.rows import map_rows

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("kind", T.StringType(), False),
            T.StructField("n", T.LongType(), True),
        ]
    )

    def fn(row):
        p = row["payload"]
        return {"id": row["id"], "kind": type(p).__name__,
                "n": None if p is None else len(p)}

    # two rows over four partitions: at least two partitions are empty
    df = spark.createDataFrame(
        [(1, b"abc"), (2, None)], "id long, payload binary"
    ).repartition(4)
    out = map_rows(df, fn, schema)
    assert out.schema == schema
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, "bytes", 3), (2, "NoneType", None)
    ]
    empty = map_rows(df.filter(F.col("id") < 0), fn, schema)
    table = empty.toArrow()
    assert table.num_rows == 0
    assert [(f.name, str(f.type)) for f in table.schema] == [
        ("id", "int64"), ("kind", "string"), ("n", "int64")
    ]


def test_sliding_window_stream(spark, sf_dir):
    """Sliding windows (1h every 30min): every event lands in exactly 2
    windows, so window counts sum to 2x the event count."""
    import uuid

    from loan_default_prediction_app_big_data_spark.streaming import (
        sliding_window_agg,
        streaming_events,
    )

    name = f"sliding_{uuid.uuid4().hex[:8]}"
    q = (
        sliding_window_agg(streaming_events(spark, sf_dir))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    total = spark.table(name).agg(F.sum("n_events")).first()[0]
    n_events = read_parquet_table(spark, sf_dir, "events").count()
    assert total == 2 * n_events


def test_ivf_recall_vs_brute_force(spark, emb):
    """IVF with 4-of-16 probes must recover most of the exact top-10."""
    corpus = emb.filter(F.col("vec_id") != 0)
    query = emb.filter(F.col("vec_id") == 0)
    exact = {r["vec_id"] for r in S.cosine_topk(corpus, query, k=10).collect()}
    qvec = [float(x) for x in query.first()["embedding"]]
    tagged, model = S.ivf_index(corpus, n_clusters=16)
    approx = {r["vec_id"] for r in S.ivf_topk(tagged, model, qvec, k=10, n_probe=4).collect()}
    assert len(approx) == 10
    assert len(exact & approx) >= 5  # cosine top-k clusters tightly in practice


def test_approx_aggregates_error_bounds(spark, sf_dir):
    """HLL++ distinct and GK percentile sketches stay within their
    documented error bounds vs the exact aggregates."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_partkey").alias("apx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("apx_med"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_med"),
    ).first()
    assert abs(row["apx_parts"] - row["exact_parts"]) / row["exact_parts"] < 0.05
    assert abs(row["apx_med"] - row["exact_med"]) / row["exact_med"] < 0.05


def test_minhash_native_finds_planted_near_dups(spark):
    """The native banded-MinHash finds the same planted near-dups as the
    MLlib path, with exact-Jaccard scores attached."""
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun"
    )
    rows = [
        (1, base),
        (2, base + " today"),
        (3, base.replace("quick", "slow")),
        (4, "completely different text about spark shuffles and joins"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_native_candidates(
            df, "text", "doc_id", jaccard_threshold=0.5
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.8
    assert (1, 3) in pairs
    assert all(4 not in p for p in pairs)


def test_frequent_items_contains_true_heavy_hitters(spark, sf_dir):
    """freqItems (support=0.2) must include every value whose true
    frequency exceeds the support threshold."""
    orders = read_parquet_table(spark, sf_dir, "orders")
    n = orders.count()
    true_heavy = {
        r["o_orderstatus"]
        for r in orders.groupBy("o_orderstatus").count().collect()
        if r["count"] / n > 0.2
    }
    out = orders.stat.freqItems(["o_orderstatus"], support=0.2).first()
    found = set(out["o_orderstatus_freqItems"])
    assert true_heavy <= found


def test_simhash_distinct_docs_do_not_collide(spark):
    """Negative control for the signature width: a corpus of clearly
    distinct random-ish documents must produce (almost) no shared
    signatures — a too-narrow signature space collides everything by
    pigeonhole (the exact bug a 16-bit simhash had)."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(500)]
    rows = [
        (i, " ".join(rng.sample(vocab, 30))) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    groups = D.simhash_dedup(df, "text", "doc_id")
    assert groups.count() == 0  # no near-dups planted -> no groups


def test_embedding_neardup_blocked_matches_all_pairs(spark, emb):
    """The distributed block-pair GEMM path must return the exact same
    (id_a, id_b, cos_sim) set as the O(n²) expression twin — including
    pairs whose two members land in different hash blocks, in either id
    order. No driver-side collect happens: the plan is an Exchange on
    the block-pair key feeding FlatMapGroupsInPandas."""
    exact = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in S.embedding_neardup_pairs(emb, threshold=0.4).collect()
    }
    blocked_df = S.embedding_neardup_pairs_blocked(emb, threshold=0.4, n_blocks=8)
    blocked = {
        (r["id_a"], r["id_b"], r["cos_sim"]) for r in blocked_df.collect()
    }
    assert blocked == exact
    assert len(exact) > 0
    plan = blocked_df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan


def test_crosstab_matches_manual_pivot(spark, sf_dir):
    """df.stat.crosstab == groupBy+pivot counts (contingency table)."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    ct = li.stat.crosstab("l_returnflag", "l_linestatus").collect()
    manual = {
        (r["l_returnflag"], r["l_linestatus"]): r["count"]
        for r in li.groupBy("l_returnflag", "l_linestatus").count().collect()
    }
    for row in ct:
        flag = row["l_returnflag_l_linestatus"]
        for status in ("O", "F"):
            assert row[status] == manual.get((flag, status), 0)


def test_stratified_sample_by(spark, sf_dir):
    """sampleBy: per-stratum Bernoulli fractions with a seed —
    deterministic, and each stratum's realized fraction tracks its
    requested fraction. (PySpark 4 exposes no DataFrame bloomFilter —
    the Scala-only sketch; sampleBy is the stratified-sampling surface.)"""
    orders = read_parquet_table(spark, sf_dir, "orders")
    fractions = {"O": 0.5, "F": 0.1, "P": 1.0}
    a = orders.stat.sampleBy("o_orderstatus", fractions, seed=42)
    b = orders.stat.sampleBy("o_orderstatus", fractions, seed=42)
    assert a.exceptAll(b).count() == 0  # seeded determinism
    totals = {r["o_orderstatus"]: r["count"] for r in orders.groupBy("o_orderstatus").count().collect()}
    sampled = {r["o_orderstatus"]: r["count"] for r in a.groupBy("o_orderstatus").count().collect()}
    assert sampled.get("P", 0) == totals["P"]  # fraction 1.0 keeps all
    for k, frac in (("O", 0.5), ("F", 0.1)):
        realized = sampled.get(k, 0) / totals[k]
        assert abs(realized - frac) < 0.1


def test_connected_components_planted_clusters(spark):
    """Transitive closure: chained pairs merge into one cluster even
    when the endpoints were never directly compared."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain -> one cluster {1,2,3,4}
         (10, 11),                    # pair cluster {10,11}
         (20, 21), (21, 22)],         # chain -> {20,21,22}
        "id_a long, id_b long",
    )
    out = {r["node_id"]: r["cluster_id"] for r in D.connected_components(pairs).collect()}
    assert {out[i] for i in (1, 2, 3, 4)} == {1}
    assert {out[i] for i in (10, 11)} == {10}
    assert {out[i] for i in (20, 21, 22)} == {20}


def test_dedup_keep_canonical_end_to_end(spark, docs):
    """Full near-dup pipeline on the fixture corpus: native MinHash
    pairs -> clusters -> canonical keepers; every cluster loses all but
    one member, unpaired docs survive untouched."""
    pairs = D.minhash_native_candidates(
        docs, "text", "doc_id", jaccard_threshold=0.5
    ).cache()
    kept = D.dedup_keep_canonical(docs, pairs, "doc_id")
    n_docs, n_kept = docs.count(), kept.count()
    clusters = D.connected_components(pairs)
    n_dropped = clusters.filter(F.col("node_id") != F.col("cluster_id")).count()
    assert n_kept == n_docs - n_dropped
    assert n_dropped > 0  # corpus has planted near-dups
    # keepers are exactly the cluster minima plus unpaired docs
    keeper_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    for r in clusters.collect():
        if r["node_id"] != r["cluster_id"]:
            assert r["node_id"] not in keeper_ids
        else:
            assert r["node_id"] in keeper_ids


def test_stream_stream_join_matches_batch_interval_join(spark, sf_dir):
    """Watermarked purchase⋈views interval join on the finite replay
    equals the batch interval join row-for-row."""
    from loan_default_prediction_app_big_data_spark.streaming import (
        run_stream_stream_join,
    )

    streamed = run_stream_stream_join(spark, sf_dir)
    ev = read_parquet_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts")
    )
    batch = purchases.join(
        views,
        F.expr(
            "user_id = v_user AND view_ts BETWEEN purchase_ts - INTERVAL 24 HOURS AND purchase_ts"
        ),
    ).select(
        "user_id",
        F.unix_micros("view_ts").alias("view_ts_us"),
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
    )
    assert streamed.count() > 0
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_ivf_pq_recall_matches_plain_ivf(spark, emb):
    """IVF-PQ's PQ layer must not LOSE candidates the coarse probe
    found: with rerank covering the probed lists, its top-10 recall
    equals plain IVF's (the ADC ordering only decides which candidates
    reach the exact-cosine rerank)."""
    corpus = emb.filter(F.col("vec_id") != 0)
    query = emb.filter(F.col("vec_id") == 0)
    exact = {r["vec_id"] for r in S.cosine_topk(corpus, query, k=10).collect()}
    qvec = [float(x) for x in query.first()["embedding"]]
    tagged, model = S.ivf_index(corpus, n_clusters=16)
    ivf = {
        r["vec_id"]
        for r in S.ivf_topk(tagged, model, qvec, k=10, n_probe=4).collect()
    }
    pq = {r["vec_id"] for r in S.ivf_pq_topk(corpus, qvec, k=10).collect()}
    assert len(pq) == 10
    assert len(exact & pq) >= len(exact & ivf)  # PQ adds no recall loss
    assert len(exact & pq) >= 5
