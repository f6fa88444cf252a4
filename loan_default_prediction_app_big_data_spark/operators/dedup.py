"""Deduplication operators (SURVEY.md §2.C; charter BASELINE.json:6).

Five tiers, cheapest first — at 100 TB you run them in this order and
each tier only sees the previous tier's survivors:

1. exact row/content dedup — hash groupBy, one shuffle on the hash.
2. content-hash dedup (sha256) — same shuffle, but portable keys.
3. MinHash-LSH near-dup — shingle → MinHash signatures → banded
   bucket join (MLlib ``approxSimilarityJoin`` or the faster native
   ``minhash_native_candidates``); candidate pairs only, never n².
4. SimHash — 64-bit signature via per-token hash bit-voting; Hamming
   buckets join.
5. n-gram Jaccard verification — exact similarity on candidate pairs.
6. cluster resolution — ``connected_components`` merges verified pairs
   into components (transitive closure); ``dedup_keep_canonical``
   keeps one document per cluster.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import shingles, tokens, widen_to_parallelism
from ..pinning import release_local_checkpoints


def content_hash_dedup(
    df: DataFrame, content_col: str, id_col: str
) -> DataFrame:
    """Keep the lowest id per distinct content hash.

    GroupBy sha256(content) rather than content itself: the shuffle
    moves 32-byte keys, not documents — the difference between a
    32 GB and a 100 TB exchange at full scale.
    """
    return (
        df.select(F.sha2(F.col(content_col), 256).alias("content_sha"), id_col)
        .groupBy("content_sha")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k_shingle: int = 3,
    num_hash_tables: int = 8,
    jaccard_distance_threshold: float = 0.6,
    num_features: int = 1 << 18,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash LSH.

    shingle → HashingTF (binary) → MinHashLSH.approxSimilarityJoin.
    The banded signature join touches only colliding buckets, so cost
    scales with |candidates|, not n². Output: (id_a, id_b,
    jaccard_distance) with id_a < id_b.

    Spark's MinHash seeds are engine-specific, so this op is checked
    rows-only; the exact-Jaccard verifier (ngram_jaccard_pairs) is the
    oracle-checkable twin.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # Widen BEFORE the shingle projection: the fixture corpus is one
    # parquet split, and the tokenize/shingle/TF pass is the kernel's
    # CPU-heavy map side (guide §2.5 — see widen_to_parallelism).
    docs = (
        widen_to_parallelism(df.select(F.col(id_col).alias("id"), text_col))
        .select("id", shingles(text_col, k_shingle).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    tf = HashingTF(
        inputCol="sh", outputCol="features", numFeatures=num_features, binary=True
    )
    # Materialize the feature table once: it feeds BOTH sides of the
    # self-join (approxSimilarityJoin(feats, feats)), and without the
    # checkpoint each side re-runs the shingle + HashingTF subtree
    # (~3.5 s of the query's ~10.3 s at sf0.1 — measured ~33% faster
    # end-to-end with the checkpoint, alternating same-session A/B).
    # At scale this is the persisted signature-table layout, same as
    # minhash_native_candidates.
    feats = tf.transform(docs).localCheckpoint(eager=True)  # data-scale: per doc
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42
    )
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(
        feats, feats, jaccard_distance_threshold, distCol="jaccard_distance"
    )
    return (
        pairs.select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            F.round("jaccard_distance", 4).alias("jaccard_distance"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )


def simhash64(col: Column | str, token_col_builder=tokens, n_bits: int = 64) -> Column:
    """True 64-bit SimHash: per-token xxhash64, each bit position votes
    ±1, the sign of each position's vote total becomes that signature
    bit. One pass over the token array with an array-of-votes
    accumulator — all native expressions, no UDF, no shuffle.

    (A naive per-bit formulation would re-aggregate the token array 64
    times; the array accumulator keeps it a single traversal.)
    """
    toks = token_col_builder(col)
    hashes = F.transform(toks, lambda x: F.xxhash64(x))
    # Precomputed bit masks (bit 63 is the sign-bit mask in two's
    # complement — shifting by a Column isn't expressible in PySpark).
    mask_values = [1 << i for i in range(min(n_bits, 63))]
    if n_bits >= 64:
        mask_values.append(-(1 << 63))
    masks = F.array(*[F.lit(m).cast("long") for m in mask_values])
    votes = F.aggregate(
        hashes,
        F.transform(masks, lambda _: F.lit(0).cast("long")),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a
            + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, b: acc.bitwiseOR(b),
    )


def simhash_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group documents by SimHash signature — equal signatures are
    near-dup candidates. Shuffle key is the 8-byte signature."""
    return (
        df.select(F.col(id_col).alias("id"), simhash64(text_col).alias("simhash"))
        .groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("id").alias("keep_id"),
            F.sort_array(F.collect_list("id")).alias("member_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def ngram_jaccard(a_tokens: Column, b_tokens: Column) -> Column:
    """Exact Jaccard over two distinct-token/shingle arrays — the
    verification step after LSH candidate generation."""
    inter = F.size(F.array_intersect(a_tokens, b_tokens))
    union = F.size(F.array_union(a_tokens, b_tokens))
    return (inter / F.greatest(union, F.lit(1))).cast("double")


def minhash_native_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k_shingle: int = 3,
    n_hashes: int = 16,
    bands: int = 8,
    jaccard_threshold: float = 0.6,
    with_counts: bool = False,
) -> DataFrame:
    """Banded MinHash LSH built from native expressions (no MLlib, no
    Python): per-shingle ``xxhash64(seed, shingle)`` minima form the
    signature; signatures split into ``bands`` bands; docs sharing any
    band bucket are candidates; exact shingle Jaccard then verifies.

    Cost model at scale: signature computation is map-side; the only
    shuffles are the band-bucket groupBys (8-byte keys) and the final
    candidate verification join — candidate count scales with true
    collisions, never n². The LSH S-curve: P(candidate) =
    1-(1-j^r)^b with r = n_hashes/bands rows per band.

    Output: (id_a, id_b, jaccard) with jaccard >= threshold.
    """
    rows_per_band = n_hashes // bands
    # Materialize the shingle arrays once — they feed the signature
    # computation AND both sides of the verification join (at scale:
    # a persisted shingle/signature table, the standard near-dup
    # pipeline layout).
    # Widen BEFORE the shingle pass: one parquet split would otherwise
    # run the shingle AND the 16-hash signature projections (both read
    # the checkpointed layout) on a single core (guide §2.5).
    sh = (
        widen_to_parallelism(df.select(F.col(id_col).alias("id"), text_col))
        .select("id", shingles(text_col, k_shingle).alias("sh"))
        .filter(F.size("sh") > 0)
        .localCheckpoint(eager=True)  # data-scale: one row per document
    )

    # NOTE: the transform lambda must take ONE argument. A two-arg
    # lambda (e.g. ``lambda s, i=i: ...``) makes Spark bind the second
    # parameter to the ARRAY INDEX, silently shadowing the captured
    # hash-function id — all n_hashes "independent" functions collapse
    # to one and banding degenerates (caught in round 4: a J=0.9 pair
    # with all-matching signatures was never emitted as a candidate).
    def _hash_fn(seed: int):
        return lambda s: F.xxhash64(F.lit(seed), s)

    sig_cols = [
        F.array_min(F.transform(F.col("sh"), _hash_fn(i))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    sigs = sh.select("id", *sig_cols)

    # One projection: per-band bucket ids, exploded to (id, band, bucket).
    bucket_arr = F.array(
        *[
            F.xxhash64(
                *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select(
        "id", F.posexplode(bucket_arr).alias("band", "bucket")
    )

    a, b_ = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    sh_a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    verified = cands.join(sh_a, "id_a").join(sh_b, "id_b")
    if with_counts:
        # Exact-integer verification state (|A∩B|, |A|, |B|): lets the
        # caller express the Jaccard threshold as an exact integer
        # predicate (J >= p/q  <=>  q*nc >= p*(n_a+n_b-nc)) and derive
        # integer-rational similarity values — the hash-exact form the
        # driver-falsifiable dedup queries need (no float rounding).
        return verified.select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint").alias("nc"),
            F.size("sh_a").cast("bigint").alias("n_a"),
            F.size("sh_b").cast("bigint").alias("n_b"),
        )
    return verified.select(
        "id_a",
        "id_b",
        F.round(ngram_jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
    ).filter(F.col("jaccard") >= jaccard_threshold)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Resolve near-dup PAIRS into CLUSTERS by transitive closure —
    iterative minimum-label propagation over the similarity graph.

    Each node starts labeled with itself; every iteration each node
    adopts the minimum label among itself and its neighbors; converged
    when no label changes. Iterations = graph diameter (small for dedup
    clusters), each one a join + groupBy on the node id — the classic
    iterative-DataFrame algorithm (not SQL-expressible; the driver
    records a rows-only check and tests plant known clusters).

    Returns (node_id, cluster_id) with cluster_id = min node id of the
    component — pick ``node_id == cluster_id`` as the canonical keeper.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .cache()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)  # data-scale: one row per matched doc
    )
    for _ in range(max_iterations):
        neighbor_labels = (
            edges.join(labels, edges.dst == labels.node)
            .select(F.col("src").alias("node"), "label")
        )
        new_labels = (
            labels.select("node", "label")
            .union(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)  # data-scale; cuts iterative lineage
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        # iteration k's label table is dead once k+1 is pinned and the
        # convergence check above has read it — release it instead of
        # leaking one pinned RDD per iteration into the session
        release_local_checkpoints(labels)
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(
        F.col("node").alias("node_id"), F.col("label").alias("cluster_id")
    )


def dedup_keep_canonical(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Full near-dup dedup: pairs → clusters → keep the minimum-id
    document of every cluster (plus all unpaired documents)."""
    clusters = connected_components(pairs)
    drop_ids = clusters.filter(F.col("node_id") != F.col("cluster_id")).select(
        F.col("node_id").alias(id_col)
    )
    return df.join(drop_ids, id_col, "left_anti")


#: Thresholds are compared as the exact integer ratio num / _DEN.
_DEN = 10


def _threshold_num(threshold: float) -> int:
    """``num`` with ``threshold == num / _DEN``. Raises before any
    Spark job runs, so a bad threshold pins nothing."""
    if abs(threshold * _DEN - round(threshold * _DEN)) > 1e-12:
        raise ValueError("threshold must be a 1-decimal rational, e.g. 0.6")
    return int(round(threshold * _DEN))


def _shingle_table(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, sh): each non-empty document's distinct k-shingles."""
    return (
        widen_to_parallelism(df.select(F.col(id_col).alias("id"), text_col))
        .select("id", shingles(text_col, k).alias("sh"))
        .filter(F.size("sh") > 0)
    )


def _prefixes(sh: DataFrame, threshold: float) -> DataFrame:
    """PPJoin prefix rows (key..., n, s, pos): each document's first
    ``n - ceil(t*n) + 1`` shingles in rarest-first order (ascending
    document frequency over all of ``sh``, ties broken by shingle text
    for a total order). The key is every column of ``sh`` except
    ``sh``. A pair with J >= t shares at least one shingle inside both
    prefixes, so only prefixes need to join."""
    from pyspark.sql import Window as W

    key = [c for c in sh.columns if c != "sh"]
    tok = sh.select(*key, F.size("sh").alias("n"), F.explode("sh").alias("s"))
    freq = tok.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    return (
        tok.join(freq, "s")
        .withColumn("pos", F.row_number().over(W.partitionBy(*key).orderBy("df", "s")))
        .filter(
            F.col("pos")
            <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
        )
        .select(*key, "n", "s", "pos")
    )


def _verified_pairs(
    pa: DataFrame,
    pb: DataFrame,
    sh_a: DataFrame,
    sh_b: DataFrame,
    threshold: float,
    pair_cond: Column | None = None,
) -> DataFrame:
    """(id_a, id_b, n_inter, n_union) for every pair with J >= t, from
    the prefix rows ``pa``/``pb`` and shingle tables ``sh_a``/``sh_b``
    of the two sides. ``pair_cond`` is an extra join predicate over the
    aliases ``a`` and ``b``.

    Filters applied, each exact (no recall loss at the threshold):
    - **length filter** in the join condition: J >= t implies
      ``t * |A| <= |B| <= |A| / t``.
    - **PPJoin positional filter** (Xiao et al., WWW'08): for a pair
      with J >= t the FIRST common shingle in the shared (df, s) order
      lies inside BOTH prefixes (elements strictly after A's prefix
      number ceil(t*n_a)-1 < the required overlap
      ceil(t/(1+t)*(n_a+n_b))). All common elements sit at or after
      it, hence overlap <= 1 + min(n_a - pos_a*, n_b - pos_b*) where
      pos* = the pair's minimum colliding prefix position per side.
      The per-pair groupBy doubles as the candidate distinct (same
      shuffle), and the integer test
      (1 + min(...)) * (den+num) >= num * (n_a + n_b) prunes
      candidates that can never verify — r9 measured 50 414 -> 20 139
      candidates and a bit-identical verified output at t=0.5.
    - **verify**: exact |A∩B| and |A∪B| via array_intersect on the
      surviving candidates, compared in INTEGER space (0.6 = 6/10) so
      the threshold is engine-exact with no float-boundary drift.
    """
    num = _threshold_num(threshold)
    a, b = pa.alias("a"), pb.alias("b")
    cond = F.col("a.s") == F.col("b.s")
    if pair_cond is not None:
        cond = cond & pair_cond
    cand = (
        a.join(
            b,
            cond
            & (F.col("b.n") >= F.lit(threshold) * F.col("a.n"))
            & (F.col("b.n") <= F.col("a.n") / F.lit(threshold)),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.min("a.pos").alias("__pa"),
            F.min("b.pos").alias("__pb"),
            F.min("a.n").alias("__na"),
            F.min("b.n").alias("__nb"),
        )
        .filter(
            (
                F.lit(1)
                + F.least(
                    F.col("__na") - F.col("__pa"), F.col("__nb") - F.col("__pb")
                )
            )
            * (_DEN + num)
            >= num * (F.col("__na") + F.col("__nb"))
        )
        .select("id_a", "id_b")
    )
    sa = sh_a.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sh_b.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("__i", inter)
        .withColumn("__u", union)
        .filter(F.col("__i") * _DEN >= num * F.col("__u"))
        .select(
            "id_a",
            "id_b",
            F.col("__i").cast("bigint").alias("n_inter"),
            F.col("__u").cast("bigint").alias("n_union"),
        )
    )


def prefix_filtered_jaccard_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.6,
    with_counts: bool = False,
) -> DataFrame:
    """Threshold Jaccard self-join with PPJoin-style prefix filtering —
    the LOSSLESS candidate pruning that makes an all-corpus similarity
    self-join feasible at 100 TB (no blocking key needed). Only
    rarest-first prefixes (``_prefixes``) are exploded into the
    candidate join, so frequent shingles never generate candidates;
    the length and positional filters and the exact verify are
    ``_verified_pairs``. Candidates are ~linear in the true result
    size, not quadratic in the corpus.

    Output: (id_a, id_b, jaccard) with id_a < id_b and jaccard >=
    threshold, 6dp on a grid-stable floor rounding — or, with
    ``with_counts=True``, the exact integer pair (id_a, id_b, n_inter,
    n_union) for callers that derive their own engine-exact
    similarity representation.
    """
    _threshold_num(threshold)
    # data-scale signatures; no re-inlining
    sh = _shingle_table(docs, id_col, text_col, k).localCheckpoint(eager=True)
    prefix = _prefixes(sh, threshold)
    verified = _verified_pairs(
        prefix, prefix, sh, sh, threshold, F.col("a.id") < F.col("b.id")
    )
    if with_counts:
        return verified
    return verified.select(
        "id_a",
        "id_b",
        (
            F.floor(
                F.col("n_inter") / F.greatest(F.col("n_union"), F.lit(1)) * 1000000.0
                + 0.5
            )
            / 1000000.0
        )
        .cast("double")
        .alias("jaccard"),
    )


def prefix_filtered_jaccard_join_asym(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Asymmetric PPJoin: every (left, right) pair with shingle-Jaccard
    >= threshold — the fuzzy train-vs-benchmark decontamination shape
    (benchmark_decontamination is the EXACT-containment sibling; this
    catches paraphrased/partially-edited leakage that exact n-gram
    containment misses).

    Same kernel as the self-join. The shingle frequencies behind the
    prefix order are computed over the UNION of both sides: both sides
    MUST share one total order for the prefix bound to hold. At
    100 TB the benchmark side is tiny and broadcast; candidates scale
    with true matches, never |train| x |bench|.

    Output: (id_a = left id, id_b = right id, n_inter, n_union) —
    exact integers, so callers express any threshold as an integer
    predicate (q*n_inter >= p*n_union for t = p/q).
    """
    _threshold_num(threshold)
    # data-scale: one row per document of both sides
    sh = (
        _shingle_table(left, id_col, text_col, k).withColumn("side", F.lit("a"))
        .unionByName(
            _shingle_table(right, id_col, text_col, k).withColumn("side", F.lit("b"))
        )
        .localCheckpoint(eager=True)
    )
    prefix = _prefixes(sh, threshold)
    is_a, is_b = F.col("side") == "a", F.col("side") == "b"
    return _verified_pairs(
        prefix.filter(is_a),
        prefix.filter(is_b),
        sh.filter(is_a),
        sh.filter(is_b),
        threshold,
    )
