"""Round-4 session-5 additions: document fingerprinting (winnowing),
exact substring-duplication spans, isotonic calibration, and
rank fusion.

Registration ORDER is part of the driver contract - segments are
imported by the facade in fixed sequence; do not reorder.
"""

from __future__ import annotations

from ..scratch import tmp_io
from ._core import F, SparkSession, DataFrame, register, t


# =====================================================================
# Shared portable hashing: the polynomial rolling hash family from
# simhash_portable_dedup, parametrized by mask so fingerprints can be
# packed next to a 20-bit position inside one BIGINT.
# =====================================================================

_MASK40 = (1 << 40) - 1  # 40-bit hash -> h * 2^20 + pos stays < 2^60
_POS_BITS = 20
_POS_MOD = 1 << _POS_BITS  # positions are per-document (< 2^20: a
# document with a million tokens is ~5 MB - the per-doc bound holds at
# ANY corpus scale; corpus growth adds documents, not document length)


def _polyhash(col: str, engine: str, mask: int = _MASK40) -> str:
    """Portable polynomial rolling hash over a string column: fold
    (acc*31 + ascii(c)) & mask from acc=7 - identical integer math on
    both engines, only the list-function NAMES differ."""
    if engine == "spark":
        return (
            f"aggregate(filter(split({col}, ''), x -> x != ''), 7L, "
            f"(acc, c) -> (acc * 31 + ascii(c)) & {mask})"
        )
    return (
        f"list_reduce(list_prepend(CAST(7 AS BIGINT), "
        f"list_transform(list_filter(string_split_regex({col}, ''), "
        f"x -> x <> ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(acc, c) -> (acc * 31 + c) & {mask})"
    )


# =====================================================================
# Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003 -
# the MOSS algorithm): per-window rightmost-minimum k-gram hashes.
# =====================================================================

_WINNOW_K = 4  # tokens per k-gram
_WINNOW_W = 5  # winnowing window (guarantee: any match >= k+w-1 tokens
# long shares at least one fingerprint)
_WINNOW_DF_CAP = 25  # stop-gram cap: fingerprints in more docs carry
# no discriminating signal and their posting lists drive the join cost

_WINNOWING_ORACLE = f"""
    -- Full replay of MOSS winnowing: whitespace tokens, 4-token
    -- k-grams hashed with the portable 40-bit polynomial rolling hash,
    -- then for every window of 5 consecutive k-gram hashes the
    -- RIGHTMOST MINIMUM is selected as a fingerprint. The tie rule is
    -- engine-independent because (hash, position) is packed into ONE
    -- BIGINT - h * 2^20 + (2^20-1-pos) - whose plain min() IS
    -- (min hash, max pos among ties). Shared-fingerprint doc pairs
    -- (stop-grams appearing in > {_WINNOW_DF_CAP} docs dropped first)
    -- are the plagiarism/near-dup candidates.
    WITH toks AS MATERIALIZED (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents
    ),
    kg AS MATERIALIZED (
        SELECT doc_id, ws,
               unnest(generate_series(1, len(ws) - {_WINNOW_K - 1}))
                   AS pos
        FROM toks WHERE len(ws) >= {_WINNOW_K}
    ),
    g AS MATERIALIZED (
        SELECT doc_id, pos,
               ws[pos] || ' ' || ws[pos + 1] || ' ' || ws[pos + 2]
                       || ' ' || ws[pos + 3] AS g
        FROM kg
    ),
    h AS MATERIALIZED (
        SELECT doc_id, pos,
               {_polyhash('g', 'duckdb')} * {_POS_MOD}
                   + ({_POS_MOD - 1} - pos) AS pk
        FROM g
    ),
    win AS MATERIALIZED (
        SELECT doc_id, pos,
               min(pk) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN {_WINNOW_W - 1} PRECEDING
                             AND CURRENT ROW) AS wmin
        FROM h
    ),
    fp AS MATERIALIZED (
        SELECT DISTINCT doc_id, wmin // {_POS_MOD} AS fph
        FROM win WHERE pos >= {_WINNOW_W}
    ),
    live AS MATERIALIZED (
        SELECT fph FROM fp GROUP BY fph
        HAVING count(*) <= {_WINNOW_DF_CAP}
    ),
    kept AS MATERIALIZED (
        SELECT fp.doc_id, fp.fph FROM fp JOIN live USING (fph)
    ),
    sizes AS MATERIALIZED (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
        FROM kept GROUP BY doc_id
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS shared_fps
        FROM kept a JOIN kept b
          ON a.fph = b.fph AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= 2
    )
    SELECT p.doc_a, p.doc_b, p.shared_fps,
           sa.n_fp AS fp_a, sb.n_fp AS fp_b,
           round(CAST(p.shared_fps AS DOUBLE)
                 / CAST(LEAST(sa.n_fp, sb.n_fp) AS DOUBLE), 6)
               AS overlap_coef
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    ORDER BY shared_fps DESC, doc_a, doc_b
"""


@register(
    "winnowing_fingerprint_overlap",
    _WINNOWING_ORACLE,
    "Winnowing document fingerprinting (Schleimer-Wilkerson-Aiken "
    "2003, the MOSS algorithm) as pure native expressions: 4-token "
    "k-grams hashed with the portable 40-bit polynomial rolling hash, "
    "then each 5-window's RIGHTMOST MINIMUM hash selected via one "
    "windowed min over a packed (hash, position) BIGINT key - "
    "h*2^20 + (2^20-1-pos) - so the classic tie rule costs nothing "
    "and is bit-identical on any engine. Winnowing's guarantee (every "
    "shared run of >= k+w-1 tokens shares >= 1 fingerprint) makes "
    "this the standard lossless-recall screen before expensive "
    "pairwise diffing. Scale: fingerprints are ~2/(w+1) of k-gram "
    "positions (a 3x reduction before any shuffle), the windowed min "
    "is per-document (partition-parallel, never a global sort), and "
    "the pair join is an equi-join on fingerprint hash with "
    "stop-grams (> 25 docs) dropped first - the posting-list cap "
    "that keeps the join linear in matches, same posture as the "
    "banded-MinHash tier. No UDF anywhere.",
    tags=("dedup", "text", "llm-pipeline", "round4"),
)
def winnowing_fingerprint_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.text import tokens, widen_to_parallelism

    docs = t(spark, sf_dir, "documents")
    # Widen the one-split scan before the tokenize/k-gram/polyhash
    # map pass (guide §2.5; identity at scale).
    toks = widen_to_parallelism(docs.select("doc_id", "text")).select(
        "doc_id", tokens("text").alias("ws")
    )
    n = F.size("ws")
    k = _WINNOW_K
    base = toks.filter(n >= k).select(
        "doc_id",
        F.posexplode(
            F.arrays_zip(
                *[F.slice(F.col("ws"), i + 1, n - (k - 1)) for i in range(k)]
            )
        ).alias("i", "kg"),
    )
    g = base.select(
        "doc_id",
        (F.col("i") + 1).alias("pos"),
        F.concat_ws(
            " ", *[F.col(f"kg.{i}") for i in range(k)]
        ).alias("g"),
    )
    h = g.select(
        "doc_id",
        "pos",
        (
            F.expr(_polyhash("g", "spark")) * _POS_MOD
            + (F.lit(_POS_MOD - 1) - F.col("pos"))
        ).alias("pk"),
    )
    from pyspark.sql import Window as W

    win = h.select(
        "doc_id",
        "pos",
        F.min("pk")
        .over(
            W.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(-(_WINNOW_W - 1), 0)
        )
        .alias("wmin"),
    )
    fp = (
        win.filter(F.col("pos") >= _WINNOW_W)
        .select("doc_id", F.expr(f"wmin div {_POS_MOD}").alias("fph"))
        .distinct()
    )
    live = fp.groupBy("fph").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= _WINNOW_DF_CAP
    )
    kept = fp.join(live.select("fph"), "fph")
    sizes = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fp")
    )
    a = kept.select(F.col("doc_id").alias("doc_a"), "fph")
    b = kept.select(F.col("doc_id").alias("doc_b"), "fph")
    pairs = (
        a.join(b, ["fph"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
        .filter(F.col("shared_fps") >= 2)
    )
    # `sizes` is one row per DOCUMENT — corpus-sized, so it must NOT
    # broadcast at the 100 TB posture (the ADVICE-r3 bigram-broadcast
    # class). Both joins are doc-keyed shuffle joins; AQE will still
    # choose broadcast at fixture scale on its own size estimate.
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("fp_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("fp_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared_fps",
            "fp_a",
            "fp_b",
            F.round(
                F.col("shared_fps").cast("double")
                / F.least("fp_a", "fp_b").cast("double"),
                6,
            ).alias("overlap_coef"),
        )
        .orderBy(F.desc("shared_fps"), "doc_a", "doc_b")
    )


# =====================================================================
# Exact substring-duplication spans (the token-n-gram form of Lee et
# al. 2022, "Deduplicating Training Data Makes Language Models
# Better"): what FRACTION of each document is covered by 8-grams that
# also appear verbatim in another document.
# =====================================================================

_DUPSPAN_K = 8


def _dupspan_combine(term: "callable", k: int = _DUPSPAN_K) -> str:
    """Second-level polynomial over k pre-hashed tokens: fold
    (acc*31 + th_i) & mask with explicit full parenthesization - the
    identical integer expression on both engines. ``term(i)`` renders
    the i-th token-hash operand."""
    expr = term(0)
    for i in range(1, k):
        expr = f"(({expr}) * 31 + {term(i)}) & {_MASK40}"
    return expr


_DUPSPAN_ORACLE = f"""
    -- Exact substring-duplication measurement: every token 8-gram is
    -- hashed (each token char-hashed ONCE with the portable 40-bit
    -- rolling hash, then the 8 token-hashes folded through a second
    -- polynomial - 8 multiply-add-mask ops per position instead of
    -- re-walking ~50 chars), 8-grams appearing in >= 2 DISTINCT
    -- documents are 'duplicated', and each document's
    -- duplicated-token count is the EXACT interval union of the
    -- [pos, pos+7] spans of its duplicated 8-grams - the sweep-line
    -- single-window form (running max end over the preceding frame),
    -- so overlapping spans never double-count.
    WITH toks AS MATERIALIZED (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents
    ),
    th AS MATERIALIZED (
        SELECT doc_id,
               list_transform(ws, w -> {_polyhash('w', 'duckdb')}) AS th,
               len(ws) AS n
        FROM toks WHERE len(ws) >= {_DUPSPAN_K}
    ),
    kg AS MATERIALIZED (
        SELECT doc_id, th,
               unnest(generate_series(1, n - {_DUPSPAN_K - 1})) AS pos
        FROM th
    ),
    h AS MATERIALIZED (
        SELECT doc_id, pos,
               {_dupspan_combine(lambda i: f"th[pos + {i}]")} AS h
        FROM kg
    ),
    dup AS MATERIALIZED (
        SELECT h FROM h GROUP BY h
        HAVING count(DISTINCT doc_id) >= 2
    ),
    spans AS MATERIALIZED (
        SELECT h.doc_id, h.pos FROM h JOIN dup USING (h)
    ),
    sweep AS MATERIALIZED (
        SELECT doc_id, pos,
               max(pos + {_DUPSPAN_K - 1}) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_end
        FROM spans
    ),
    cov AS MATERIALIZED (
        SELECT doc_id,
               CAST(sum(GREATEST(
                   (pos + {_DUPSPAN_K - 1})
                   - GREATEST(pos - 1, coalesce(prev_end, 0)), 0))
                   AS BIGINT) AS dup_tokens
        FROM sweep GROUP BY doc_id
    )
    SELECT c.doc_id,
           CAST(len(tk.ws) AS BIGINT) AS n_tokens,
           c.dup_tokens,
           round(CAST(c.dup_tokens AS DOUBLE)
                 / CAST(len(tk.ws) AS DOUBLE), 6) AS dup_fraction
    FROM cov c JOIN toks tk ON tk.doc_id = c.doc_id
    WHERE c.dup_tokens > 0
    ORDER BY dup_fraction DESC, c.doc_id
"""


@register(
    "duplicated_ngram_span_fraction",
    _DUPSPAN_ORACLE,
    "Exact substring-duplication spans, the token-n-gram form of Lee "
    "et al. 2022 ('Deduplicating Training Data Makes Language Models "
    "Better'): hash every token 8-gram (portable rolling hash), mark "
    "hashes seen in >= 2 distinct docs, and measure per document the "
    "EXACT union of the duplicated [pos, pos+7] spans via the "
    "sweep-line single-window formulation (running max end over the "
    "1-PRECEDING frame) - overlapping duplicated runs never "
    "double-count, so dup_fraction is the true fraction of tokens "
    "sitting inside cross-document verbatim runs. Complements the "
    "whole-doc dedup tier (MinHash/SimHash find near-dup DOCUMENTS; "
    "this finds duplicated PASSAGES inside otherwise-unique docs - "
    "boilerplate, quotes, licenses). Scale: 8-byte hashes shuffle "
    "(one groupBy for document frequency, one equi-join back), the "
    "sweep is per-document partition-parallel, and no pair of "
    "documents is ever compared directly.",
    tags=("dedup", "text", "llm-pipeline", "window", "round4"),
)
def duplicated_ngram_span_fraction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.text import tokens, widen_to_parallelism

    docs = t(spark, sf_dir, "documents")
    # Widen the one-split scan before the token-hash map pass
    # (guide §2.5; identity at scale).
    toks = widen_to_parallelism(docs.select("doc_id", "text")).select(
        "doc_id", tokens("text").alias("ws")
    )
    n = F.size("ws")
    k = _DUPSPAN_K
    # Hash each TOKEN once (char-level fold), then combine the k
    # token-hashes per position with the second-level polynomial -
    # k multiply-add-mask ops per n-gram instead of re-walking the
    # concatenated string's ~50 chars (measured ~2x on the full query).
    th = toks.filter(n >= k).select(
        "doc_id",
        F.expr(f"transform(ws, w -> {_polyhash('w', 'spark')})").alias("th"),
    )
    nh = F.size("th")
    base = th.select(
        "doc_id",
        F.posexplode(
            F.arrays_zip(
                *[F.slice(F.col("th"), i + 1, nh - (k - 1)) for i in range(k)]
            )
        ).alias("i", "kg"),
    )
    comb = F.col("kg.0")
    for i in range(1, k):
        comb = (comb * 31 + F.col(f"kg.{i}")).bitwiseAND(F.lit(_MASK40))
    h = base.select("doc_id", (F.col("i") + 1).alias("pos"), comb.alias("h"))
    dup = (
        h.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("h")
    )
    spans = h.join(dup, "h").select("doc_id", "pos")
    sweep = spans.select(
        "doc_id",
        "pos",
        F.max(F.col("pos") + (k - 1))
        .over(
            W.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(W.unboundedPreceding, -1)
        )
        .alias("prev_end"),
    )
    cov = sweep.groupBy("doc_id").agg(
        F.sum(
            F.greatest(
                (F.col("pos") + (k - 1))
                - F.greatest(F.col("pos") - 1, F.coalesce("prev_end", F.lit(0))),
                F.lit(0),
            )
        )
        .cast("bigint")
        .alias("dup_tokens")
    )
    return (
        cov.filter(F.col("dup_tokens") > 0)
        .join(toks.select("doc_id", F.size("ws").cast("bigint").alias("n_tokens")), "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "dup_tokens",
            F.round(
                F.col("dup_tokens").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("dup_fraction"),
        )
        .orderBy(F.desc("dup_fraction"), "doc_id")
    )


# =====================================================================
# Isotonic calibration via PAVA's max-min closed form, exact to the
# last scaled-integer digit on both engines.
# =====================================================================

_ISO_SCALE = 10**15  # rates are distinct-or-equal at 1e-12 granularity
# (denominators < 1e6 at any band size), so floor-scaling at 1e15
# orders fractions EXACTLY without ever dividing floats.

_ISO_ORACLE = """
    WITH scored AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad,
               ((o_orderkey % 99991) * 31 + (o_custkey % 99991) * 17)
                   % 99991 % 70000
                   + CASE WHEN o_orderstatus = 'F' THEN 30000 ELSE 0 END
                   AS score
        FROM orders
    ),
    b AS MATERIALIZED (
        SELECT score // 2000 AS band,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(bad) AS BIGINT) AS n_bad
        FROM scored GROUP BY 1
    ),
    c AS MATERIALIZED (
        SELECT band, n, n_bad,
               CAST(sum(n_bad) OVER (ORDER BY band) AS BIGINT) AS s,
               CAST(sum(n)     OVER (ORDER BY band) AS BIGINT) AS c
        FROM b
    ),
    trip AS (
        SELECT i.band,
               j.band AS bandj,
               CAST(((k.s - j.s + j.n_bad)::HUGEINT * 1000000000000000)
                    // (k.c - j.c + j.n) AS BIGINT) AS q
        FROM c i
        JOIN c j ON j.band <= i.band
        JOIN c k ON k.band >= i.band
    ),
    mn AS (
        SELECT band, bandj, CAST(min(q) AS BIGINT) AS minq
        FROM trip GROUP BY 1, 2
    ),
    iso AS (
        SELECT band, CAST(max(minq) AS BIGINT) AS iso_rate_q
        FROM mn GROUP BY 1
    )
    SELECT CAST(b.band AS BIGINT) AS band, b.n, b.n_bad,
           round(CAST(b.n_bad AS DOUBLE) / CAST(b.n AS DOUBLE), 6)
               AS emp_rate,
           iso.iso_rate_q,
           round(CAST(iso.iso_rate_q AS DOUBLE) / 1e15, 6) AS iso_rate
    FROM b JOIN iso ON b.band = iso.band
    ORDER BY band
"""


@register(
    "isotonic_calibration_pava",
    _ISO_ORACLE,
    "Isotonic regression calibration of the credit-score default "
    "curve - the pool-adjacent-violators fit computed through its "
    "max-min closed form iso(i) = max_{j<=i} min_{k>=i} "
    "rate(bands j..k) - so the reference's raw model scores "
    "(app.py's probability outputs) become MONOTONE calibrated "
    "default rates, the standard scoring-to-probability step "
    "regulators expect. Exactness: band counts are one "
    "partial-combined fact pass; every candidate pooled rate is "
    "ordered by floor-scaling (sum*1e15 div count) in "
    "DECIMAL/HUGEINT - fractions with denominators < 1e6 differ by "
    "> 1e-12, so the 1e-15 grid orders them EXACTLY and the fitted "
    "value is bit-identical on both engines, no float min/max "
    "anywhere. Scale: the fact table is touched ONCE (50-band "
    "groupBy); the O(B^3) max-min runs on the 50-row band table "
    "(125k metadata-sized triples via two broadcast range joins) - "
    "band count is FIXED regardless of data size, so the plan is "
    "invariant from sf0.01 to 100 TB.",
    tags=("ml", "credit", "analytics", "agg", "round4"),
)
def isotonic_calibration_pava(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ._q06_credit_stats import _scored_orders

    bands = (
        _scored_orders(spark, sf_dir)
        .groupBy(F.expr("score div 2000").alias("band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("bad").cast("bigint").alias("n_bad"),
        )
    )
    wcum = W.orderBy("band").rowsBetween(W.unboundedPreceding, 0)
    # Bands are a score-div quotient domain (metadata-scale — the
    # O(bands^2) PAVA triple below depends on it); the limit restates
    # that structurally so the BNLJ audit can prove the broadcast
    # pair sides (cj/ck, derived from c) are bounded.
    c = bands.select(
        "band",
        "n",
        "n_bad",
        F.sum("n_bad").over(wcum).cast("bigint").alias("s"),
        F.sum("n").over(wcum).cast("bigint").alias("c"),
    ).limit(10_000)
    ci = c.select(F.col("band"))
    cj = c.select(
        F.col("band").alias("bandj"),
        F.col("s").alias("sj"),
        F.col("c").alias("cj"),
        F.col("n_bad").alias("nbadj"),
        F.col("n").alias("nj"),
    )
    ck = c.select(
        F.col("band").alias("bandk"),
        F.col("s").alias("sk"),
        F.col("c").alias("ck"),
    )
    trip = (
        ci.join(F.broadcast(cj), F.col("bandj") <= F.col("band"))
        .join(F.broadcast(ck), F.col("bandk") >= F.col("band"))
        .select(
            "band",
            "bandj",
            F.expr(
                "CAST(CAST(sk - sj + nbadj AS DECIMAL(38,0)) "
                f"* {_ISO_SCALE} div (ck - cj + nj) AS BIGINT)"
            ).alias("q"),
        )
    )
    mn = trip.groupBy("band", "bandj").agg(
        F.min("q").cast("bigint").alias("minq")
    )
    iso = mn.groupBy("band").agg(
        F.max("minq").cast("bigint").alias("iso_rate_q")
    )
    return (
        bands.join(F.broadcast(iso), "band")
        .select(
            F.col("band").cast("bigint").alias("band"),
            "n",
            "n_bad",
            F.round(
                F.col("n_bad").cast("double") / F.col("n").cast("double"), 6
            ).alias("emp_rate"),
            "iso_rate_q",
            F.round(F.col("iso_rate_q").cast("double") / F.lit(1e15), 6).alias(
                "iso_rate"
            ),
        )
        .orderBy("band")
    )


# =====================================================================
# Reciprocal rank fusion (Cormack, Clarke, Buettcher 2009): merge two
# retriever rankings with exact integer scores.
# =====================================================================

_RRF_K = 60
_RRF_TOPN = 100
_RRF_SCALE = 1_000_000

_RRF_ORACLE = f"""
    -- Reciprocal rank fusion of two retrievers over the corpus:
    -- retriever A ranks by term frequency of 'data', retriever B by
    -- term frequency of 'spark' (both desc, doc_id tie-broken). Each
    -- contributes floor(1e6 / (60 + rank)) for its top-{_RRF_TOPN};
    -- integer division makes the fused score exact and associative.
    WITH scored AS MATERIALIZED (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '),
                                    x -> x = 'data')) AS BIGINT)  AS tfa,
               CAST(len(list_filter(string_split(text, ' '),
                                    x -> x = 'spark')) AS BIGINT) AS tfb
        FROM documents
    ),
    ra AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY tfa DESC, doc_id) AS r
        FROM scored QUALIFY r <= {_RRF_TOPN}
    ),
    rb AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY tfb DESC, doc_id) AS r
        FROM scored QUALIFY r <= {_RRF_TOPN}
    ),
    contrib AS (
        SELECT doc_id, {_RRF_SCALE} // ({_RRF_K} + r) AS c FROM ra
        UNION ALL
        SELECT doc_id, {_RRF_SCALE} // ({_RRF_K} + r) AS c FROM rb
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT)   AS rrf_micro,
           CAST(count(*) AS BIGINT) AS in_lists
    FROM contrib GROUP BY doc_id
    ORDER BY rrf_micro DESC, doc_id
    LIMIT 25
"""


@register(
    "reciprocal_rank_fusion",
    _RRF_ORACLE,
    "Reciprocal rank fusion (Cormack-Clarke-Buettcher 2009), the "
    "standard hybrid-retrieval merge (BM25 x embedding lists in "
    "every RAG stack): two retrievers rank the corpus (term "
    "frequency of 'data' / of 'spark', desc, doc_id tie-broken), "
    "each top-100 contributes floor(1e6/(60+rank)), and documents "
    "are re-ranked by the exact BIGINT sum - integer division makes "
    "the fused score associative and engine-identical, no float "
    "1/(k+r) accumulation. Scale: term frequencies are map-side "
    "array ops; each retriever's top-100 is TakeOrderedAndProject "
    "(never a global sort); ranks come from a window over the "
    "100-row result (metadata-sized by construction); the fusion "
    "groupBy touches <= 200 rows.",
    tags=("text", "analytics", "llm-pipeline", "round4"),
)
def reciprocal_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.text import tokens

    docs = t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.size(F.filter(tokens("text"), lambda x: x == "data"))
        .cast("bigint")
        .alias("tfa"),
        F.size(F.filter(tokens("text"), lambda x: x == "spark"))
        .cast("bigint")
        .alias("tfb"),
    )

    def top_ranked(col: str) -> DataFrame:
        # TakeOrderedAndProject extracts the top-N; the global window
        # then runs over N rows only (metadata-sized by construction).
        topn = scored.orderBy(F.desc(col), "doc_id").limit(_RRF_TOPN)
        return topn.select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.desc(col), "doc_id"))
            .alias("r"),
        )

    contrib = top_ranked("tfa").unionAll(top_ranked("tfb")).select(
        "doc_id", F.expr(f"{_RRF_SCALE} div ({_RRF_K} + r)").alias("c")
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("rrf_micro"),
            F.count(F.lit(1)).cast("bigint").alias("in_lists"),
        )
        .orderBy(F.desc("rrf_micro"), "doc_id")
        .limit(25)
    )


# =====================================================================
# Multinomial Naive Bayes language ID: train AND inference fully
# declarative, exact to the micro-nat on both engines.
# =====================================================================

_NB_ORACLE = """
    -- Multinomial NB with Laplace smoothing, trained on the 80%
    -- doc_id%5!=0 split and scored on the 20% holdout. Every ln term
    -- is rounded to micro-nats THEN summed as BIGINT (associative ->
    -- layout-independent), the lm_bigram_surprisal discipline. The
    -- candidate class table is the (test-token x 5 langs) cross join;
    -- unseen (lang, token) pairs fall back to the +1 smoothing mass
    -- via the LEFT JOIN's coalesce(cnt, 0).
    WITH tr AS MATERIALIZED (
        SELECT lang, doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents WHERE doc_id % 5 <> 0
    ),
    te AS MATERIALIZED (
        SELECT lang, doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents WHERE doc_id % 5 = 0
    ),
    trtok AS MATERIALIZED (
        SELECT lang, unnest(ws) AS tok FROM tr
    ),
    clt AS MATERIALIZED (
        SELECT lang, tok, CAST(count(*) AS BIGINT) AS cnt
        FROM trtok GROUP BY 1, 2
    ),
    tl AS MATERIALIZED (
        SELECT lang, CAST(count(*) AS BIGINT) AS tot FROM trtok GROUP BY 1
    ),
    v AS MATERIALIZED (
        SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab FROM trtok
    ),
    pri AS MATERIALIZED (
        SELECT lang, CAST(count(*) AS BIGINT) AS nd FROM tr GROUP BY 1
    ),
    d AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS nd_all FROM tr),
    tetok AS MATERIALIZED (
        SELECT doc_id, unnest(ws) AS tok FROM te
    ),
    cand AS (
        SELECT tt.doc_id, tt.tok, tl.lang, tl.tot
        FROM tetok tt CROSS JOIN tl
    ),
    terms AS (
        SELECT c.doc_id, c.lang,
               CAST(round(-ln(CAST(coalesce(k.cnt, 0) + 1 AS DOUBLE)
                              / CAST(c.tot + v.vocab AS DOUBLE)) * 1e6)
                    AS BIGINT) AS nll_micro
        FROM cand c
        LEFT JOIN clt k ON k.lang = c.lang AND k.tok = c.tok
        CROSS JOIN v
    ),
    doc_lang AS (
        SELECT t.doc_id, t.lang,
               CAST(sum(t.nll_micro) AS BIGINT)
               + any_value(CAST(round(-ln(CAST(pri.nd AS DOUBLE)
                                          / CAST(d.nd_all AS DOUBLE)) * 1e6)
                                AS BIGINT)) AS total_nll_micro
        FROM terms t
        JOIN pri ON pri.lang = t.lang
        CROSS JOIN d
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT doc_id, lang, total_nll_micro,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY total_nll_micro, lang) AS rn,
               lead(total_nll_micro) OVER (PARTITION BY doc_id
                                  ORDER BY total_nll_micro, lang) AS second
        FROM doc_lang
    )
    SELECT r.doc_id, te.lang AS true_lang, r.lang AS pred_lang,
           r.total_nll_micro AS nll_micro,
           CAST(r.second - r.total_nll_micro AS BIGINT) AS margin_micro,
           (r.lang = te.lang) AS correct
    FROM ranked r JOIN te ON te.doc_id = r.doc_id
    WHERE r.rn = 1
    ORDER BY r.doc_id
"""


@register(
    "naive_bayes_lang_classify",
    _NB_ORACLE,
    "Multinomial Naive Bayes language-ID: TRAINING (per-class token "
    "counts, Laplace +1 smoothing, class priors on the doc_id%5!=0 "
    "split) and INFERENCE (argmax class per holdout doc with the "
    "runner-up margin) as ONE declarative plan - the engine's "
    "demonstration that a full fit+predict ML cycle runs inside "
    "Catalyst with an exact cross-engine oracle, beyond the MLlib "
    "pipeline twins (reference spark.py:76-90 trains LR; this shows "
    "the train step itself can be a groupBy). Determinism: every "
    "-ln(p) is micro-nat-rounded per (token, class) THEN summed as "
    "BIGINT (associative, layout-independent); argmax tie-breaks by "
    "(nll, lang). Scale: the count model is vocabulary-bounded per "
    "class (broadcast of the 5-row totals; the (lang,token) table "
    "joins co-keyed shuffle-side like the bigram LM); test tokens "
    "fan out x5 classes map-side - no driver, no UDF, no iteration.",
    tags=("ml", "text", "llm-pipeline", "agg", "round4"),
)
def naive_bayes_lang_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.text import tokens

    docs = t(spark, sf_dir, "documents")
    tr = docs.filter(F.col("doc_id") % 5 != 0).select(
        "lang", "doc_id", tokens("text").alias("ws")
    )
    te = docs.filter(F.col("doc_id") % 5 == 0).select(
        "lang", "doc_id", tokens("text").alias("ws")
    )
    trtok = tr.select("lang", F.explode("ws").alias("tok"))
    clt = trtok.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    # lang is a bounded label domain; limit(100) restates that
    # structurally so the BNLJ audit can prove the broadcast is bounded.
    tl = trtok.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("tot")
    ).limit(100)
    v = trtok.agg(F.count_distinct("tok").cast("bigint").alias("vocab"))
    pri = tr.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    d = tr.agg(F.count(F.lit(1)).cast("bigint").alias("nd_all"))
    tetok = te.select("doc_id", F.explode("ws").alias("tok"))
    cand = tetok.crossJoin(F.broadcast(tl))
    terms = (
        cand.join(clt, ["lang", "tok"], "left")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            "lang",
            F.round(
                -F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + 1).cast("double")
                    / (F.col("tot") + F.col("vocab")).cast("double")
                )
                * 1e6
            )
            .cast("bigint")
            .alias("nll_micro"),
        )
    )
    prior_micro = (
        pri.crossJoin(F.broadcast(d))
        .select(
            "lang",
            F.round(
                -F.log(F.col("nd").cast("double") / F.col("nd_all").cast("double"))
                * 1e6
            )
            .cast("bigint")
            .alias("prior_micro"),
        )
    )
    doc_lang = (
        terms.groupBy("doc_id", "lang")
        .agg(F.sum("nll_micro").cast("bigint").alias("sum_micro"))
        .join(F.broadcast(prior_micro), "lang")
        .select(
            "doc_id",
            "lang",
            (F.col("sum_micro") + F.col("prior_micro")).alias("total_nll_micro"),
        )
    )
    wdoc = W.partitionBy("doc_id").orderBy("total_nll_micro", "lang")
    ranked = doc_lang.select(
        "doc_id",
        "lang",
        "total_nll_micro",
        F.row_number().over(wdoc).alias("rn"),
        F.lead("total_nll_micro").over(wdoc).alias("second"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .join(te.select("doc_id", F.col("lang").alias("true_lang")), "doc_id")
        .select(
            "doc_id",
            "true_lang",
            F.col("lang").alias("pred_lang"),
            F.col("total_nll_micro").alias("nll_micro"),
            (F.col("second") - F.col("total_nll_micro"))
            .cast("bigint")
            .alias("margin_micro"),
            (F.col("lang") == F.col("true_lang")).alias("correct"),
        )
        .orderBy("doc_id")
    )


# =====================================================================
# Brier score decomposition (Murphy 1973): reliability / resolution /
# uncertainty over the credit-score bands.
# =====================================================================

_BRIER_ORACLE = """
    WITH scored AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad,
               ((o_orderkey % 99991) * 31 + (o_custkey % 99991) * 17)
                   % 99991 % 70000
                   + CASE WHEN o_orderstatus = 'F' THEN 30000 ELSE 0 END
                   AS score
        FROM orders
    ),
    b AS MATERIALIZED (
        SELECT score // 2000 AS band,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(bad) AS BIGINT) AS n_bad
        FROM scored GROUP BY 1
    ),
    tot AS MATERIALIZED (
        SELECT CAST(sum(n) AS BIGINT) AS nn,
               CAST(sum(n_bad) AS BIGINT) AS nbad
        FROM b
    ),
    terms AS (
        SELECT
            CAST(sum(n * (2 * band + 1) * (2 * band + 1)
                     - 200 * (2 * band + 1) * n_bad
                     + 10000 * n_bad) AS BIGINT) AS bs_num,
            CAST(sum(CAST(round(
                (CAST(n AS DOUBLE) / CAST(tot.nn AS DOUBLE))
                * (CAST(2 * band + 1 AS DOUBLE) / 100
                   - CAST(n_bad AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(2 * band + 1 AS DOUBLE) / 100
                   - CAST(n_bad AS DOUBLE) / CAST(n AS DOUBLE))
                * 1e9) AS BIGINT)) AS BIGINT) AS rel_nano,
            CAST(sum(CAST(round(
                (CAST(n AS DOUBLE) / CAST(tot.nn AS DOUBLE))
                * (CAST(n_bad AS DOUBLE) / CAST(n AS DOUBLE)
                   - CAST(tot.nbad AS DOUBLE) / CAST(tot.nn AS DOUBLE))
                * (CAST(n_bad AS DOUBLE) / CAST(n AS DOUBLE)
                   - CAST(tot.nbad AS DOUBLE) / CAST(tot.nn AS DOUBLE))
                * 1e9) AS BIGINT)) AS BIGINT) AS res_nano,
            any_value(tot.nn) AS nn, any_value(tot.nbad) AS nbad
        FROM b CROSS JOIN tot
    )
    SELECT round(CAST(bs_num AS DOUBLE) / (10000 * CAST(nn AS DOUBLE)), 6)
               AS brier,
           rel_nano, res_nano,
           CAST(round((CAST(nbad AS DOUBLE) / CAST(nn AS DOUBLE))
                      * (1 - CAST(nbad AS DOUBLE) / CAST(nn AS DOUBLE))
                      * 1e9) AS BIGINT) AS unc_nano,
           abs(CAST(round(CAST(bs_num AS DOUBLE) * 1e9
                          / (10000 * CAST(nn AS DOUBLE))) AS BIGINT)
               - (rel_nano - res_nano
                  + CAST(round((CAST(nbad AS DOUBLE) / CAST(nn AS DOUBLE))
                               * (1 - CAST(nbad AS DOUBLE)
                                      / CAST(nn AS DOUBLE))
                               * 1e9) AS BIGINT))) <= 100 AS murphy_ok
    FROM terms
"""


@register(
    "brier_decomposition_bands",
    _BRIER_ORACLE,
    "Brier score with the Murphy (1973) decomposition BS = REL - RES "
    "+ UNC over the 50 credit-score bands (predicted probability = "
    "band midpoint (2b+1)/100): calibration quality (reliability), "
    "discrimination (resolution), and base-rate entropy "
    "(uncertainty) - the probability-forecast audit that pairs with "
    "isotonic_calibration_pava for the reference's scored outputs. "
    "Exactness: the Brier numerator is a PURE-INTEGER identity "
    "sum(n*(2b+1)^2 - 200*(2b+1)*bad + 10000*bad) (y^2 = y), divided "
    "once at the end; REL/RES terms are nano-rounded per band from "
    "identical IEEE expression text then BIGINT-summed; the "
    "murphy_ok boolean asserts the decomposition identity holds "
    "within 100 nano (50 bands x rounding half-ulps - "
    "bound-boolean oracle, approx_aggregates pattern). Scale: one "
    "fact pass (50-band groupBy); everything after runs on 50 rows.",
    tags=("ml", "credit", "analytics", "agg", "round4"),
)
def brier_decomposition_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._q06_credit_stats import _scored_orders

    b = (
        _scored_orders(spark, sf_dir)
        .groupBy(F.expr("score div 2000").alias("band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("bad").cast("bigint").alias("n_bad"),
        )
    )
    tot = b.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("n_bad").cast("bigint").alias("nbad"),
    )
    j = b.crossJoin(F.broadcast(tot))
    p_hat = "CAST(2 * band + 1 AS DOUBLE) / 100"
    r_b = "CAST(n_bad AS DOUBLE) / CAST(n AS DOUBLE)"
    pbar = "CAST(nbad AS DOUBLE) / CAST(nn AS DOUBLE)"
    w = "CAST(n AS DOUBLE) / CAST(nn AS DOUBLE)"
    terms = j.agg(
        F.expr(
            "CAST(sum(n * (2 * band + 1) * (2 * band + 1) "
            "- 200 * (2 * band + 1) * n_bad + 10000 * n_bad) AS BIGINT)"
        ).alias("bs_num"),
        F.expr(
            f"CAST(sum(CAST(round({w} * ({p_hat} - {r_b}) * ({p_hat} - {r_b}) "
            "* 1e9) AS BIGINT)) AS BIGINT)"
        ).alias("rel_nano"),
        F.expr(
            f"CAST(sum(CAST(round({w} * ({r_b} - {pbar}) * ({r_b} - {pbar}) "
            "* 1e9) AS BIGINT)) AS BIGINT)"
        ).alias("res_nano"),
        F.expr("any_value(nn)").alias("nn"),
        F.expr("any_value(nbad)").alias("nbad"),
    )
    unc = (
        "CAST(round((CAST(nbad AS DOUBLE) / CAST(nn AS DOUBLE)) "
        "* (1 - CAST(nbad AS DOUBLE) / CAST(nn AS DOUBLE)) * 1e9) AS BIGINT)"
    )
    return terms.select(
        F.expr(
            "round(CAST(bs_num AS DOUBLE) / (10000 * CAST(nn AS DOUBLE)), 6)"
        ).alias("brier"),
        "rel_nano",
        "res_nano",
        F.expr(unc).alias("unc_nano"),
        F.expr(
            "abs(CAST(round(CAST(bs_num AS DOUBLE) * 1e9 "
            "/ (10000 * CAST(nn AS DOUBLE))) AS BIGINT) "
            f"- (rel_nano - res_nano + {unc})) <= 100"
        ).alias("murphy_ok"),
    )


# =====================================================================
# l-diversity audit: the sensitive-attribute complement of
# k_anonymity_audit.
# =====================================================================

_LDIV_ORACLE = """
    WITH j AS (
        SELECT c.c_nationkey AS nation, c.c_mktsegment AS segment,
               o.o_orderstatus AS sensitive
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS MATERIALIZED (
        SELECT nation, segment,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT sensitive) AS BIGINT) AS diversity
        FROM j GROUP BY 1, 2
    ),
    ls AS (SELECT unnest([2, 3]) AS l)
    SELECT CAST(ls.l AS INT) AS l,
           CAST(count(*) AS BIGINT) AS groups_total,
           CAST(sum(CASE WHEN g.diversity >= ls.l THEN 1 ELSE 0 END)
                AS BIGINT) AS groups_ok,
           CAST(sum(CASE WHEN g.diversity < ls.l THEN g.n_rows ELSE 0 END)
                AS BIGINT) AS rows_at_risk,
           CAST(min(g.diversity) AS BIGINT) AS min_diversity
    FROM g, ls GROUP BY ls.l ORDER BY l
"""


@register(
    "l_diversity_audit",
    _LDIV_ORACLE,
    "l-diversity audit (Machanavajjhala et al. 2007), the "
    "sensitive-attribute complement of k_anonymity_audit: for each "
    "quasi-identifier group (nation, segment) count DISTINCT values "
    "of the sensitive attribute (order status); a group is l-diverse "
    "iff it carries >= l distinct sensitive values, else its rows "
    "are vulnerable to homogeneity attacks even when k-anonymous. "
    "Per-l sweep (l in 2, 3) over the metadata-scale group table: "
    "groups passing, rows at risk, minimum diversity. One "
    "fact-sized groupBy (count + count distinct per QI tuple); "
    "the l sweep is a 2-row broadcast cross join.",
    tags=("governance", "privacy", "agg", "round4"),
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.col("o_orderstatus").alias("sensitive"),
    )
    g = j.groupBy("nation", "segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count_distinct("sensitive").cast("bigint").alias("diversity"),
    )
    ls = spark.range(2, 4).select(F.col("id").cast("int").alias("l"))
    return (
        g.crossJoin(F.broadcast(ls))
        .groupBy("l")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("groups_total"),
            F.sum(F.when(F.col("diversity") >= F.col("l"), 1).otherwise(0))
            .cast("bigint")
            .alias("groups_ok"),
            F.sum(
                F.when(F.col("diversity") < F.col("l"), F.col("n_rows")).otherwise(0)
            )
            .cast("bigint")
            .alias("rows_at_risk"),
            F.min("diversity").cast("bigint").alias("min_diversity"),
        )
        .orderBy("l")
    )


# =====================================================================
# Image perceptual-hash dedup: REAL BMP decode -> integer aHash ->
# content-addressed near-dup groups.
# =====================================================================

_AHASH_ORACLE = """
    -- Analytic twin of the decode->aHash pipeline: image seed =
    -- doc_id % 16, channel j of pixel p is the synthesis congruence
    -- (seed*2654435761 + (3p+j)*40503) % 256, grayscale is the
    -- integer mean (r+g+b)//3, and bit p of the hash is set iff
    -- gray*56 > sum(gray) (strict cross-multiplied mean - no float
    -- division). Docs sharing a seed share the image, so they MUST
    -- land in the same aHash group; any decode slip (BMP pad bytes,
    -- bottom-up row order, BGR channel order) changes the grays and
    -- hash-fails against this replay.
    WITH ids AS MATERIALIZED (
        SELECT doc_id, doc_id % 16 AS seed
        FROM documents WHERE doc_id % 3 = 1
    ),
    seeds AS MATERIALIZED (SELECT DISTINCT seed FROM ids),
    px AS MATERIALIZED (
        SELECT seed, unnest(range(56)) AS p FROM seeds
    ),
    gray AS MATERIALIZED (
        SELECT seed, p,
               (((seed * 2654435761 + (3 * p) * 40503) % 256)
                + ((seed * 2654435761 + (3 * p + 1) * 40503) % 256)
                + ((seed * 2654435761 + (3 * p + 2) * 40503) % 256)) // 3
                   AS g
        FROM px
    ),
    tot AS MATERIALIZED (
        SELECT seed, CAST(sum(g) AS BIGINT) AS total FROM gray GROUP BY 1
    ),
    ah AS MATERIALIZED (
        SELECT g.seed,
               CAST(sum(CASE WHEN g.g * 56 > t.total
                             THEN (CAST(1 AS BIGINT) << g.p)
                             ELSE 0 END) AS BIGINT) AS ahash
        FROM gray g JOIN tot t ON g.seed = t.seed
        GROUP BY 1
    ),
    members AS (
        SELECT ah.ahash, i.doc_id
        FROM ids i JOIN ah ON ah.seed = i.seed
    )
    SELECT ahash,
           CAST(count(*) AS BIGINT) AS n_docs,
           array_to_string(list_sort(list(doc_id)), ',') AS member_ids
    FROM members GROUP BY ahash
    HAVING count(*) >= 2
    ORDER BY ahash
"""


@register(
    "image_ahash_dedup",
    _AHASH_ORACLE,
    "Image near-duplicate detection via the average perceptual hash: "
    "REAL 24-bpp BMP payloads (7x8, 3-byte row pad - the hard decode "
    "case) are decoded by the Arrow-batched mapInPandas codec, "
    "grayscaled with integer (r+g+b)//3, and fingerprinted one bit "
    "per pixel (set iff gray*n > total, the strict cross-multiplied "
    "mean - float-free, so the 56-bit hash is engine-exact). The "
    "decode runs once per DISTINCT image (content-addressed by "
    "seed), and the 16-row hash table broadcasts back onto the "
    "documents - the decode-dedup join every multimodal pipeline "
    "needs at 100 TB (never decode the same bytes twice; payload "
    "bytes never shuffle). Groups of docs sharing a perceptual hash "
    "are the near-dup classes, sorted member lists pinned by the "
    "analytic congruence oracle.",
    tags=("multimodal", "dedup", "llm-pipeline", "round4"),
)
def image_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import decode_bmp_ahash, synth_image_payloads

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 1)
        .select("doc_id", (F.col("doc_id") % 16).alias("seed"))
    )
    seeds = docs.select("seed").distinct().select(F.col("seed").alias("doc_id"))
    images = synth_image_payloads(seeds, width=7, height=8)
    ah = decode_bmp_ahash(images)
    joined = docs.join(F.broadcast(ah.select("seed", "ahash")), "seed")
    return (
        joined.groupBy("ahash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.array_join(
                F.array_sort(F.collect_list("doc_id")).cast("array<string>"),
                ",",
            ).alias("member_ids"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("ahash")
    )


# =====================================================================
# GROUPING SETS with an explicit grouping_id - the last uncovered
# multi-level aggregation shape (rollup/cube/pivot are certified).
# =====================================================================

_GSETS_ORACLE = """
    WITH j AS (
        SELECT n.n_name AS nation, c.c_mktsegment AS segment,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    SELECT CAST(grouping(nation) * 2 + grouping(segment) AS BIGINT) AS gid,
           coalesce(nation, 'ALL')  AS nation,
           coalesce(segment, 'ALL') AS segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM j
    GROUP BY GROUPING SETS ((nation, segment), (nation), (segment), ())
    ORDER BY gid, nation, segment
"""


@register(
    "grouping_sets_report",
    _GSETS_ORACLE,
    "Explicit GROUPING SETS ((nation, segment), (nation), (segment), "
    "()) with a portable grouping_id built as grouping(a)*2 + "
    "grouping(b) - the four aggregation levels computed in ONE "
    "shuffle (Spark expands the sets map-side, partials combine per "
    "level) instead of four scans + union, and the gid column "
    "disambiguates real NULL keys from subtotal rows (here aliased "
    "to 'ALL'). Completes the multi-level aggregation family next "
    "to the certified rollup/cube/pivot queries. Dims broadcast; "
    "the fact table is read once.",
    tags=("agg", "sql", "round4"),
)
def grouping_sets_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    j = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    return spark.sql(
        """
        SELECT CAST(grouping(nation) * 2 + grouping(segment) AS BIGINT) AS gid,
               coalesce(nation, 'ALL')  AS nation,
               coalesce(segment, 'ALL') AS segment,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS revenue_cents
        FROM {j}
        GROUP BY GROUPING SETS ((nation, segment), (nation), (segment), ())
        ORDER BY gid, nation, segment
        """,
        j=j,
    )


# =====================================================================
# Exact higher central moments: skewness and excess kurtosis from
# DECIMAL/HUGEINT power sums, one identical formula text both engines.
# =====================================================================

# The formula text is SHARED between engines (only the exact-integer
# power-sum CTE differs), so every IEEE operation runs in the same
# order on the same exactly-cast inputs.
_MOMENT_SUBS = dict(
    n="CAST(n AS DOUBLE)",
    s1="CAST(s1 AS DOUBLE)",
    s2="CAST(s2 AS DOUBLE)",
    s3="CAST(s3 AS DOUBLE)",
    s4="CAST(s4 AS DOUBLE)",
)
_MOMENT_EXPRS = [
    e.format(**_MOMENT_SUBS)
    for e in (
        "round({s1} / {n}, 6) AS mean_price",
        "round({s2} / {n} - ({s1} / {n}) * ({s1} / {n}), 6) AS variance",
        "round(({s3} / {n} - 3 * ({s1} / {n}) * ({s2} / {n})"
        " + 2 * ({s1} / {n}) * ({s1} / {n}) * ({s1} / {n}))"
        " / sqrt(({s2} / {n} - ({s1} / {n}) * ({s1} / {n}))"
        "      * ({s2} / {n} - ({s1} / {n}) * ({s1} / {n}))"
        "      * ({s2} / {n} - ({s1} / {n}) * ({s1} / {n}))), 6) AS skewness",
        "round(({s4} / {n} - 4 * ({s1} / {n}) * ({s3} / {n})"
        " + 6 * ({s1} / {n}) * ({s1} / {n}) * ({s2} / {n})"
        " - 3 * ({s1} / {n}) * ({s1} / {n}) * ({s1} / {n}) * ({s1} / {n}))"
        " / (({s2} / {n} - ({s1} / {n}) * ({s1} / {n}))"
        "  * ({s2} / {n} - ({s1} / {n}) * ({s1} / {n}))) - 3, 6)"
        " AS kurtosis_excess",
    )
]
_MOMENT_FORMULA = ", ".join(_MOMENT_EXPRS)

_MOMENTS_ORACLE = f"""
    WITH d AS (
        SELECT o_orderpriority AS priority,
               CAST(floor(o_totalprice) AS HUGEINT) AS v
        FROM orders
    ),
    sums AS MATERIALIZED (
        SELECT priority,
               CAST(count(*) AS BIGINT) AS n,
               sum(v)             AS s1,
               sum(v * v)         AS s2,
               sum(v * v * v)     AS s3,
               sum(v * v * v * v) AS s4
        FROM d GROUP BY 1
    )
    SELECT priority, n, {_MOMENT_FORMULA}
    FROM sums ORDER BY priority
"""


@register(
    "moment_stats_skew_kurtosis",
    _MOMENTS_ORACLE,
    "Population skewness and excess kurtosis per order priority from "
    "EXACT integer power sums: dollar values are summed to the 4th "
    "power in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) partials - "
    "associative, overflow-checked (6e5^4 * 1.5e8 rows ~ 2e31 << "
    "1e38, headroom to sf100k) - then the central-moment formulas "
    "run ONCE per group on doubles cast from those exact integers, "
    "with byte-identical formula text on both engines, so the 6dp "
    "rounding can never be layout- or engine-dependent. Completes "
    "the moment family above the certified mean/variance/correlation "
    "/regression aggregates. One partial-combined groupBy; the "
    "formula runs on 5 rows.",
    tags=("agg", "stats", "round4"),
)
def moment_stats_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    v = F.floor("o_totalprice").cast("decimal(38,0)")
    sums = (
        o.select(F.col("o_orderpriority").alias("priority"), v.alias("v"))
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v").alias("s1"),
            F.sum(F.col("v") * F.col("v")).alias("s2"),
            F.sum(F.col("v") * F.col("v") * F.col("v")).alias("s3"),
            F.sum(F.col("v") * F.col("v") * F.col("v") * F.col("v")).alias("s4"),
        )
    )
    return sums.selectExpr("priority", "n", *_MOMENT_EXPRS).orderBy("priority")


# =====================================================================
# Bitwise and boolean aggregates - the last uncovered aggregate
# function family.
# =====================================================================

_BITAGG_ORACLE = """
    SELECT o_orderpriority AS priority,
           CAST(bit_and(o_orderkey) AS BIGINT) AS key_bit_and,
           CAST(bit_or(o_orderkey)  AS BIGINT) AS key_bit_or,
           CAST(bit_xor(o_orderkey) AS BIGINT) AS key_bit_xor,
           bool_and(o_totalprice > 900)  AS all_above_900,
           bool_or(o_orderstatus = 'P')  AS any_pending
    FROM orders GROUP BY 1 ORDER BY 1
"""


@register(
    "bitwise_bool_aggregates",
    _BITAGG_ORACLE,
    "Bitwise AND/OR/XOR and boolean ALL/ANY aggregates per order "
    "priority - the aggregate-function family (bit_and/bit_or/"
    "bit_xor/bool_and/bool_or) not exercised by any other query; "
    "bit_xor is the workhorse of order-independent table checksums, "
    "bit_and/bit_or recover shared/possible flag masks. All five "
    "are partial-combinable (associative + commutative), so the "
    "plan is one map-side-combined groupBy, layout-independent by "
    "algebra (no rounding anywhere).",
    tags=("agg", "functions", "round4"),
)
def bitwise_bool_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.expr("bit_and(o_orderkey)").cast("bigint").alias("key_bit_and"),
            F.expr("bit_or(o_orderkey)").cast("bigint").alias("key_bit_or"),
            F.expr("bit_xor(o_orderkey)").cast("bigint").alias("key_bit_xor"),
            F.expr("bool_and(o_totalprice > 900)").alias("all_above_900"),
            F.expr("bool_or(o_orderstatus = 'P')").alias("any_pending"),
        )
        .orderBy("priority")
    )


# =====================================================================
# Positional-index phrase search: posting-list adjacency join, with an
# algorithmically INDEPENDENT per-document scan oracle.
# =====================================================================

_PHRASE_ORACLE = """
    -- Independent formulation on purpose: the engine answers the
    -- phrase query by JOINING the 'slow' and 'join' posting lists of
    -- a positional inverted index on (doc_id, pos+1 = pos); this
    -- oracle instead scans each document's token list directly and
    -- counts adjacent pairs. Same answer from two different
    -- algorithms is stronger evidence than a replay.
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(generate_series(1, len(ws) - 1),
                                i -> ws[i] = 'slow' AND ws[i + 1] = 'join'))
                AS BIGINT) AS n_occurrences
    FROM toks
    WHERE len(ws) >= 2
      AND len(list_filter(generate_series(1, len(ws) - 1),
                          i -> ws[i] = 'slow' AND ws[i + 1] = 'join')) > 0
    ORDER BY doc_id
"""


@register(
    "phrase_query_positional_index",
    _PHRASE_ORACLE,
    "Exact phrase search ('slow join') via POSITIONAL inverted-index "
    "intersection - the engine materializes per-term posting lists "
    "(doc_id, position) and equi-joins them on (doc_id, pos_b = "
    "pos_a + 1), the classic IR phrase algorithm: only the two "
    "queried terms' postings ever move, never the corpus. The "
    "oracle is deliberately a DIFFERENT algorithm (per-document "
    "adjacent-pair scan), so agreement validates the index "
    "construction itself rather than replaying it. Extends the "
    "inverted_index_postings capability from term lookup to "
    "position-aware phrase semantics. Scale: posting lists are "
    "term-selective (two map-side filters on the token explode); "
    "the adjacency join keys on doc_id - co-partitioned, "
    "match-bounded; per-doc counts partial-aggregate.",
    tags=("text", "analytics", "llm-pipeline", "round4"),
)
def phrase_query_positional_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.text import tokens

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(tokens("text")).alias("i", "tok"),
    ).select("doc_id", (F.col("i") + 1).alias("pos"), "tok")
    p1 = toks.filter(F.col("tok") == "slow").select("doc_id", "pos")
    p2 = toks.filter(F.col("tok") == "join").select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    return (
        p1.join(p2, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
        .orderBy("doc_id")
    )


# =====================================================================
# Dynamic partition pruning: the runtime analog of the static
# partition-pruned scan.
# =====================================================================

_DPP_ORACLE = """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders
    WHERE year(o_orderdate) % 2 = 1
    GROUP BY 1 ORDER BY 1
"""


@register(
    "dynamic_partition_pruning_join",
    _DPP_ORACLE,
    "DYNAMIC partition pruning - the runtime complement of "
    "partitioned_pruned_scan's static pruning: orders land in a "
    "Hive-partitioned layout by year, and the filter arrives only "
    "through a JOIN with a filtered dimension table (odd years), so "
    "no static predicate touches the fact scan. Spark broadcasts "
    "the dim, REUSES the broadcast result as a runtime IN-subquery "
    "partition filter (plan shows PartitionFilters: "
    "[dynamicpruning#...]), and never lists the even-year "
    "partitions - at 100 TB this halves the scan with zero query "
    "rewrite, exactly how star-schema date-dim filters prune fact "
    "tables. The oracle filters the unpartitioned original, so the "
    "hash match also proves the partitioned round-trip is lossless. "
    "tests/test_round4_session5.py asserts the dynamicpruning "
    "expression is present in the physical plan. Heuristic found "
    "while building: Spark's isLikelySelective() does NOT treat a "
    "bare boolean dim attribute as a pruning filter - the dim "
    "predicate must be a literal comparison (parity = 1 here) or "
    "the PartitionPruning rule never fires.",
    tags=("source", "layout", "pruning", "joins", "round4"),
)
def dynamic_partition_pruning_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    path = tmp_io("orders_by_year_dpp")
    dim_path = tmp_io("orders_year_dim_dpp")
    src = t(spark, sf_dir, "orders").withColumn(
        "o_year", F.year(F.col("o_orderdate"))
    )
    src.write.mode("overwrite").partitionBy("o_year").parquet(path)
    # The year dim is a real (parquet-backed) star-schema dimension;
    # its selective predicate is an integer literal comparison so the
    # PartitionPruning heuristic accepts it.
    (
        src.select("o_year")
        .distinct()
        .select("o_year", (F.col("o_year") % 2).alias("parity"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(dim_path)
    )
    fact = spark.read.parquet(path)
    dim = (
        spark.read.parquet(dim_path)
        .filter(F.col("parity") == 1)
        .select(F.col("o_year").alias("y"))
    )
    joined = fact.join(F.broadcast(dim), fact.o_year == F.col("y"))
    return (
        joined.groupBy(F.col("o_year").cast("bigint").alias("o_year"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("o_year")
    )


# =====================================================================
# Zipf slope of the token-frequency head: power-law corpus diagnostic.
# =====================================================================

_ZIPF_TOPK = 1000

_ZIPF_ORACLE = f"""
    -- OLS fit of ln(freq) ~ ln(rank) over the top-{_ZIPF_TOPK} tokens
    -- (the Zipf head; slope ~ -1 for natural corpora). Each ln is
    -- micro-rounded to BIGINT, the OLS moment sums accumulate in
    -- HUGEINT/DECIMAL (exact, associative), and the closed-form
    -- slope/intercept divide once at the end - same discipline as
    -- regression_aggregates.
    WITH tc AS MATERIALIZED (
        SELECT tok, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(list_filter(string_split(text, ' '),
                                        x -> x <> '')) AS tok
              FROM documents)
        GROUP BY tok
    ),
    ranked AS MATERIALIZED (
        SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r
        FROM tc QUALIFY r <= {_ZIPF_TOPK}
    ),
    pts AS MATERIALIZED (
        SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1e6) AS BIGINT) AS x,
               CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS y
        FROM ranked
    ),
    sums AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT)            AS sx,
               CAST(sum(y) AS BIGINT)            AS sy,
               CAST(sum(x::HUGEINT * y) AS DOUBLE) AS sxy,
               CAST(sum(x::HUGEINT * x) AS DOUBLE) AS sxx
        FROM pts
    )
    SELECT n,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 , 6) AS zipf_slope,
           round((CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * CAST(sx AS DOUBLE)) / (CAST(n AS DOUBLE) * 1e6), 6)
               AS zipf_intercept
    FROM sums
"""


@register(
    "zipf_slope_token_frequency",
    _ZIPF_ORACLE,
    "Zipf power-law diagnostic of the corpus: OLS slope of ln(freq) "
    "on ln(rank) over the top-1000 token head (natural text sits "
    "near -1; synthetic/templated corpora flatten - a standard "
    "pretraining-data health check next to vocab_growth_curve). "
    "Rank extraction is TakeOrderedAndProject (top-k, never a "
    "global sort of the vocabulary); each ln is micro-rounded to "
    "BIGINT; the OLS moment sums are exact DECIMAL/HUGEINT "
    "partials; slope and intercept divide once in identical "
    "formula text (regression_aggregates discipline, so the 6dp "
    "round is layout-independent). One token-count shuffle + a "
    "1000-row window.",
    tags=("text", "stats", "llm-pipeline", "round4"),
)
def zipf_slope_token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.text import tokens

    docs = t(spark, sf_dir, "documents")
    tc = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    topk = tc.orderBy(F.desc("c"), "tok").limit(_ZIPF_TOPK)
    ranked = topk.select(
        "c", F.row_number().over(W.orderBy(F.desc("c"), "tok")).alias("r")
    )
    pts = ranked.select(
        F.round(F.log(F.col("r").cast("double")) * 1e6).cast("bigint").alias("x"),
        F.round(F.log(F.col("c").cast("double")) * 1e6).cast("bigint").alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x").cast("decimal(38,0)"))
        .cast("double")
        .alias("sxx"),
    )
    slope = (
        "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    return sums.selectExpr(
        "n",
        f"round({slope}, 6) AS zipf_slope",
        f"round((CAST(sy AS DOUBLE) - {slope} * CAST(sx AS DOUBLE)) "
        "/ (CAST(n AS DOUBLE) * 1e6), 6) AS zipf_intercept",
    )
