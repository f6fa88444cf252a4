"""Text-analysis operators (SURVEY.md §2.C; charter BASELINE.json:6).

All hot-path expressions are native ``pyspark.sql.functions`` (JVM,
whole-stage codegen) — no Python UDFs. Token arrays come from
``split`` + ``filter`` so empty trailing tokens don't pollute counts.

Designed for 100 TB: every operator is a per-row projection (no
shuffle); fingerprints/shingles that feed joins are computed map-side
so the only exchange is the downstream groupBy/join on the hash key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny English function-word list for the language-ID heuristic.
#: Deliberately small and hard-coded: language ID at scale is a
#: per-row lookup against a broadcast set, and the oracle needs the
#: same list verbatim (see registry lang_id query).
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that", "for", "it"]


def widen_to_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition a narrow scan up to the session's core
    count before a CPU-heavy map-side pass (shingling, signatures,
    per-token hashing).

    A fixture-scale corpus arrives as ONE parquet split (< 128 MB
    ``maxPartitionBytes``), so every downstream tokenize/shingle/hash
    projection would run on a single core — measured r9: the sf0.1
    shingle pass is ~1.1 s single-threaded, ~0.25 s widened (guide
    §2.5: input skew from a too-few-splits read — repartition
    immediately after the read). Scale-adaptive, not a local-mode
    constant: when the scan already has >= defaultParallelism
    partitions (any real table at scale), this is the identity and no
    shuffle is introduced; at the driver's reduced-core bench run it
    scales down with the core count. Results are partition-layout
    independent for every caller (per-row projections feeding
    exact-integer joins/groupBys), verified via the three-layout
    verify_exact protocol.
    """
    sc = df.sparkSession.sparkContext
    dp = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= dp:
        return df
    return df.repartition(dp)


def tokens(col: Column | str, delimiter: str = " ") -> Column:
    """Whitespace tokens with empties removed (split keeps trailing
    empties on both Spark and DuckDB — filter them symmetrically)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, delimiter), lambda x: x != F.lit(""))


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("long")


def regex_token_count(col: Column | str, pattern: str = "[a-z0-9]+") -> Column:
    """BPE-ish token proxy: count of maximal lowercase alnum runs."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(F.lower(c), F.lit(pattern)).cast("long")


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    toks = tokens(col)
    sw = F.array(*[F.lit(w) for w in (stopwords or EN_STOPWORDS)])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(sw, F.lower(x))))
    return (n_stop / F.greatest(F.size(toks), F.lit(1))).cast("double")


def avg_token_length(col: Column | str) -> Column:
    toks = tokens(col)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    return (total / F.greatest(F.size(toks), F.lit(1))).cast("double")


def quality_score(col: Column | str) -> Column:
    """Cheap document-quality heuristic: mid-length docs with a healthy
    stopword ratio score high. Deterministic, SQL-expressible."""
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c)
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    sw = stopword_ratio(c)
    return F.round(0.5 * len_score + 0.5 * F.least(sw * 5, F.lit(1.0)), 4)


def lang_id(col: Column | str, threshold: float = 0.05) -> Column:
    """N-gram/function-word language-ID heuristic: classify as English
    when the English function-word ratio clears the threshold."""
    return F.when(stopword_ratio(col) >= threshold, F.lit("en")).otherwise(
        F.lit("unknown")
    )


def content_fingerprint(col: Column | str) -> Column:
    """Whole-document fingerprint: sha256 prefix (16 hex chars).

    Collision odds at 64 bits are ~n²/2⁶⁵ — fine for 10¹¹-row dedup.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(F.sha2(c, 256), 1, 16)


def shingles(col: Column | str, k: int = 5) -> Column:
    """Word k-shingles as an array<string> (distinct), computed natively
    as a zip_with chain over k-1 shifted copies of the token array:
    ``acc_i = toks[i] · toks[i+1] · … · toks[i+k-1]``, null-padded
    entries (incomplete trailing windows) filtered out. A document with
    no tokens yields an EMPTY array (not ``[""]``), so downstream
    ``size(...) > 0`` guards genuinely exclude empty documents; a doc
    with 0 < n < k tokens yields one shingle of all its tokens.

    Why zip_with and not transform-over-indexes: higher-order functions
    evaluate interpreted (no codegen), and an outer expression captured
    INSIDE the lambda — ``slice(tokens(text), i, k)`` — re-runs the
    whole split+filter tokenization once per index, turning an O(n)
    projection into O(n²) interpreted work (measured 27 ms/doc on
    300-char docs; the zip_with chain, whose token arrays are direct
    arguments evaluated once per row, is 4.3× faster at sf0.1 and
    verified element-identical on the full corpus)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n = F.size(toks)
    acc = toks
    for j in range(1, k):
        acc = F.zip_with(
            acc,
            F.slice(toks, j + 1, F.greatest(n - j, F.lit(1))),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    full = F.filter(acc, lambda x: x.isNotNull())
    return (
        F.when(n >= k, F.array_distinct(full))
        .when(n > 0, F.array(F.array_join(toks, " ")))
        .otherwise(F.array().cast("array<string>"))
    )


def min_shingle_fingerprint(col: Column | str, k: int = 5) -> Column:
    """Rolling-window fingerprint: min over sha256 of word k-shingles —
    a 1-permutation MinHash, engine-portable because it uses sha256
    rather than murmur. Docs sharing it are near-dup candidates."""
    return F.array_min(
        F.transform(shingles(col, k), lambda s: F.substring(F.sha2(s, 256), 1, 16))
    )


def pair_counts(toks: DataFrame) -> DataFrame:
    """(w1, w2, cnt): counts of every adjacent token pair over the
    ``ws`` token-array column of ``toks`` — one slice+zip explode and a
    partial-combined groupBy. The count phase of merge-rule training."""
    n = F.size("ws")
    return (
        toks.filter(n >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("ws"), 1, n - 1),
                    F.slice(F.col("ws"), 2, n - 1),
                )
            ).alias("bg")
        )
        .groupBy(F.col("bg.0").alias("w1"), F.col("bg.1").alias("w2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def merge_pair(enc: Column, w1: str, w2: str) -> Column:
    """``enc`` (single-space separated tokens) with every adjacent pair
    (w1, w2) merged into ``w1@@w2``, greedily left to right: a run
    ``a a a`` with pair (a, a) becomes ``a@@a a``.

    The double-space trick: doubling the separators and padding both
    ends gives every token its own delimiters, so one non-overlapping
    left-to-right ``replace`` merges greedily without consuming a
    neighbour's boundary; single spacing is restored after. ``replace``
    has the same semantics in DuckDB, so the oracles' SQL chain is the
    same function."""
    padded = F.concat(F.lit(" "), F.replace(enc, F.lit(" "), F.lit("  ")), F.lit(" "))
    merged = F.replace(padded, F.lit(f" {w1}  {w2} "), F.lit(f" {w1}@@{w2} "))
    return F.trim(F.replace(merged, F.lit("  "), F.lit(" ")))
