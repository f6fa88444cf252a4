"""Round-6 session-2 additions — two gap-closing cells found by a
matrix audit of the existing surface:

- ``wordpiece_maxmatch_tokenize``: greedy longest-match (MaxMatch)
  segmentation against the trained WordPiece vocabulary — the ENCODE
  side wordpiece_merge_training was missing (BPE already has its
  train/apply pair: bpe_merge_training / bpe_tokenize_apply). This is
  the algorithmically distinct inference rule real WordPiece uses:
  leftmost-longest vocabulary match, NOT merge-rank replay.
- ``delta_vacuum_roundtrip``: VACUUM on the pure-Python Delta
  protocol — the storage-reclaim half of table maintenance next to
  the certified OPTIMIZE (delta_compaction_roundtrip), with the
  documented history-loss consequence proven in-band.

Registration ORDER is part of the driver contract - segments are
imported by the facade in fixed sequence; do not reorder.
"""

from __future__ import annotations

import os

from ._core import DataFrame, F, SparkSession, register, t
from ..scratch import tmp_io
from ._q17_round6 import _wordpiece_oracle_parts, wordpiece_merge_training


# =====================================================================
# WordPiece MaxMatch tokenization (the encode side of
# wordpiece_merge_training) — greedy leftmost-longest vocabulary match
# =====================================================================


def _maxmatch_oracle(n_merges: int = 4) -> str:
    """Reuse the n training-stage CTEs of the WordPiece oracle (so
    the vocabulary is provably the trained one), then segment every
    sampled document with MaxMatch: a plain CTE precomputes the
    longest unit matching at every (doc, position) and a recursive
    CTE walks pos -> pos + match_len until the document is consumed.
    All integers and list equality — hash-exact by construction.
    Composes the stage-CTE piece of ``_wordpiece_oracle_parts``
    structurally (ADVICE r6: no more rindex surgery on generated
    SQL text)."""
    ctes, _merge_table_select = _wordpiece_oracle_parts(n_merges)
    stages = ctes.replace("WITH t0", "WITH RECURSIVE t0", 1)
    unit_rows = "\n        UNION ALL ".join(
        f"SELECT {i + 1} AS merge_order, w1, w2 FROM m{i}"
        for i in range(n_merges)
    )
    return (
        stages
        + f""",
    units AS MATERIALIZED (
        SELECT string_split(replace(w1 || '@@' || w2, '@@', ' '), ' ') AS u
        FROM ({unit_rows})
    ),
    docs AS MATERIALIZED (
        SELECT doc_id, string_split(text, ' ') AS ws,
               len(string_split(text, ' ')) AS n
        FROM t0 WHERE doc_id % 5 = 0
    ),
    matchlen AS MATERIALIZED (
        SELECT doc_id, pos,
               max(CASE WHEN ws[pos : pos + len(u) - 1] = u
                        THEN len(u) ELSE 1 END) AS ml
        FROM (SELECT doc_id, ws, unnest(generate_series(1, n)) AS pos
              FROM docs)
        CROSS JOIN units
        GROUP BY 1, 2
    ),
    walk AS (
        SELECT doc_id, n, 1 AS pos, 0 AS n_pieces, 0 AS n_merged
        FROM docs
        UNION ALL
        SELECT w.doc_id, w.n, w.pos + m.ml, w.n_pieces + 1,
               w.n_merged + CASE WHEN m.ml > 1 THEN 1 ELSE 0 END
        FROM walk w JOIN matchlen m
          ON m.doc_id = w.doc_id AND m.pos = w.pos
        WHERE w.pos <= w.n
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tok_raw,
           CAST(n_pieces AS BIGINT) AS n_tok_maxmatch,
           CAST(n_merged AS BIGINT) AS n_multiword_pieces
    FROM walk
    WHERE pos = n + 1
    ORDER BY doc_id"""
    )


@register(
    "wordpiece_maxmatch_tokenize",
    _maxmatch_oracle(4),
    "WordPiece MaxMatch tokenization — the ENCODE side of "
    "wordpiece_merge_training, completing the tokenizer train/apply "
    "matrix (BPE already has both cells). MaxMatch is the "
    "algorithmically distinct inference rule real WordPiece uses: at "
    "each position take the LONGEST vocabulary unit that matches, "
    "else emit a single token and advance one — leftmost-longest, "
    "not BPE's merge-rank replay (the two genuinely differ on "
    "overlapping candidates). The trained units are 4 driver-side "
    "rows folded into a when-chain of array-slice equality literals "
    "ordered longest-first, and the per-document walk is ONE "
    "aggregate() fold over sequence(1, n) carrying (pos, n_pieces, "
    "n_merged) — each step either consumes a unit or one token, so n "
    "iterations always suffice and the no-op guard makes overshoot "
    "harmless. The oracle reuses the training oracle's stage CTEs "
    "verbatim (the vocabulary is provably the trained one) and walks "
    "the identical greedy rule with a recursive CTE over a "
    "precomputed (doc, pos) -> longest-match table; every emitted "
    "column is an exact integer. Scale: inference is a broadcast "
    "vocab (here: plan literals) + per-row O(n x |V|) string work, "
    "zero shuffles, zero joins — the right 100 TB tokenization shape "
    "(the training loop owns the aggregations).",
    tags=("text", "llm-pipeline", "functions", "round6"),
)
def wordpiece_maxmatch_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = wordpiece_merge_training(spark, sf_dir).collect()
    units = [
        (m.w1 + "@@" + m.w2).replace("@@", " ").split(" ")
        for m in sorted(merges, key=lambda r: r.merge_order)
    ]
    # Longest-first so the when-chain's first hit IS the MaxMatch
    # choice; equal-length units matching the same slice are
    # necessarily the same word list, so intra-length order is moot.
    units.sort(key=lambda u: (-len(u), u))

    ws = F.col("ws")
    n = F.size(ws)

    def advance(st):
        pos = st.getField("pos")
        adv = None
        for u in units:
            cond = F.slice(ws, pos, len(u)) == F.array(
                *[F.lit(x) for x in u]
            )
            adv = (
                F.when(cond, F.lit(len(u)))
                if adv is None
                else adv.when(cond, F.lit(len(u)))
            )
        return adv.otherwise(F.lit(1)) if adv is not None else F.lit(1)

    def step(st, _):
        adv = advance(st)
        return F.when(st.getField("pos") > n, st).otherwise(
            F.struct(
                (st.getField("pos") + adv).alias("pos"),
                (st.getField("n_pieces") + F.lit(1)).alias("n_pieces"),
                (
                    st.getField("n_merged")
                    + F.when(adv > 1, F.lit(1)).otherwise(F.lit(0))
                ).alias("n_merged"),
            )
        )

    state0 = F.struct(
        F.lit(1).alias("pos"),
        F.lit(0).alias("n_pieces"),
        F.lit(0).alias("n_merged"),
    )
    seg = F.aggregate(F.sequence(F.lit(1), F.greatest(n, F.lit(1))), state0, step)
    # Materialize the O(n x |V|) fold ONCE per row: project it as a
    # struct column and expand fields in a separate select. Catalyst's
    # CollapseProject refuses to inline a non-cheap alias referenced
    # more than once, so the split is a real let-binding — a single
    # projection referencing seg twice could run the fold twice per
    # row under a CSE-blind plan (ADVICE r6; same recomputation trap
    # cdc_boundaries avoids with its higher-order let).
    from ..operators.text import widen_to_parallelism

    return (
        # The documents scan is ONE split at fixture scale and the
        # MaxMatch fold is interpreted O(n x |V|) per-row CPU — widen
        # before the fold so it runs on every core (guide §2.5; same
        # fix as the shingle tier; identity on any multi-split scan).
        widen_to_parallelism(
            t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 5 == 0)
            .select("doc_id", F.split("text", " ").alias("ws"))
        )
        .select("doc_id", n.cast("bigint").alias("n_tok_raw"), seg.alias("seg"))
        .select(
            "doc_id",
            "n_tok_raw",
            F.col("seg.n_pieces").cast("bigint").alias("n_tok_maxmatch"),
            F.col("seg.n_merged").cast("bigint").alias("n_multiword_pieces"),
        )
        .orderBy("doc_id")
    )


# =====================================================================
# Delta VACUUM — storage reclaim, the complement of OPTIMIZE
# =====================================================================

_DELTA_VACUUM_ORACLE = """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           TRUE AS orphans_reclaimed,
           TRUE AS pre_version_files_gone
    FROM orders WHERE o_orderkey % 3 = 1
    GROUP BY 1 ORDER BY 1
"""


@register(
    "delta_vacuum_roundtrip",
    _DELTA_VACUUM_ORACLE,
    "VACUUM on the Delta transaction log (sources/delta_py.vacuum) — "
    "the storage-reclaim half of table maintenance next to the "
    "certified OPTIMIZE (delta_compaction_roundtrip): four small "
    "appends fragment the table, a compaction commit swaps in one "
    "consolidated file (leaving the fragments on disk, referenced "
    "only by history), then retention-zero VACUUM physically deletes "
    "every file the current snapshot does not reference. The readout "
    "aggregates the POST-vacuum snapshot (must hash-match the "
    "oracle's direct aggregate — reclaim may not touch live data) "
    "plus two proven booleans: the on-disk parquet count dropped to "
    "exactly the live-file count with the deleted tally reconciling "
    "the difference, and the pre-compaction version is no longer "
    "fully materialized on disk — the documented VACUUM trade "
    "(history for storage; OPTIMIZE alone never deletes, so time "
    "travel kept working in the compaction query and must stop "
    "working here). At 100 TB this is the scheduled reclaim pass "
    "that bounds storage growth under compaction + overwrite churn.",
    tags=("sink", "source", "round6"),
)
def delta_vacuum_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import delta_py as D

    path = tmp_io("delta_vacuum")
    base = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    # four fragmented appends (disjoint key slices cover % 3 == 1)
    for rem in range(4):
        D.commit_append(path, base.filter(F.col("o_orderkey") % 4 == rem))
    pre_version = D.table_versions(path)[-1]
    pre_files = D.snapshot_files(path, pre_version)

    D.commit_compaction(spark, path, target_files=1)

    def on_disk() -> int:
        return sum(
            1
            for f in os.listdir(path)
            if f.endswith(".parquet") and os.path.isfile(os.path.join(path, f))
        )

    disk_before = on_disk()
    deleted = D.vacuum(path)
    disk_after = on_disk()
    live_after = len(D.snapshot_files(path))

    orphans_reclaimed = (
        disk_after == live_after
        and deleted == disk_before - disk_after
        and deleted > 0
    )
    # `not any`: EVERY pre-compaction file must be physically gone —
    # the stronger claim the docstring/CHANGELOG make and the unit
    # test asserts (ADVICE r6; `not all` only proved one was gone).
    pre_version_files_gone = not any(os.path.exists(p) for p in pre_files)

    return (
        D.read_delta(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
        .select(
            "o_orderstatus",
            "n_orders",
            "total_cents",
            F.lit(orphans_reclaimed).alias("orphans_reclaimed"),
            F.lit(pre_version_files_gone).alias("pre_version_files_gone"),
        )
        .orderBy("o_orderstatus")
    )


# =====================================================================
# Content-defined chunking — Rabin-style rolling-hash boundaries
# =====================================================================

_CDC_ORACLE = """
    WITH b AS (
        SELECT doc_id,
               len(string_split(text, '')) AS n,
               list_filter(
                   generate_series(8, len(string_split(text, '')) - 1),
                   i -> list_reduce(
                            list_transform(
                                string_split(text, '')[i - 7 : i],
                                c -> CAST(ascii(c) AS BIGINT)),
                            (a, c) -> (a * 257 + c) % 1000003) % 32 = 0
               ) AS bnd
        FROM documents WHERE len(text) > 0
    ), c AS (
        SELECT doc_id, n, bnd,
               list_prepend(0, list_append(bnd, n)) AS bl
        FROM b
    ), l AS (
        SELECT doc_id, n, bnd,
               list_transform(generate_series(1, len(bl) - 1),
                              k -> bl[k + 1] - bl[k]) AS lens
        FROM c
    )
    SELECT doc_id,
           CAST(n AS BIGINT)                    AS n_chars_cdc,
           CAST(len(bnd) + 1 AS BIGINT)         AS n_chunks,
           CAST(coalesce(bnd[1], 0) AS BIGINT)  AS first_boundary,
           CAST(list_min(lens) AS BIGINT)       AS min_chunk,
           CAST(list_max(lens) AS BIGINT)       AS max_chunk,
           CAST(100 * n // (len(bnd) + 1) AS BIGINT) AS mean_chunk_x100
    FROM l ORDER BY doc_id
"""


@register(
    "content_defined_chunking",
    _CDC_ORACLE,
    "Content-defined chunking (Rabin-style): boundary after char i "
    "wherever the 8-char polynomial rolling hash (base 257, modulus "
    "1000003) is divisible by 32 — expected chunk ~32 chars. The "
    "property fixed-offset chunking lacks: a boundary depends only "
    "on an 8-char local context, so an insertion re-chunks ONLY its "
    "own chunk and every downstream chunk hash survives (locality "
    "pinned by test; this is the boundary rule storage dedup and "
    "long-document near-dup pipelines hang chunk-level dedup on — "
    "the front-end shape for chunk_dedup_rewrite). Per-doc readout "
    "is exact integers: chunk count, first boundary, min/max chunk "
    "length and the 1e-2-grid mean via exact integer division. Both "
    "engines run the IDENTICAL integer recurrence ((a*257+c) mod "
    "1000003) over the same char codes — no floats anywhere. Scale: "
    "the scan runs the Arrow-batched numpy kernel (cdc_chunk_stats — "
    "the trailing-window hash is a sliding dot product, so the whole "
    "per-doc scan is 8 vectorized multiply-adds at C speed instead "
    "of ~6 interpreted HOF ops/char; VERDICT r6 item 4), zero "
    "shuffles, zero driver traffic, embarrassingly parallel at "
    "100 TB. The native-HOF twin (cdc_boundaries) stays the "
    "oracle-checked reference; kernel == HOF equality is pinned by "
    "test.",
    tags=("text", "llm-pipeline", "dedup", "round6"),
)
def content_defined_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textprep import cdc_chunk_stats

    return cdc_chunk_stats(
        t(spark, sf_dir, "documents"),
        text_col="text", id_col="doc_id",
        window=8, base=257, modulus=1_000_003, divisor=32,
    ).orderBy("doc_id")


def content_defined_chunking_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native-HOF twin of ``content_defined_chunking`` — the original
    zero-UDF Catalyst formulation, kept as the oracle-checked
    reference for the Arrow kernel (tests pin kernel == HOF exact
    equality; not separately registered)."""
    from ..operators.textprep import cdc_boundaries

    d = (
        t(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select(
            "doc_id",
            F.length("text").alias("n"),
            cdc_boundaries("text", window=8, base=257,
                           modulus=1_000_003, divisor=32).alias("bnd"),
        )
    )
    bl = F.concat(F.array(F.lit(0)), F.col("bnd"), F.array(F.col("n")))
    d = d.select("doc_id", "n", "bnd", bl.alias("bl"))
    m = F.size("bl")
    lens = F.zip_with(
        F.slice("bl", 1, m - 1), F.slice(F.col("bl"), 2, m - 1),
        lambda a, b: b - a,
    )
    d = d.select("doc_id", "n", "bnd", lens.alias("lens"))
    nc = F.size("bnd") + 1
    return d.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_chars_cdc"),
        nc.cast("bigint").alias("n_chunks"),
        F.coalesce(F.try_element_at("bnd", F.lit(1)), F.lit(0))
        .cast("bigint")
        .alias("first_boundary"),
        F.array_min("lens").cast("bigint").alias("min_chunk"),
        F.array_max("lens").cast("bigint").alias("max_chunk"),
        F.floor((100 * F.col("n")) / nc).cast("bigint").alias("mean_chunk_x100"),
    ).orderBy("doc_id")


# =====================================================================
# Unigram-LM (SentencePiece-style) Viterbi segmentation scoring —
# the third tokenizer-vocabulary algorithm next to BPE and WordPiece
# =====================================================================

_UNIGRAM_ORACLE = """
    WITH RECURSIVE words AS MATERIALIZED (
        SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt,
               len(w) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY 1
    ),
    spans AS MATERIALIZED (  -- every (word, end-pos, piece-len) cell
        SELECT word, cnt, n, i, L,
               substring(word, i - L + 1, L) AS piece
        FROM (SELECT word, cnt, n, unnest(generate_series(1, n)) AS i
              FROM words)
        CROSS JOIN (SELECT unnest([1, 2, 3]) AS L)
        WHERE i >= L
    ),
    vocab AS MATERIALIZED (  -- corpus-weighted substring counts
        SELECT piece, CAST(sum(cnt) AS BIGINT) AS pc
        FROM spans GROUP BY 1
    ),
    tot AS MATERIALIZED (
        SELECT CAST(sum(pc) AS BIGINT) AS total FROM vocab
    ),
    wpp AS MATERIALIZED (  -- per (word, i): piece prob by length
        SELECT s.word, s.i,
               max(CASE WHEN s.L = 1
                        THEN CAST(v.pc AS DOUBLE) / CAST(t.total AS DOUBLE)
                   END) AS p1,
               coalesce(max(CASE WHEN s.L = 2
                        THEN CAST(v.pc AS DOUBLE) / CAST(t.total AS DOUBLE)
                   END), 0.0) AS p2,
               coalesce(max(CASE WHEN s.L = 3
                        THEN CAST(v.pc AS DOUBLE) / CAST(t.total AS DOUBLE)
                   END), 0.0) AS p3
        FROM spans s JOIN vocab v ON v.piece = s.piece
        CROSS JOIN tot t
        GROUP BY 1, 2
    ),
    walk AS (  -- Viterbi: best_i = max_L best_{i-L} * p(piece ending at i)
        SELECT word, n, 0 AS i,
               CAST(0.0 AS DOUBLE) AS b2, CAST(0.0 AS DOUBLE) AS b1,
               CAST(1.0 AS DOUBLE) AS b0
        FROM words
        UNION ALL
        SELECT w.word, w.n, w.i + 1, w.b1, w.b0,
               greatest(
                   w.b0 * q.p1,
                   CASE WHEN w.i + 1 >= 2 THEN w.b1 * q.p2 ELSE 0.0 END,
                   CASE WHEN w.i + 1 >= 3 THEN w.b2 * q.p3 ELSE 0.0 END)
        FROM walk w JOIN wpp q ON q.word = w.word AND q.i = w.i + 1
        WHERE w.i < w.n
    ),
    singles AS MATERIALIZED (  -- all-single-char baseline, ascending order
        SELECT word,
               list_reduce(list_prepend(1.0, list(p1 ORDER BY i)),
                           (a, b) -> a * b) AS s_score
        FROM wpp GROUP BY 1
    )
    SELECT k.word,
           CAST(k.n AS BIGINT) AS n_chars,
           w2.cnt AS corpus_count,
           k.b0 AS viterbi_score,
           s.s_score AS singles_score,
           k.b0 / s.s_score AS seg_gain
    FROM walk k
    JOIN words w2 ON w2.word = k.word
    JOIN singles s ON s.word = k.word
    WHERE k.i = k.n
    ORDER BY k.word
"""


@register(
    "unigram_lm_viterbi_score",
    _UNIGRAM_ORACLE,
    "Unigram-LM (SentencePiece-style) segmentation scoring — the "
    "THIRD tokenizer-vocabulary algorithm next to bpe_merge_training "
    "and wordpiece_merge_training: a seed vocabulary of every "
    "substring of length 1-3 with corpus-weighted counts (the "
    "standard unigram seeding), piece probabilities pc/total, and "
    "per-word Viterbi DP best_i = max_L best_(i-L) * p(piece ending "
    "at i) — the E-step of unigram hard-EM. The readout is the "
    "Viterbi likelihood per DISTINCT word plus the all-singles "
    "baseline and their ratio (>= 1 by construction, = the gain "
    "multi-char pieces buy). Scores are emitted as RAW doubles and "
    "still hash-exact: every probability is one IEEE division of "
    "exact integers, every DP candidate the same multiplication "
    "tree, and max/greatest is order-free — unlike argmax PATHS "
    "(piece counts), which tie-break differently across engines and "
    "are deliberately not emitted. Scale: the DP runs once per "
    "DISTINCT word (the 100 TB shape — segment the vocabulary, "
    "broadcast-join the corpus), pieces flow through one equi-join + "
    "map_from_entries, and the fold is O(n) per word with a "
    "3-candidate max per step; no driver collect anywhere.",
    tags=("text", "llm-pipeline", "round6"),
)
def unigram_lm_viterbi_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .withColumn("n", F.length("word"))
    )
    # every (word, end-pos i, piece-len L) cell with its piece string
    spans = (
        words.select(
            "word", "cnt", "n",
            F.explode(F.sequence(F.lit(1), F.col("n"))).alias("i"),
        )
        .select(
            "word", "cnt", "n", "i",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("L"),
        )
        .filter(F.col("i") >= F.col("L"))
        .withColumn(
            "piece",
            F.substr("word", F.col("i") - F.col("L") + 1, F.col("L")),
        )
    )
    vocab = spans.groupBy("piece").agg(F.sum("cnt").cast("bigint").alias("pc"))
    tot = vocab.agg(F.sum("pc").cast("bigint").alias("total"))
    wpp = (
        spans.join(F.broadcast(vocab), "piece")
        .join(F.broadcast(tot))
        .withColumn(
            "p", F.col("pc").cast("double") / F.col("total").cast("double")
        )
        .groupBy("word", "i")
        .agg(
            F.max(F.when(F.col("L") == 1, F.col("p"))).alias("p1"),
            F.coalesce(
                F.max(F.when(F.col("L") == 2, F.col("p"))), F.lit(0.0)
            ).alias("p2"),
            F.coalesce(
                F.max(F.when(F.col("L") == 3, F.col("p"))), F.lit(0.0)
            ).alias("p3"),
        )
    )
    # per-word prob table: i -> (p1, p2, p3), ascending positions
    per_word = wpp.groupBy("word").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.struct("i", F.struct("p1", "p2", "p3").alias("ps"))
                )
            )
        ).alias("probs")
    )
    d = words.join(per_word, "word")

    probs = F.col("probs")
    n = F.col("n")

    def step(acc, i):
        at = lambda j: F.element_at(acc, j)  # noqa: E731
        ps = F.element_at(probs, i)
        c1 = at(i) * ps.getField("p1")
        c2 = F.when(
            i >= 2, at(i - 1) * ps.getField("p2")
        ).otherwise(F.lit(0.0))
        c3 = F.when(
            i >= 3, at(i - 2) * ps.getField("p3")
        ).otherwise(F.lit(0.0))
        return F.array_append(acc, F.greatest(c1, c2, c3))

    best = F.aggregate(
        F.sequence(F.lit(1), n),
        F.array(F.lit(1.0).cast("double")),
        step,
    )
    singles = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(1.0).cast("double"),
        lambda a, i: a * F.element_at(probs, i).getField("p1"),
    )
    v = F.element_at(best, n + 1)
    return d.select(
        "word",
        n.cast("bigint").alias("n_chars"),
        F.col("cnt").alias("corpus_count"),
        v.alias("viterbi_score"),
        singles.alias("singles_score"),
        (v / singles).alias("seg_gain"),
    ).orderBy("word")
