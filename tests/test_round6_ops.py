"""Round-6 additions: LIMIT/OFFSET pagination, WITHIN GROUP
ordered-set aggregates, GROUP BY ALL / ORDER BY ALL."""

from __future__ import annotations

from pyspark.sql import functions as F

from loan_default_prediction_app_big_data_spark.plans.registry import REGISTRY
from loan_default_prediction_app_big_data_spark.plans._core import t


def _run(spark, name, sf):
    return REGISTRY[name].fn(spark, sf)


# ---------------------------------------------------------------------
# limit_offset_pagination
# ---------------------------------------------------------------------


def test_pagination_is_rows_41_to_60_of_the_total_order(spark, sf_dir):
    page = _run(spark, "limit_offset_pagination", sf_dir).collect()
    assert len(page) == 20
    full = (
        t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .limit(60)
        .collect()
    )
    assert page == full[40:60]


def test_pagination_plans_as_take_ordered_with_offset(spark, sf_dir):
    """The docstring's scale claim: no global sort, a single
    TakeOrderedAndProject with the offset folded in, and a
    column-pruned scan."""
    df = _run(spark, "limit_offset_pagination", sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject(limit=60, offset=40" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


# ---------------------------------------------------------------------
# percentile_within_group
# ---------------------------------------------------------------------


def test_within_group_percentiles_match_order_statistics(spark, sf_dir):
    rows = {
        r["o_orderpriority"]: r
        for r in _run(spark, "percentile_within_group", sf_dir).collect()
    }
    cents = (
        t(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
        )
        .collect()
    )
    by_prio: dict[str, list[int]] = {}
    for r in cents:
        by_prio.setdefault(r["o_orderpriority"], []).append(r["c"])
    assert set(by_prio) == set(rows)
    for prio, vals in by_prio.items():
        vals.sort()
        n = len(vals)
        r = rows[prio]
        assert r["n_orders"] == n
        # percentile_disc(0.5): smallest value with cume_dist >= 0.5
        import math

        assert r["median_disc_cents"] == vals[math.ceil(0.5 * n) - 1]
        # percentile_cont(0.25): linear interpolation at rank 1+(n-1)/4,
        # emitted as exact integer quarter-cents
        pos = (n - 1) * 0.25
        lo, hi = vals[int(pos)], vals[min(int(pos) + 1, n - 1)]
        frac4 = int(round((pos - int(pos)) * 4))  # 0..3, exact
        assert r["q1_cont_quarter_cents"] == 4 * lo + frac4 * (hi - lo)


# ---------------------------------------------------------------------
# group_by_all_shorthand
# ---------------------------------------------------------------------


def test_group_by_all_equals_explicit_grouping(spark, sf_dir):
    got = _run(spark, "group_by_all_shorthand", sf_dir).collect()
    explicit = (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("o_orderstatus", "o_orderpriority", "n_orders", "revenue_cents")
        .collect()
    )
    assert got == explicit


# ---------------------------------------------------------------------
# fuzzy_decontamination
# ---------------------------------------------------------------------


def test_fuzzy_decontamination_equals_bruteforce(spark, sf_dir):
    """The asymmetric PPJoin's prefix filter is lossless: its output
    must EQUAL the brute-force cross-pair Jaccard join."""
    from loan_default_prediction_app_big_data_spark.operators.text import shingles

    got = sorted(
        (r["id_a"], r["id_b"], r["n_inter"], r["n_union"])
        for r in _run(spark, "fuzzy_decontamination", sf_dir).collect()
    )
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", shingles("text", 3).alias("sh")
    ).filter(F.size("sh") > 0)
    bench = docs.filter(F.col("doc_id") % 11 == 0).collect()
    train = docs.filter(F.col("doc_id") % 11 != 0).collect()
    want = []
    for a in train:
        sa = set(a["sh"])
        for b in bench:
            sb = set(b["sh"])
            ni = len(sa & sb)
            nu = len(sa | sb)
            if 10 * ni >= 5 * nu:
                want.append((a["doc_id"], b["doc_id"], ni, nu))
    assert got == sorted(want)


def test_fuzzy_decontamination_catches_planted_paraphrase(spark):
    """A benchmark doc with one word changed (exact containment would
    miss it) must be flagged; an unrelated doc must not."""
    from loan_default_prediction_app_big_data_spark.operators.dedup import (
        prefix_filtered_jaccard_join_asym,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    edited = base.replace("lazy", "sleepy")  # paraphrased leak
    train = spark.createDataFrame(
        [(1, base), (2, "completely unrelated text about spark plans only")],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame([(100, edited)], "doc_id bigint, text string")
    rows = prefix_filtered_jaccard_join_asym(
        train, bench, threshold=0.5
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 100)]


# ---------------------------------------------------------------------
# wordpiece_merge_training
# ---------------------------------------------------------------------


def test_wordpiece_first_merge_is_the_ratio_argmax(spark, sf_dir):
    """Round 1's merge must maximize cnt/(c1*c2) over all pairs with
    support >= the floor, recomputed independently here."""
    from collections import Counter

    rows = _run(spark, "wordpiece_merge_training", sf_dir).collect()
    assert [r["merge_order"] for r in rows] == [1, 2, 3, 4]

    texts = [
        r["text"]
        for r in t(spark, sf_dir, "documents").select("text").collect()
    ]
    uni: Counter = Counter()
    pairs: Counter = Counter()
    for txt in texts:
        ws = txt.split(" ")
        uni.update(ws)
        pairs.update(zip(ws, ws[1:]))
    best = max(
        ((c / (uni[w1] * uni[w2]), w1, w2, c)
         for (w1, w2), c in pairs.items() if c >= 5),
        key=lambda x: (x[0], [-ord(ch) for ch in x[1]]),  # score only; ties next
    )
    # deterministic tie-break check: re-derive with full (score, w1, w2)
    cands = sorted(
        ((c / (uni[w1] * uni[w2]), w1, w2, c)
         for (w1, w2), c in pairs.items() if c >= 5),
        key=lambda x: (-x[0], x[1], x[2]),
    )
    score, w1, w2, c = cands[0]
    r1 = rows[0]
    assert (r1["w1"], r1["w2"], r1["pair_count"]) == (w1, w2, c)
    assert r1["left_count"] == uni[w1] and r1["right_count"] == uni[w2]
    assert r1["score_1e9"] == int(1e9 * (c / (uni[w1] * uni[w2])) // 1)
    assert best[0] == score  # sanity: both derivations agree on the max score


def test_wordpiece_merges_differ_from_bpe(spark, sf_dir):
    """The likelihood ratio must actually change the selection vs raw
    pair count (otherwise the query demonstrates nothing new)."""
    wp = [(r["w1"], r["w2"])
          for r in _run(spark, "wordpiece_merge_training", sf_dir).collect()]
    bpe = [(r["w1"], r["w2"])
           for r in _run(spark, "bpe_merge_training", sf_dir).collect()]
    assert wp != bpe[: len(wp)]


# ---------------------------------------------------------------------
# wordpiece_maxmatch_tokenize
# ---------------------------------------------------------------------


def _python_maxmatch(words, units):
    """Reference MaxMatch: leftmost-longest unit, else one word."""
    units = sorted(units, key=lambda u: -len(u))
    pos, n_pieces, n_merged = 0, 0, 0
    while pos < len(words):
        step = 1
        for u in units:
            if words[pos : pos + len(u)] == u:
                step = len(u)
                break
        n_pieces += 1
        n_merged += 1 if step > 1 else 0
        pos += step
    return n_pieces, n_merged


def test_maxmatch_matches_python_reference_walk(spark, sf_dir):
    """The aggregate()-fold segmentation must equal an independent
    Python MaxMatch over the same trained units, doc by doc."""
    rows = {
        r["doc_id"]: r
        for r in _run(spark, "wordpiece_maxmatch_tokenize", sf_dir).collect()
    }
    merges = _run(spark, "wordpiece_merge_training", sf_dir).collect()
    units = [
        (m.w1 + "@@" + m.w2).replace("@@", " ").split(" ") for m in merges
    ]
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
        .collect()
    )
    assert len(rows) == len(docs) > 0
    saw_merge = False
    for d in docs:
        ws = d["text"].split(" ")
        n_pieces, n_merged = _python_maxmatch(ws, units)
        r = rows[d["doc_id"]]
        assert r["n_tok_raw"] == len(ws)
        assert r["n_tok_maxmatch"] == n_pieces
        assert r["n_multiword_pieces"] == n_merged
        saw_merge = saw_merge or n_merged > 0
    assert saw_merge  # the vocabulary must actually fire somewhere


def test_maxmatch_piece_counts_reconcile(spark, sf_dir):
    """Each multi-word piece of length L saves L-1 tokens, so
    raw - maxmatch tokens is bounded by merged * (max_unit_len - 1)."""
    merges = _run(spark, "wordpiece_merge_training", sf_dir).collect()
    max_len = max(
        len((m.w1 + "@@" + m.w2).replace("@@", " ").split(" "))
        for m in merges
    )
    for r in _run(spark, "wordpiece_maxmatch_tokenize", sf_dir).collect():
        saved = r["n_tok_raw"] - r["n_tok_maxmatch"]
        assert 0 <= r["n_multiword_pieces"] <= r["n_tok_maxmatch"]
        assert r["n_multiword_pieces"] <= saved <= r["n_multiword_pieces"] * (
            max_len - 1
        )


# ---------------------------------------------------------------------
# delta vacuum
# ---------------------------------------------------------------------


def test_vacuum_reclaims_exactly_the_orphans(spark, tmp_path):
    import os

    from loan_default_prediction_app_big_data_spark.sources import delta_py as D

    path = str(tmp_path / "tbl")
    D.commit_append(path, spark.range(5).selectExpr("id", "id * 2 AS v"))
    D.commit_append(path, spark.range(5, 10).selectExpr("id", "id * 2 AS v"))
    D.commit_compaction(spark, path, target_files=1)
    pre_versions = D.table_versions(path)

    on_disk = lambda: sorted(  # noqa: E731
        f for f in os.listdir(path) if f.endswith(".parquet")
    )
    before = on_disk()
    live = {os.path.basename(p) for p in D.snapshot_files(path)}
    deleted = D.vacuum(path)

    assert deleted == len(before) - len(live) > 0
    assert set(on_disk()) == live
    # current snapshot unharmed, log history intact
    got = sorted(r["id"] for r in D.read_delta(spark, path).collect())
    assert got == list(range(10))
    assert D.table_versions(path) == pre_versions
    # second pass is a no-op
    assert D.vacuum(path) == 0


def test_vacuum_guard_is_membership_first(spark, tmp_path):
    """ADVICE r7: dead files written in the same mtime tick as the
    latest commit must still be reclaimed (the log itself proves them
    dead), while never-referenced recent files (in-flight commit
    candidates) must survive and never-referenced OLD files are
    garbage."""
    import os

    from loan_default_prediction_app_big_data_spark.sources import delta_py as D

    path = str(tmp_path / "tbl")
    D.commit_append(path, spark.range(3).selectExpr("id", "id AS v"))
    D.commit_overwrite(path, spark.range(3, 6).selectExpr("id", "id AS v"))
    dead = [os.path.basename(p) for p in D.snapshot_files(path, 0)]
    # Force the coarse-granularity worst case: dead files share the
    # exact mtime of the latest log entry.
    latest_log = D._version_file(path, D.table_versions(path)[-1])
    t = os.path.getmtime(latest_log)
    for f in dead:
        os.utime(os.path.join(path, f), (t, t))
    inflight = os.path.join(path, "part-inflight.parquet")
    open(inflight, "wb").write(b"x")
    os.utime(inflight, (t, t))  # same tick -> must be protected
    garbage = os.path.join(path, "part-old-garbage.parquet")
    open(garbage, "wb").write(b"x")
    os.utime(garbage, (t - 60, t - 60))  # old + unreferenced -> reclaim

    deleted = D.vacuum(path)
    assert deleted == len(dead) + 1
    assert not any(os.path.exists(os.path.join(path, f)) for f in dead)
    assert os.path.exists(inflight)
    assert not os.path.exists(garbage)


def test_vacuum_raises_clearly_on_non_delta_path(tmp_path):
    import pytest

    from loan_default_prediction_app_big_data_spark.sources import delta_py as D

    with pytest.raises(FileNotFoundError, match="not a Delta table"):
        D.vacuum(str(tmp_path / "nope"))


def test_vacuum_breaks_time_travel_to_reclaimed_versions(spark, tmp_path):
    import os

    from loan_default_prediction_app_big_data_spark.sources import delta_py as D

    path = str(tmp_path / "tbl")
    D.commit_append(path, spark.range(3).selectExpr("id", "id AS v"))
    v0_files = D.snapshot_files(path, 0)
    D.commit_overwrite(path, spark.range(3, 6).selectExpr("id", "id AS v"))
    D.vacuum(path)
    # the overwritten version's files are physically gone
    assert not any(os.path.exists(p) for p in v0_files)
    # snapshot RESOLUTION still replays (log intact) but the scan fails
    assert D.snapshot_files(path, 0)
    got = sorted(r["id"] for r in D.read_delta(spark, path).collect())
    assert got == [3, 4, 5]


# ---------------------------------------------------------------------
# content_defined_chunking
# ---------------------------------------------------------------------


def _python_cdc(text, window=8, base=257, modulus=1_000_003, divisor=32):
    """Reference boundary rule: 1-based positions window <= i < len."""
    out = []
    for i in range(window, len(text)):
        acc = 0
        for ch in text[i - window : i]:
            acc = (acc * base + ord(ch)) % modulus
        if acc % divisor == 0:
            out.append(i)
    return out


def test_cdc_readout_matches_python_reference(spark, sf_dir):
    rows = {
        r["doc_id"]: r
        for r in _run(spark, "content_defined_chunking", sf_dir).collect()
    }
    docs = t(spark, sf_dir, "documents").select("doc_id", "text").collect()
    assert len(rows) == len(docs) > 0
    multi = 0
    for d in docs:
        bnd = _python_cdc(d["text"])
        n = len(d["text"])
        bl = [0] + bnd + [n]
        lens = [b - a for a, b in zip(bl, bl[1:])]
        r = rows[d["doc_id"]]
        assert r["n_chars_cdc"] == n
        assert r["n_chunks"] == len(bnd) + 1
        assert r["first_boundary"] == (bnd[0] if bnd else 0)
        assert r["min_chunk"] == min(lens)
        assert r["max_chunk"] == max(lens)
        assert r["mean_chunk_x100"] == (100 * n) // (len(bnd) + 1)
        multi += len(bnd) > 0
    assert multi > len(docs) * 0.8  # the rule must actually chunk


def test_cdc_boundaries_are_insertion_local(spark):
    """The CDC contract: an edit shifts boundaries only within a
    window of itself; every boundary >= window chars past the edit
    survives at position + insertion length."""
    from loan_default_prediction_app_big_data_spark.operators.textprep import (
        cdc_boundaries,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the spark "
        "engine shuffles partitions across the cluster and the planner "
        "prunes every column it can before the scan even starts today"
    )
    ins = "INSERTED BYTES "
    k = 40  # edit position
    edited = base[:k] + ins + base[k:]
    df = spark.createDataFrame([(0, base), (1, edited)], "id long, t string")
    got = {
        r["id"]: list(r["bnd"])
        for r in df.select("id", cdc_boundaries("t").alias("bnd")).collect()
    }
    assert got[0] == _python_cdc(base)
    assert got[1] == _python_cdc(edited)
    # boundaries strictly before the edit are untouched
    pre = [b for b in got[0] if b < k]
    assert [b for b in got[1] if b < k] == pre
    # boundaries at least `window` past the edit all survive, shifted
    tail0 = [b for b in got[0] if b >= k + 8]
    assert set(b + len(ins) for b in tail0) <= set(got[1])


# ---------------------------------------------------------------------
# unigram_lm_viterbi_score
# ---------------------------------------------------------------------


def test_unigram_viterbi_matches_python_dp(spark, sf_dir):
    """The distributed DP must equal an independent Python Viterbi
    over the same substring-count vocabulary, word by word."""
    from collections import Counter

    texts = [
        r["text"]
        for r in t(spark, sf_dir, "documents").select("text").collect()
    ]
    wc: Counter = Counter()
    for txt in texts:
        wc.update(w for w in txt.split(" ") if w)
    vocab: Counter = Counter()
    for w, c in wc.items():
        for L in (1, 2, 3):
            for i in range(L, len(w) + 1):
                vocab[w[i - L : i]] += c
    total = sum(vocab.values())
    p = {k: v / total for k, v in vocab.items()}

    rows = {
        r["word"]: r
        for r in _run(spark, "unigram_lm_viterbi_score", sf_dir).collect()
    }
    assert set(rows) == set(wc)
    for w, c in wc.items():
        n = len(w)
        best = [1.0] + [0.0] * n
        for i in range(1, n + 1):
            cands = [best[i - 1] * p.get(w[i - 1 : i], 0.0)]
            if i >= 2:
                cands.append(best[i - 2] * p.get(w[i - 2 : i], 0.0))
            if i >= 3:
                cands.append(best[i - 3] * p.get(w[i - 3 : i], 0.0))
            best[i] = max(cands)
        single = 1.0
        for ch in w:
            single *= p[ch]
        r = rows[w]
        assert r["corpus_count"] == c and r["n_chars"] == n
        assert r["viterbi_score"] == best[n]  # bit-exact, not approx
        assert r["singles_score"] == single
        assert r["seg_gain"] == best[n] / single
        assert r["seg_gain"] >= 1.0  # singles is one candidate path


def test_cdc_arrow_kernel_equals_hof_twin(spark, sf_dir):
    """The Arrow-batched kernel (cdc_chunk_stats — the registered
    query's scan path since round 7) must be row-for-row identical to
    the native-HOF Catalyst twin it replaced, which remains the
    oracle-checked reference (VERDICT r6 item 4)."""
    from loan_default_prediction_app_big_data_spark.plans.text import (
        content_defined_chunking_hof,
    )

    kernel = sorted(
        tuple(r) for r in _run(spark, "content_defined_chunking", sf_dir).collect()
    )
    hof = sorted(tuple(r) for r in content_defined_chunking_hof(spark, sf_dir).collect())
    assert len(kernel) > 0
    assert kernel == hof


def test_cdc_arrow_kernel_non_ascii_codepoints(spark):
    """The kernel's zero-copy ASCII fast path must agree with its
    codepoint fallback AND the HOF rule on non-ASCII text (F.ascii /
    ord both yield the codepoint)."""
    from loan_default_prediction_app_big_data_spark.operators.textprep import (
        cdc_chunk_stats,
    )

    texts = [
        (0, "plain ascii text that takes the frombuffer fast path ok"),
        (1, "naïve café résumé — ünïcödé text exercises the ord path"),
        (2, "短い非ASCIIドキュメント with mixed 码点 content here too"),
        (3, "x" * 7),   # shorter than the window: zero boundaries
        (4, ""),        # empty: filtered out entirely
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r["doc_id"]: r for r in cdc_chunk_stats(df).collect()}
    assert set(got) == {0, 1, 2, 3}  # empty doc dropped
    for doc_id, text in texts:
        if not text:
            continue
        bnd = _python_cdc(text)
        bl = [0] + bnd + [len(text)]
        lens = [b - a for a, b in zip(bl, bl[1:])]
        r = got[doc_id]
        assert r["n_chars_cdc"] == len(text)
        assert r["n_chunks"] == len(bnd) + 1
        assert r["first_boundary"] == (bnd[0] if bnd else 0)
        assert r["min_chunk"] == min(lens) and r["max_chunk"] == max(lens)
