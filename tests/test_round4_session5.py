"""Winnowing, duplication-span, isotonic-calibration, and RRF tests
(round-4 session 5)."""

from __future__ import annotations

import os
from fractions import Fraction

import pytest

from pyspark.sql import functions as F

from loan_default_prediction_app_big_data_spark.plans.registry import REGISTRY
from loan_default_prediction_app_big_data_spark.plans.text import (
    _MASK40,
    _WINNOW_K,
    _WINNOW_W,
)


def _write_documents(spark, tmp_path, rows):
    """Materialize a tiny documents table so the registry callables
    (which read ``<sf_dir>/documents.parquet``) run on planted text."""
    d = str(tmp_path)
    spark.createDataFrame(
        [(i, txt, "en", "test", len(txt)) for i, txt in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    return d


def _py_polyhash(s: str, mask: int = _MASK40) -> int:
    acc = 7
    for ch in s:
        acc = (acc * 31 + ord(ch)) & mask
    return acc


def _py_winnow(tokens, k=_WINNOW_K, w=_WINNOW_W):
    """Independent reference winnowing: rightmost-min per window."""
    hashes = [
        _py_polyhash(" ".join(tokens[i : i + k]))
        for i in range(len(tokens) - k + 1)
    ]
    fps = set()
    for end in range(w - 1, len(hashes)):
        window = hashes[end - w + 1 : end + 1]
        m = min(window)
        # rightmost occurrence of the min
        ridx = max(i for i, h in enumerate(window) if h == m)
        fps.add((m, end - w + 1 + ridx))
    return {h for h, _ in fps}


def test_winnowing_matches_python_reference(spark, tmp_path):
    """The packed-key windowed min must reproduce classic winnowing
    (min hash, rightmost tie) exactly - checked against a direct
    Python implementation on planted docs with a guaranteed shared
    run longer than k+w-1 tokens."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, shared + " one two three four five six seven eight"),
        (2, "nine ten eleven twelve " + shared + " thirteen fourteen"),
        (3, "unrelated words only here nothing shared at all today now"),
    ]
    d = _write_documents(spark, tmp_path, rows)
    out = {
        (r["doc_a"], r["doc_b"]): r["shared_fps"]
        for r in REGISTRY["winnowing_fingerprint_overlap"].fn(spark, d).collect()
    }
    fp1 = _py_winnow(rows[0][1].split())
    fp2 = _py_winnow(rows[1][1].split())
    expected_shared = len(fp1 & fp2)
    # winnowing guarantee: the 10-token shared run (> k+w-1 = 8)
    # must produce at least one shared fingerprint
    assert expected_shared >= 1
    if expected_shared >= 2:  # query keeps pairs with >= 2 shared
        assert out.get((1, 2)) == expected_shared
    assert (1, 3) not in out and (2, 3) not in out


def test_winnowing_identical_docs_full_overlap(spark, tmp_path):
    txt = "the quick brown fox jumps over the lazy dog again and again"
    d = _write_documents(spark, tmp_path, [(1, txt), (2, txt)])
    rows = REGISTRY["winnowing_fingerprint_overlap"].fn(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["shared_fps"] == r["fp_a"] == r["fp_b"]
    assert r["overlap_coef"] == 1.0


def test_dup_span_union_never_double_counts(spark, tmp_path):
    """Two docs share one 12-token run: the duplicated 8-grams overlap
    heavily but the sweep-line union must count each covered token
    once - dup_tokens == 12 on both docs, not 5 * 8."""
    run = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10 r11 r12"
    rows = [
        (1, run + " tail1 tail2 tail3 tail4 tail5 tail6 tail7 tail8"),
        (2, "head1 head2 head3 head4 head5 head6 head7 head8 " + run),
        (3, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12 x13 x14"),
    ]
    d = _write_documents(spark, tmp_path, rows)
    out = {
        r["doc_id"]: r
        for r in REGISTRY["duplicated_ngram_span_fraction"].fn(spark, d).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["dup_tokens"] == 12
    assert out[2]["dup_tokens"] == 12
    assert out[1]["n_tokens"] == 20
    assert out[1]["dup_fraction"] == round(12 / 20, 6)


def test_dup_span_whole_doc_duplicate_is_fraction_one(spark, tmp_path):
    txt = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"
    d = _write_documents(spark, tmp_path, [(1, txt), (2, txt)])
    for r in REGISTRY["duplicated_ngram_span_fraction"].fn(spark, d).collect():
        assert r["dup_tokens"] == r["n_tokens"] == 10
        assert r["dup_fraction"] == 1.0


def _py_pava(counts):
    """Reference PAVA via the pool-adjacent-violators stack sweep with
    exact Fractions; counts = [(n, n_bad), ...] in band order. Each
    stack entry is [bad_sum, n_sum, bands_merged]."""
    out: list[list] = []
    for n, b in counts:
        out.append([Fraction(b), Fraction(n), 1])
        while len(out) >= 2 and out[-2][0] * out[-1][1] > out[-1][0] * out[-2][1]:
            b2, n2, c2 = out.pop()
            out[-1][0] += b2
            out[-1][1] += n2
            out[-1][2] += c2
    expanded: list[Fraction] = []
    for b, n, c in out:
        expanded.extend([b / n] * c)
    return expanded


def test_isotonic_calibration_matches_reference_pava(spark, sf_dir):
    rows = REGISTRY["isotonic_calibration_pava"].fn(spark, sf_dir).collect()
    assert len(rows) > 0
    counts = [(r["n"], r["n_bad"]) for r in rows]
    ref = _py_pava(counts)
    assert len(ref) == len(rows)
    for r, expect in zip(rows, ref):
        # the query's scaled-integer fit must equal floor(rate * 1e15)
        assert r["iso_rate_q"] == (expect.numerator * 10**15) // expect.denominator, r["band"]
    # and the fit is monotone non-decreasing
    qs = [r["iso_rate_q"] for r in rows]
    assert qs == sorted(qs)


def test_isotonic_calibration_repairs_violations(spark, sf_dir):
    """The empirical curve at 50 bands must actually contain
    violations (else the test is vacuous) and the fit must pool them."""
    rows = REGISTRY["isotonic_calibration_pava"].fn(spark, sf_dir).collect()
    emp = [r["emp_rate"] for r in rows]
    assert any(b < a for a, b in zip(emp, emp[1:])), "no violations to repair"


def test_rrf_matches_python_recompute(spark, sf_dir):
    from loan_default_prediction_app_big_data_spark.plans._core import t

    docs = t(spark, sf_dir, "documents").select("doc_id", "text").collect()
    scored = []
    for r in docs:
        ws = [w for w in r["text"].split(" ") if w]
        scored.append((r["doc_id"], ws.count("data"), ws.count("spark")))
    fused: dict[int, list[int]] = {}
    for key in (1, 2):
        ranked = sorted(scored, key=lambda x: (-x[key], x[0]))[:100]
        for rank, row in enumerate(ranked, start=1):
            fused.setdefault(row[0], []).append(1_000_000 // (60 + rank))
    expect = sorted(
        ((sum(v), len(v), k) for k, v in fused.items()),
        key=lambda x: (-x[0], x[2]),
    )[:25]
    got = REGISTRY["reciprocal_rank_fusion"].fn(spark, sf_dir).collect()
    assert [(r["rrf_micro"], r["in_lists"], r["doc_id"]) for r in got] == expect


def test_new_queries_have_oracles_and_plans(spark, sf_dir):
    """Every session-5 query is oracle-backed and its plan is free of
    row-at-a-time Python eval nodes."""
    names = [
        "winnowing_fingerprint_overlap",
        "duplicated_ngram_span_fraction",
        "isotonic_calibration_pava",
        "reciprocal_rank_fusion",
    ]
    for n in names:
        spec = REGISTRY[n]
        assert spec.oracle is not None
        plan = spec.fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, n
        assert "CartesianProduct" not in plan, n


def test_naive_bayes_planted_vocab_is_perfectly_separable(spark, tmp_path):
    """Plant two classes with disjoint vocabularies: every holdout doc
    must classify correctly with a positive margin."""
    aa = "apple avocado apricot almond anise apple avocado apricot"
    bb = "banana berry broccoli bean basil banana berry broccoli"
    rows, langs = [], {}
    for i in range(20):
        lang = "aa" if i % 2 == 0 else "bb"
        txt = aa if lang == "aa" else bb
        rows.append((i, txt, lang, "test", len(txt)))
        langs[i] = lang
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    out = REGISTRY["naive_bayes_lang_classify"].fn(spark, d).collect()
    # holdout = doc_id % 5 == 0 -> ids 0,5,10,15
    assert {r["doc_id"] for r in out} == {0, 5, 10, 15}
    for r in out:
        assert r["correct"] is True
        assert r["pred_lang"] == langs[r["doc_id"]]
        assert r["margin_micro"] > 0


def test_naive_bayes_fixture_determinism_and_coverage(spark, sf_dir):
    rows = REGISTRY["naive_bayes_lang_classify"].fn(spark, sf_dir).collect()
    from loan_default_prediction_app_big_data_spark.plans._core import t

    n_test = (
        t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0).count()
    )
    assert len(rows) == n_test  # every holdout doc gets exactly one row
    for r in rows:
        assert r["margin_micro"] >= 0  # runner-up is never better


def test_brier_decomposition_identity_and_ranges(spark, sf_dir):
    r = REGISTRY["brier_decomposition_bands"].fn(spark, sf_dir).collect()[0]
    assert r["murphy_ok"] is True
    assert 0.0 <= r["brier"] <= 1.0
    assert r["rel_nano"] >= 0 and r["res_nano"] >= 0
    assert 0 <= r["unc_nano"] <= 250_000_000  # p(1-p) <= 1/4


def test_brier_matches_python_recompute(spark, sf_dir):
    """bs_num identity vs a direct per-row Python Brier on the scored
    orders (exact integers on both sides)."""
    from loan_default_prediction_app_big_data_spark.plans.credit import (
        _scored_orders,
    )

    rows = _scored_orders(spark, sf_dir).collect()
    n = len(rows)
    bs_num = 0
    for row in rows:
        band = row["score"] // 2000
        p100 = 2 * band + 1  # p_hat * 100
        y = row["bad"]
        bs_num += p100 * p100 - 200 * p100 * y + 10000 * y
    expect = round(bs_num / (10000.0 * n), 6)
    got = REGISTRY["brier_decomposition_bands"].fn(spark, sf_dir).collect()[0]
    assert got["brier"] == expect


def test_l_diversity_counts_are_consistent(spark, sf_dir):
    rows = {r["l"]: r for r in REGISTRY["l_diversity_audit"].fn(spark, sf_dir).collect()}
    assert set(rows) == {2, 3}
    for l, r in rows.items():
        assert 0 <= r["groups_ok"] <= r["groups_total"]
        assert r["min_diversity"] >= 1
    # monotone: raising l can only shrink the passing set
    assert rows[3]["groups_ok"] <= rows[2]["groups_ok"]
    assert rows[3]["rows_at_risk"] >= rows[2]["rows_at_risk"]


def test_ahash_decode_matches_congruence(spark):
    """The real BMP decode -> aHash must equal the analytic congruence
    recompute for every seed 0..15."""
    from loan_default_prediction_app_big_data_spark.operators.multimodal import (
        decode_bmp_ahash,
        synth_image_payloads,
    )

    seeds = spark.range(16).select(F.col("id").alias("doc_id"))
    got = {
        r["seed"]: (r["ahash"], r["n_px"], r["gray_total"])
        for r in decode_bmp_ahash(
            synth_image_payloads(seeds, width=7, height=8)
        ).collect()
    }
    for seed in range(16):
        grays = [
            sum((seed * 2654435761 + (3 * p + j) * 40503) % 256 for j in range(3))
            // 3
            for p in range(56)
        ]
        total = sum(grays)
        bits = 0
        for p, gv in enumerate(grays):
            if gv * 56 > total:
                bits |= 1 << p
        assert got[seed] == (bits, 56, total), seed


def test_ahash_groups_cover_all_selected_docs(spark, sf_dir):
    from loan_default_prediction_app_big_data_spark.plans._core import t

    rows = REGISTRY["image_ahash_dedup"].fn(spark, sf_dir).collect()
    member_total = sum(r["n_docs"] for r in rows)
    singles = 0
    # docs in singleton hash groups are excluded by the >= 2 filter
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 1)
        .count()
    )
    assert member_total <= docs
    for r in rows:
        ids = [int(x) for x in r["member_ids"].split(",")]
        assert len(ids) == r["n_docs"]
        assert ids == sorted(ids)
        # same aHash group -> (here) same seed congruence class unless
        # two seeds collide; either way ids %3==1 holds
        assert all(i % 3 == 1 for i in ids)


def test_grouping_sets_levels_reconcile(spark, sf_dir):
    rows = REGISTRY["grouping_sets_report"].fn(spark, sf_dir).collect()
    by_gid: dict[int, list] = {}
    for r in rows:
        by_gid.setdefault(r["gid"], []).append(r)
    assert set(by_gid) == {0, 1, 2, 3}
    grand = by_gid[3][0]
    for gid in (0, 1, 2):
        assert sum(r["n_orders"] for r in by_gid[gid]) == grand["n_orders"]
        assert sum(r["revenue_cents"] for r in by_gid[gid]) == grand["revenue_cents"]
    # subtotal rows use the ALL alias exactly where grouping() fired
    for r in by_gid[1]:
        assert r["segment"] == "ALL" and r["nation"] != "ALL"
    for r in by_gid[2]:
        assert r["nation"] == "ALL" and r["segment"] != "ALL"


def test_moments_match_python_floats(spark, sf_dir):
    import math

    from loan_default_prediction_app_big_data_spark.plans._core import t

    vals: dict[str, list[int]] = {}
    for r in t(spark, sf_dir, "orders").select(
        "o_orderpriority", F.floor("o_totalprice").alias("v")
    ).collect():
        vals.setdefault(r["o_orderpriority"], []).append(r["v"])
    got = {r["priority"]: r for r in REGISTRY["moment_stats_skew_kurtosis"].fn(spark, sf_dir).collect()}
    assert set(got) == set(vals)
    for pri, xs in vals.items():
        n = len(xs)
        m = sum(xs) / n
        m2 = sum((x - m) ** 2 for x in xs) / n
        m3 = sum((x - m) ** 3 for x in xs) / n
        m4 = sum((x - m) ** 4 for x in xs) / n
        r = got[pri]
        assert r["n"] == n
        assert abs(r["mean_price"] - m) < 1e-4
        assert abs(r["variance"] - m2) < max(1e-4 * m2, 1e-3)
        assert abs(r["skewness"] - m3 / math.sqrt(m2**3)) < 1e-4
        assert abs(r["kurtosis_excess"] - (m4 / m2**2 - 3)) < 1e-4


def test_bitwise_aggregates_match_python(spark, sf_dir):
    from loan_default_prediction_app_big_data_spark.plans._core import t

    acc: dict[str, list] = {}
    for r in t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice", "o_orderstatus"
    ).collect():
        acc.setdefault(r["o_orderpriority"], []).append(r)
    got = {r["priority"]: r for r in REGISTRY["bitwise_bool_aggregates"].fn(spark, sf_dir).collect()}
    for pri, rows in acc.items():
        band = bor = 0
        bxor = 0
        band = rows[0]["o_orderkey"]
        for r in rows:
            band &= r["o_orderkey"]
            bor |= r["o_orderkey"]
            bxor ^= r["o_orderkey"]
        g = got[pri]
        assert g["key_bit_and"] == band
        assert g["key_bit_or"] == bor
        assert g["key_bit_xor"] == bxor
        assert g["all_above_900"] == all(r["o_totalprice"] > 900 for r in rows)
        assert g["any_pending"] == any(r["o_orderstatus"] == "P" for r in rows)


def test_phrase_query_matches_python_scan(spark, sf_dir):
    from loan_default_prediction_app_big_data_spark.plans._core import t

    expect = {}
    for r in t(spark, sf_dir, "documents").select("doc_id", "text").collect():
        ws = [w for w in r["text"].split(" ") if w]
        n = sum(
            1
            for i in range(len(ws) - 1)
            if ws[i] == "slow" and ws[i + 1] == "join"
        )
        if n:
            expect[r["doc_id"]] = n
    got = {
        r["doc_id"]: r["n_occurrences"]
        for r in REGISTRY["phrase_query_positional_index"].fn(spark, sf_dir).collect()
    }
    assert got == expect
    assert len(got) > 0  # the phrase actually occurs in the corpus


def test_phrase_adjacent_occurrences_counted(spark, tmp_path):
    """'slow join slow join' = 2 occurrences; 'slow slow join' = 1."""
    rows = [
        (1, "slow join slow join pad pad pad pad"),
        (2, "slow slow join pad pad pad pad pad"),
        (3, "join slow pad pad pad pad pad pad"),
    ]
    d = _write_documents(spark, tmp_path, rows)
    got = {
        r["doc_id"]: r["n_occurrences"]
        for r in REGISTRY["phrase_query_positional_index"].fn(spark, d).collect()
    }
    assert got == {1: 2, 2: 1}


def test_dpp_plan_contains_dynamic_pruning(spark, sf_dir):
    df = REGISTRY["dynamic_partition_pruning_join"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the result covers exactly the odd years
    years = [r["o_year"] for r in df.collect()]
    assert years and all(y % 2 == 1 for y in years)


def test_zipf_slope_is_negative_and_matches_python(spark, sf_dir):
    import math

    from loan_default_prediction_app_big_data_spark.plans._core import t

    counts: dict[str, int] = {}
    for r in t(spark, sf_dir, "documents").select("text").collect():
        for w in r["text"].split(" "):
            if w:
                counts[w] = counts.get(w, 0) + 1
    head = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:1000]
    xs = [round(math.log(i + 1) * 1e6) for i in range(len(head))]
    ys = [round(math.log(c) * 1e6) for _, c in head]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    r = REGISTRY["zipf_slope_token_frequency"].fn(spark, sf_dir).collect()[0]
    assert r["n"] == n
    assert r["zipf_slope"] == round(slope, 6)
    assert r["zipf_slope"] < 0  # frequency decreases with rank


def test_sql_udf_inlines_no_python_eval(spark, sf_dir):
    df = REGISTRY["sql_udf_price_tiers"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    rows = {r["tier"]: r["n_orders"] for r in df.collect()}
    assert set(rows) == {"high", "mid", "low"}


def test_parameterized_query_pushes_literals_to_scan(spark, sf_dir):
    df = REGISTRY["parameterized_query_markers"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(o_totalprice,150000" in plan, plan[:1500]
    assert all(r["n_orders"] > 0 for r in df.collect())


def test_nearest_event_join_matches_python(spark, sf_dir):
    """Brute-force per-user nearest-view recompute (the O(n*m)
    algorithm the window formulation replaces)."""
    from loan_default_prediction_app_big_data_spark.plans._core import t

    evs: dict[int, dict[str, list]] = {}
    for r in (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "view"))
        .select("user_id", "event_id", "event_type", F.unix_micros("ts").alias("us"))
        .collect()
    ):
        d = evs.setdefault(r["user_id"], {"purchase": [], "view": []})
        d[r["event_type"]].append((r["us"], r["event_id"]))
    expect = {}
    for uid, d in evs.items():
        # replicate the timeline tie-break: views ordered by (us, id);
        # a view at the SAME us as the purchase but with later event_id
        # falls in the FOLLOWING frame, earlier id in the preceding one
        for pus, pid in d["purchase"]:
            prev = [v for v in d["view"] if (v[0], v[1]) < (pus, pid)]
            nxt = [v for v in d["view"] if (v[0], v[1]) > (pus, pid)]
            cand = []
            if prev:
                cand.append(max(prev))
            if nxt:
                cand.append(min(nxt))
            if not cand:
                continue
            best = min(cand, key=lambda v: (abs(pus - v[0]), v[0]))
            if abs(pus - best[0]) <= 1_800_000_000:
                expect[(uid, pid)] = (best[0], abs(pus - best[0]))
    got = {
        (r["user_id"], r["purchase_id"]): (r["view_us"], r["gap_us"])
        for r in REGISTRY["nearest_event_join"].fn(spark, sf_dir).collect()
    }
    assert got == expect
    assert len(got) > 0


def test_knn_classify_planted_clusters(spark, tmp_path):
    """Plant two tight clusters with distinct labels: every query must
    classify with a unanimous 5-0 vote."""
    import os as _os

    rows = []
    # labels: 0 -> around (1, 0, 0, 0), 1 -> around (0, 1, 0, 0)
    for i in range(120):
        lab = i % 2
        base = [0.0, 0.0, 0.0, 0.0]
        base[lab] = 1.0
        base[2] = 0.001 * (i % 7)  # tiny jitter, never flips the cluster
        rows.append((i, base, lab))
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        _os.path.join(d, "embeddings.parquet")
    )
    out = REGISTRY["knn_classify_exact"].fn(spark, d).collect()
    assert {r["query_id"] for r in out} == {0, 100}
    for r in out:
        assert r["correct"] is True
        assert r["n_votes"] == 5


def test_knn_classify_fixture_complete(spark, sf_dir):
    from loan_default_prediction_app_big_data_spark.plans._core import t

    n_q = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 100 == 0).count()
    rows = REGISTRY["knn_classify_exact"].fn(spark, sf_dir).collect()
    assert len(rows) == n_q
    for r in rows:
        assert 1 <= r["n_votes"] <= 5


def test_multivariate_ols_matches_numpy(spark, sf_dir):
    import numpy as np

    from loan_default_prediction_app_big_data_spark.plans._core import t

    per_order = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("x1"),
            F.sum(F.floor("l_quantity").cast("bigint")).alias("x2"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("y"),
        )
        .collect()
    )
    X = np.array([[1.0, r["x1"], r["x2"]] for r in per_order])
    y = np.array([float(r["y"]) for r in per_order])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    pred = X @ beta
    r2 = 1 - ((y - pred) ** 2).sum() / ((y - y.mean()) ** 2).sum()
    got = REGISTRY["multivariate_ols_normal_eq"].fn(spark, sf_dir).collect()[0]
    assert got["n"] == len(per_order)
    assert abs(got["b0"] - beta[0]) < max(1e-3 * abs(beta[0]), 1e-2)
    assert abs(got["b1"] - beta[1]) < max(1e-3 * abs(beta[1]), 1e-2)
    assert abs(got["b2"] - beta[2]) < max(1e-3 * abs(beta[2]), 1e-2)
    assert abs(got["r2"] - r2) < 1e-5
    assert 0.0 <= got["r2"] <= 1.0


def test_decision_stump_matches_python_sweep(spark, sf_dir):
    from fractions import Fraction

    from loan_default_prediction_app_big_data_spark.plans.credit import (
        _scored_orders,
    )

    bands: dict[int, list[int]] = {}
    for r in _scored_orders(spark, sf_dir).collect():
        b = r["score"] // 2000
        acc = bands.setdefault(b, [0, 0])
        acc[0] += 1
        acc[1] += r["bad"]
    ordered = sorted(bands)
    nt = sum(v[0] for v in bands.values())
    badt = sum(v[1] for v in bands.values())
    nl = badl = 0
    best = None
    for b in ordered:
        nl += bands[b][0]
        badl += bands[b][1]
        nr, badr = nt - nl, badt - badl
        if nl == 0 or nr == 0:
            continue
        f = Fraction(badl * badl + (nl - badl) ** 2, nl) + Fraction(
            badr * badr + (nr - badr) ** 2, nr
        )
        if best is None or f > best[0]:
            best = (f, b, nl, badl, nr, badr)
    got = REGISTRY["decision_stump_exact"].fn(spark, sf_dir).collect()[0]
    f, b, nl, badl, nr, badr = best
    assert got["split_threshold"] == (b + 1) * 2000
    assert (got["n_left"], got["bad_left"]) == (nl, badl)
    assert (got["n_right"], got["bad_right"]) == (nr, badr)
    # purity_q is the floor-scaled objective at the argmax
    scaled = (
        (badl * badl + (nl - badl) ** 2) * nr
        + (badr * badr + (nr - badr) ** 2) * nl
    ) * 10**12 // (nl * nr)
    assert got["purity_q"] == scaled
    # the split must actually separate: left rate < right rate
    assert got["left_rate"] < got["right_rate"]


def test_item_cf_matches_python_recompute(spark, sf_dir):
    from loan_default_prediction_app_big_data_spark.plans._core import t

    baskets: dict[int, set] = {}
    for r in t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").collect():
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    ni: dict[int, int] = {}
    for items in baskets.values():
        for p in items:
            ni[p] = ni.get(p, 0) + 1
    anchors = [p for p, _ in sorted(ni.items(), key=lambda kv: (-kv[1], kv[0]))[:20]]
    co: dict[tuple, int] = {}
    aset = set(anchors)
    for items in baskets.values():
        for pa in items & aset:
            for pb in items:
                if pb != pa:
                    co[(pa, pb)] = co.get((pa, pb), 0) + 1
    import math

    expect = []
    for pa in anchors:
        cands = [
            (round(c / math.sqrt(ni[pa] * ni[pb]), 6), pb, c)
            for (a, pb), c in co.items()
            if a == pa and c >= 2
        ]
        for rk, (cs, pb, c) in enumerate(
            sorted(cands, key=lambda x: (-x[0], x[1]))[:3], start=1
        ):
            expect.append((pa, rk, pb, c, cs))
    got = [
        (r["item"], r["rank"], r["neighbor"], r["co_orders"], r["cos_sim"])
        for r in REGISTRY["item_item_collaborative_topk"].fn(spark, sf_dir).collect()
    ]
    assert sorted(got) == sorted(expect)
    assert len(got) > 0


def test_sprt_decision_state_machine(spark, sf_dir):
    """Replay Wald's SPRT in Python and check the sticky decision
    column plus the boundary semantics."""
    import math

    rows = REGISTRY["sprt_sequential_test"].fn(spark, sf_dir).collect()
    assert rows == sorted(rows, key=lambda r: r["day"])
    up = round(math.log(0.26 / 0.24) * 1e6)
    dn = round(math.log(0.74 / 0.76) * 1e6)
    bound = round(math.log(19.0) * 1e6)
    cum = 0
    first_hi = first_lo = None
    for r in rows:
        inc = r["x"] * up + (r["n"] - r["x"]) * dn
        assert r["llr_micro"] == inc
        cum += inc
        assert r["cum_llr_micro"] == cum
        if first_hi is None and cum >= bound:
            first_hi = r["day"]
        if first_lo is None and cum <= -bound:
            first_lo = r["day"]
        if first_hi is not None and (first_lo is None or first_hi <= first_lo) and r["day"] >= first_hi:
            expect = "accept_h1"
        elif first_lo is not None and (first_hi is None or first_lo < first_hi) and r["day"] >= first_lo:
            expect = "accept_h0"
        else:
            expect = "continue"
        assert r["decision"] == expect, r["day"]


def test_t_closeness_matches_fraction_emd(spark, sf_dir):
    from fractions import Fraction

    from loan_default_prediction_app_big_data_spark.plans._core import t

    groups: dict[tuple, list[int]] = {}
    for r in (
        t(spark, sf_dir, "orders")
        .join(t(spark, sf_dir, "customer"), F.expr("o_custkey = c_custkey"))
        .select("c_nationkey", "c_mktsegment", "o_orderstatus")
        .collect()
    ):
        key = (r["c_nationkey"], r["c_mktsegment"])
        acc = groups.setdefault(key, [0, 0, 0])  # n, le_f, le_o
        acc[0] += 1
        if r["o_orderstatus"] == "F":
            acc[1] += 1
        if r["o_orderstatus"] in ("F", "O"):
            acc[2] += 1
    nn = sum(v[0] for v in groups.values())
    tf = sum(v[1] for v in groups.values())
    to = sum(v[2] for v in groups.values())
    got = {
        (r["nation"], r["segment"]): r
        for r in REGISTRY["t_closeness_audit"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(groups)
    for key, (n, lef, leo) in groups.items():
        emd = (
            abs(Fraction(lef, n) - Fraction(tf, nn))
            + abs(Fraction(leo, n) - Fraction(to, nn))
        ) / 2
        scaled = (emd.numerator * 10**12) // emd.denominator
        r = got[key]
        assert r["emd_q"] == scaled, key
        assert r["t_close_02"] == (scaled <= 2 * 10**11)


def test_ndcg_matches_python_recompute(spark, sf_dir):
    import math

    from loan_default_prediction_app_big_data_spark.plans._core import t

    scored = []
    for r in t(spark, sf_dir, "documents").select("doc_id", "text", "lang").collect():
        ws = [w for w in r["text"].split(" ") if w]
        rel = 3 if r["lang"] == "en" else (2 if r["lang"] in ("de", "fr") else 1)
        scored.append((r["doc_id"], ws.count("data"), rel))
    disc = [round(1e9 / math.log2(i + 1)) for i in range(1, 11)]
    ranked = sorted(scored, key=lambda x: (-x[1], x[0]))[:10]
    ideal = sorted(scored, key=lambda x: (-x[2], x[0]))[:10]
    dcg = sum(r[2] * c for r, c in zip(ranked, disc))
    idcg = sum(r[2] * c for r, c in zip(ideal, disc))
    got = REGISTRY["ranking_ndcg_eval"].fn(spark, sf_dir).collect()[0]
    assert got["dcg_nano"] == dcg
    assert got["idcg_nano"] == idcg
    assert got["ndcg"] == round(dcg / idcg, 6)
    assert 0.0 < got["ndcg"] <= 1.0


def test_shoelace_matches_python_geometry(spark, sf_dir):
    from loan_default_prediction_app_big_data_spark.plans._core import t

    KN, C1, C2 = 2654435761, 524287, 131071
    pts: dict[int, list] = {}
    for r in t(spark, sf_dir, "customer").select("c_nationkey", "c_custkey").collect():
        ck = r["c_custkey"]
        y = ((ck * KN + C1) % 120000000) - 60000000
        x = ((((ck * KN + C2) % 360000000) * 961748927) % 360000000) - 180000000
        pts.setdefault(r["c_nationkey"], []).append((ck, x, y))
    got = {r["nation"]: r for r in REGISTRY["polygon_shoelace_area_centroid"].fn(spark, sf_dir).collect()}
    assert set(got) == set(pts)
    for nk, vs in pts.items():
        vs.sort()
        area2 = cxs = cys = 0
        n = len(vs)
        for i in range(n):
            _, x, y = vs[i]
            _, xn, yn = vs[(i + 1) % n]
            cr = x * yn - xn * y
            area2 += cr
            cxs += (x + xn) * cr
            cys += (y + yn) * cr
        r = got[nk]
        assert r["n_vertices"] == n
        sign = 1 if area2 >= 0 else -1
        assert r["area2_e6"] == sign * (abs(area2) // 1000000)
        if abs(area2) > 1000000:
            assert r["centroid_lon_deg"] == round(cxs / (3 * area2) / 1e6, 4)
            assert r["centroid_lat_deg"] == round(cys / (3 * area2) / 1e6, 4)


def test_amortization_invariants(spark, sf_dir):
    """Cash-flow conservation: principal + total interest ==
    (months-1)*payment + final_payment, and the final payment is never
    larger than the regular one."""
    rows = REGISTRY["loan_amortization_schedule"].fn(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        payment = r["principal_cents"] // 10
        paid = (r["months"] - 1) * payment + r["final_payment_cents"]
        assert paid == r["principal_cents"] + r["total_interest_cents"], r
        assert 0 <= r["final_payment_cents"] <= payment
        assert 10 <= r["months"] <= 13  # 10% payment vs 1% interest


def test_exchange_reuse_in_adaptive_plan(spark, sf_dir):
    df = REGISTRY["exchange_reuse_extremes"].fn(spark, sf_dir)
    rows = df.collect()  # AQE finalizes the plan during execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan[:1500]
    assert [r["which"] for r in rows] == ["top", "bottom"]
    assert rows[0]["rev"] >= rows[1]["rev"]


def test_nested_hof_matches_python(spark, sf_dir):
    from loan_default_prediction_app_big_data_spark.plans._core import t

    orders: dict[int, list] = {}
    for r in (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 101 == 0)
        .select("l_orderkey", "l_linenumber",
                F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"))
        .collect()
    ):
        orders.setdefault(r["l_orderkey"], []).append((r["l_linenumber"], r["cents"]))
    got = {r["o_orderkey"]: r for r in REGISTRY["nested_order_lines_hof"].fn(spark, sf_dir).collect()}
    assert set(got) == set(orders)
    for ok, items in orders.items():
        items.sort()
        cents = [c for _, c in items]
        r = got[ok]
        assert r["n_items"] == len(cents)
        assert r["total_cents"] == sum(cents)
        assert r["first_line_cents"] == cents[0]
        gaps = [abs(b - a) for a, b in zip(cents, cents[1:])]
        assert r["max_adjacent_gap_cents"] == (max(gaps) if gaps else 0)


def test_unpivot_is_inverse_of_wide(spark, sf_dir):
    rows = REGISTRY["unpivot_melt_reshape"].fn(spark, sf_dir).collect()
    assert len(rows) == 15  # 5 priorities x 3 statuses
    assert {r["status"] for r in rows} == {"f_cents", "o_cents", "p_cents"}
    # melt preserves mass: per-priority sum equals the orders total
    from loan_default_prediction_app_big_data_spark.plans._core import t

    total = (
        t(spark, sf_dir, "orders")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")))
        .first()[0]
    )
    assert sum(r["revenue_cents"] for r in rows) == total


def test_governed_view_leaks_nothing(spark, sf_dir):
    rows = REGISTRY["governed_view_masking"].fn(spark, sf_dir).collect()
    allowed = {1, 3, 5, 7, 9, 11}
    assert {r["nation"] for r in rows} <= allowed
    for r in rows:
        assert r["min_band"] % 1000 == 0 and r["max_band"] % 1000 == 0
        assert r["distinct_masks"] <= r["n_customers"]


def test_join_hint_produces_shuffled_hash_join(spark, sf_dir):
    df = REGISTRY["join_strategy_hints"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan[:1200]
    assert len(df.collect()) == 25


def test_codec_roundtrip_files_differ_but_data_equal(spark, sf_dir):
    import glob
    import os

    from loan_default_prediction_app_big_data_spark.scratch import TMP_IO

    rows = REGISTRY["compression_codec_roundtrip"].fn(spark, sf_dir).collect()
    assert [r["codec"] for r in rows] == ["snappy", "zstd"]
    a, b = rows
    assert (a["n_rows"], a["revenue_cents"], a["key_checksum"]) == (
        b["n_rows"],
        b["revenue_cents"],
        b["key_checksum"],
    )
    sizes = {}
    for codec in ("snappy", "zstd"):
        files = glob.glob(os.path.join(TMP_IO, f"orders_codec_{codec}", "*.parquet"))
        assert files
        sizes[codec] = sum(os.path.getsize(f) for f in files)
    # zstd compresses strictly better on this data
    assert sizes["zstd"] < sizes["snappy"]


def test_mutual_information_matches_python(spark, sf_dir):
    import math

    from loan_default_prediction_app_big_data_spark.plans.credit import (
        _scored_orders,
    )
    from loan_default_prediction_app_big_data_spark.plans._core import t as _t

    # joint counts (band from the score congruence, segment via join)
    cells: dict[tuple, int] = {}
    cust = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in _t(spark, sf_dir, "customer").collect()
    }
    for r in _t(spark, sf_dir, "orders").collect():
        score = (
            ((r["o_orderkey"] % 99991) * 31 + (r["o_custkey"] % 99991) * 17)
            % 99991
            % 70000
            + (30000 if r["o_orderstatus"] == "F" else 0)
        )
        key = (score // 10000, cust[r["o_custkey"]])
        cells[key] = cells.get(key, 0) + 1
    nn = sum(cells.values())
    nx: dict[int, int] = {}
    ny: dict[str, int] = {}
    for (b, s), n in cells.items():
        nx[b] = nx.get(b, 0) + n
        ny[s] = ny.get(s, 0) + n
    mi = sum(
        round((n / nn) * math.log(n * nn / (nx[b] * ny[s])) * 1e9)
        for (b, s), n in cells.items()
    )
    hx = sum(round(-(n / nn) * math.log(n / nn) * 1e9) for n in nx.values())
    hy = sum(round(-(n / nn) * math.log(n / nn) * 1e9) for n in ny.values())
    got = REGISTRY["mutual_information_features"].fn(spark, sf_dir).collect()[0]
    assert got["mi_nano"] == mi
    assert got["hx_nano"] == hx and got["hy_nano"] == hy
    assert got["normalized_mi"] == round(mi / min(hx, hy), 6)
    assert got["mi_nano"] >= 0


def test_aes_sample_is_weight_biased(spark, sf_dir):
    """The A-ES sample must over-represent heavy documents: the mean
    weight of selected docs exceeds the corpus mean."""
    from loan_default_prediction_app_big_data_spark.plans._core import t as _t

    rows = REGISTRY["weighted_sample_without_replacement"].fn(spark, sf_dir).collect()
    assert len(rows) == 25
    assert len({r["doc_id"] for r in rows}) == 25  # without replacement
    corpus = [
        r["n_chars"]
        for r in _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0).collect()
    ]
    sample_mean = sum(r["n_chars"] for r in rows) / len(rows)
    assert sample_mean > sum(corpus) / len(corpus)


def test_rolling_beta_matches_python(spark, sf_dir):
    from loan_default_prediction_app_big_data_spark.plans._core import t as _t

    cust = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in _t(spark, sf_dir, "customer").collect()
    }
    daily: dict[int, list[int]] = {}
    for r in _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("us"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    ).collect():
        day = r["us"] // 86400000000
        acc = daily.setdefault(day, [0, 0])
        acc[0] += r["cents"]
        if cust[r["o_custkey"]] == "BUILDING":
            acc[1] += r["cents"]
    days = sorted(daily)
    got = {r["day"]: r["beta_28d"] for r in REGISTRY["rolling_beta_28d"].fn(spark, sf_dir).collect()}
    assert len(got) == max(0, len(days) - 27)
    import random

    for idx in random.Random(7).sample(range(27, len(days)), min(20, len(days) - 27)):
        frame = days[idx - 27 : idx + 1]
        xs = [daily[d][0] for d in frame]
        ys = [daily[d][1] for d in frame]
        n = 28
        sx, sy = sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx = sum(x * x for x in xs)
        beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        assert got[days[idx]] == round(beta, 6), days[idx]
