"""Planted-ground-truth tests for the text-prep tier (chunking,
packing, PII redaction, repetition, weighted sampling) plus the
partition-pruning plan assertion. The registry oracle tests cover
value parity against DuckDB; these pin the SEMANTICS on inputs where
the right answer is known by construction."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from loan_default_prediction_app_big_data_spark.operators.textprep import (
    KNUTH,
    MOD32,
    chunk_documents,
    pack_documents,
    redact_pii,
    repetition_stats,
    weighted_sample,
)
from tests.test_plans import formatted_plan


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_chunk_boundaries_exact(spark):
    # 32 tokens -> starts 1 and 25: one full window + an 8-token tail.
    words = " ".join(f"w{i}" for i in range(1, 33))
    out = chunk_documents(_docs(spark, [(1, "a", words)]), window=32, stride=24)
    rows = {r["chunk_idx"]: r for r in out.collect()}
    assert set(rows) == {0, 1}
    assert rows[0]["n_chunk_tokens"] == 32
    assert rows[1]["n_chunk_tokens"] == 8
    assert rows[1]["chunk_text"].split(" ")[0] == "w25"
    # overlap: last 8 tokens of chunk 0 == all of chunk 1
    assert rows[0]["chunk_text"].split(" ")[24:] == rows[1]["chunk_text"].split(" ")


def test_chunk_short_and_empty_docs(spark):
    out = chunk_documents(
        _docs(spark, [(1, "a", "only three tokens"), (2, "a", "")]),
        window=32,
        stride=24,
    )
    rows = out.collect()
    assert len(rows) == 1  # empty doc contributes nothing
    assert rows[0]["n_chunk_tokens"] == 3


def test_packing_bins_by_token_offset(spark):
    # 3 docs x 100 tokens in one shard, budget 256: offsets 0/100/200
    # -> all land in bin 0; 4th doc starts at 300 -> bin 1.
    txt = " ".join(["t"] * 100)
    out = pack_documents(
        _docs(spark, [(i, "s", txt) for i in range(1, 5)]), budget=256
    ).collect()
    bins = {r["bin"]: r for r in out}
    assert bins[0]["n_docs"] == 3 and bins[0]["bin_tokens"] == 300
    assert bins[1]["n_docs"] == 1 and bins[1]["first_doc"] == 4


def test_packing_is_per_shard_window(spark, sf_dir):
    """The running offset must be a PARTITIONED window — a global
    (empty-partition) window would serialize packing into one task."""
    plan = formatted_plan(spark, "context_packing", sf_dir)
    m = re.search(r"Window .*partitionBy", plan) or ("partition" in plan.lower())
    assert "Window" in plan
    assert not re.search(r"Window \[[^\]]*\], \[\]", plan)  # no empty partition spec


def test_redaction_masks_and_counts(spark):
    df = _docs(
        spark,
        [(1, "a", "mail bob.smith+x@corp.example.org or +1-555-123-4567 now")],
    )
    row = redact_pii(df, "text").collect()[0]
    assert row["n_emails"] == 1 and row["n_phones"] == 1
    assert "[EMAIL]" in row["text"] and "[PHONE]" in row["text"]
    assert "@" not in row["text"].replace("[EMAIL]", "")
    # negative control: clean text is untouched
    clean = redact_pii(_docs(spark, [(2, "a", "no pii here at all")]), "text")
    r2 = clean.collect()[0]
    assert r2["n_emails"] == 0 and r2["n_phones"] == 0
    assert r2["text"] == "no pii here at all"


def test_repetition_stats_planted(spark):
    # 8 tokens, 4 distinct, 'a' appears 4x -> distinct 0.5, top 0.5
    df = _docs(spark, [(1, "s", "a a b c a d a b")])
    r = repetition_stats(df).collect()[0]
    assert r["n_tokens"] == 8
    assert r["distinct_ratio"] == 0.5
    assert r["top_token_frac"] == 0.5


def test_weighted_sample_probability_scales_with_weight(spark):
    """Inclusion rate must track the weight: heavy rows ~4x the rate
    of light rows (weights 400 vs 100), and the selection must be
    exactly reproducible run-to-run."""
    rows = [(i, 100 if i % 2 == 0 else 400) for i in range(10000)]
    df = spark.createDataFrame(rows, "k long, w long")
    picked = weighted_sample(df, "k", "w", 2147484).collect()
    light = sum(1 for r in picked if r["w"] == 100)
    heavy = sum(1 for r in picked if r["w"] == 400)
    # expected ~5000*100*2147484/2^32 = 250 and ~1000
    assert 150 < light < 350
    assert 800 < heavy < 1200
    again = weighted_sample(df, "k", "w", 2147484).collect()
    assert sorted(r["k"] for r in again) == sorted(r["k"] for r in picked)
    # the hash draw matches the documented closed form
    r0 = picked[0]
    assert (r0["k"] * KNUTH) % MOD32 < r0["w"] * 2147484


def test_partitioned_scan_prunes(spark, sf_dir):
    plan = formatted_plan(spark, "partitioned_pruned_scan", sf_dir)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "o_year" in m.group(1), plan[:2000]
    # the year filter must NOT appear as a post-scan data filter
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed is None or "o_year" not in pushed.group(1)


def test_global_row_number_planted(spark):
    """Two-phase numbering must equal the naive global window on a
    planted frame with skewed key spacing."""
    from loan_default_prediction_app_big_data_spark.operators.relational import (
        global_row_number,
    )

    vals = [7, 1, 100, 42, 3, 99, 55, 2, 1000, 0]
    df = spark.createDataFrame([(v,) for v in vals], "k long")
    out = {r["k"]: r["rn"] for r in global_row_number(df, "k", n_partitions=4).collect()}
    expected = {v: i + 1 for i, v in enumerate(sorted(vals))}
    assert out == expected


def test_distributed_row_number_plan_is_partitioned(spark, sf_dir):
    """The data-side row_number window must be PARTITIONED (by __pid)
    and the offsets joined via broadcast — the single-partition stages
    may only touch the per-partition counts (metadata scale). The range
    shuffle itself is hidden behind the localCheckpoint that freezes
    the sampled boundaries."""
    plan = formatted_plan(spark, "distributed_row_number", sf_dir)
    assert "BroadcastHashJoin" in plan
    m = re.search(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan)
    assert m and "__pid" in m.group(1), m.group(0) if m else plan[:1500]


def test_prefix_jaccard_planted_recall_and_negative(spark):
    """Prefix filtering must be LOSSLESS at the threshold: a planted
    near-dup pair is found with the exact brute-force Jaccard, and
    unrelated docs produce no pair (negative control)."""
    from loan_default_prediction_app_big_data_spark.operators.dedup import (
        prefix_filtered_jaccard_join,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(f"tok{i}" for i in range(39)) + " changed"
    other = " ".join(f"zzz{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    out = prefix_filtered_jaccard_join(df, "doc_id", "text", k=3, threshold=0.6)
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    # exact jaccard: 38 shingles each, 37 shared -> 37/39 = 0.948718 (6dp grid)
    assert r["jaccard"] == 0.948718


def test_prefix_jaccard_bad_threshold_runs_no_job_and_pins_nothing(spark):
    """An invalid threshold must raise before any Spark job runs, so it
    leaves no block-manager pin behind."""
    from loan_default_prediction_app_big_data_spark.operators.dedup import (
        prefix_filtered_jaccard_join,
    )

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    jsc = spark.sparkContext._jsc.sc()

    def next_job_id():
        return int(jsc.dagScheduler().nextJobId())

    def n_pins():
        return len(jsc.getRDDStorageInfo())

    jobs0, pins0 = next_job_id(), n_pins()
    with pytest.raises(ValueError, match="1-decimal"):
        prefix_filtered_jaccard_join(df, threshold=0.65)
    assert (next_job_id() - jobs0, n_pins() - pins0) == (0, 0)


def test_prefix_jaccard_self_join_agrees_with_asym(spark):
    """The self-join's counts equal the asymmetric join of the frame
    with itself restricted to id_a < id_b (one kernel, two wrappers)."""
    from loan_default_prediction_app_big_data_spark.operators.dedup import (
        prefix_filtered_jaccard_join,
        prefix_filtered_jaccard_join_asym,
    )

    base = [f"w{i}" for i in range(30)]
    texts = [
        " ".join(base),
        " ".join(base[:29] + ["x"]),  # one edit: J well above 0.6
        " ".join(base[:22] + ["y"] * 8),  # borderline overlap
        " ".join(base[5:] + base[:5]),  # rotation: shares most shingles
        " ".join(f"z{i}" for i in range(30)),  # negative control
        "w0 w1",  # shorter than k: one shingle
    ]
    df = spark.createDataFrame(
        list(enumerate(texts, start=1)), "doc_id long, text string"
    )
    sym = prefix_filtered_jaccard_join(df, threshold=0.6, with_counts=True)
    asym = prefix_filtered_jaccard_join_asym(df, df, threshold=0.6).filter(
        F.col("id_a") < F.col("id_b")
    )
    got = sorted(tuple(r) for r in sym.collect())
    assert got == sorted(tuple(r) for r in asym.collect())
    assert (1, 2, 27, 29) in got  # planted near-dup found with exact counts


def test_decontamination_planted_flag_and_negative(spark):
    from loan_default_prediction_app_big_data_spark.operators.textprep import (
        benchmark_decontamination,
    )

    bench = _docs(spark, [(100, "b", "alpha beta gamma delta epsilon zeta")])
    cands = _docs(
        spark,
        [
            # verbatim copy of the benchmark doc -> ratio 1.0, flagged
            (1, "a", "alpha beta gamma delta epsilon zeta"),
            # disjoint vocabulary -> ratio 0.0, not flagged
            (2, "a", "one two three four five six seven"),
            # shares a 2-token run but no 3-gram -> ratio 0.0
            (3, "a", "alpha beta unrelated words here now"),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in benchmark_decontamination(cands, bench, k=3, tau_pct=10).collect()
    }
    assert out[1]["contamination_ratio"] == 1.0 and out[1]["is_contaminated"] == 1
    assert out[2]["n_contaminated"] == 0 and out[2]["is_contaminated"] == 0
    assert out[3]["n_contaminated"] == 0  # 2-token overlap is below k=3
    # every candidate with >=1 token is reported (zero-overlap included)
    assert set(out) == {1, 2, 3}


def test_decontamination_benchmark_side_broadcasts(spark, sf_dir):
    plan = formatted_plan(spark, "benchmark_decontamination", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_ranks_term_rich_docs_first(spark, sf_dir):
    from loan_default_prediction_app_big_data_spark.plans.registry import REGISTRY

    rows = REGISTRY["bm25_topk"].fn(spark, sf_dir).collect()
    assert len(rows) == 20
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert scores[0] > 0.0
    # top doc must actually contain at least one query term
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    top_text = docs.filter(F.col("doc_id") == rows[0]["doc_id"]).first()["text"]
    assert any(t in top_text.split(" ") for t in ("spark", "hash", "window"))


def test_group_aware_split_no_customer_leakage(spark, sf_dir):
    from loan_default_prediction_app_big_data_spark.operators.textprep import KNUTH, MOD32

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    split = orders.withColumn(
        "split",
        F.when(
            (F.col("o_custkey") * F.lit(KNUTH)) % F.lit(MOD32) < F.lit(int(0.8 * MOD32)),
            F.lit("train"),
        ).otherwise(F.lit("test")),
    )
    leaked = (
        split.groupBy("o_custkey")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert leaked == 0
    frac = (
        split.filter(F.col("split") == "train").count() / max(split.count(), 1)
    )
    assert 0.7 < frac < 0.9  # hash split tracks the 80% target
