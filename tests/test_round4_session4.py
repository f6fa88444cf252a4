"""Spectral-analysis and SemDeDup tests (round-4 session 4)."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from loan_default_prediction_app_big_data_spark.operators.multimodal import (
    decode_wav,
    encode_wav_pcm16,
    square_wave_samples,
)


def test_square_wave_peak_dominates_for_every_reachable_bin():
    """The oracle's peak_bin = k claim must hold for ALL 96 bins the
    congruence can produce (k in 5..100 of N=256), both amplitudes —
    exhaustive, so no doc_id at any sf can break it."""
    N = 256
    for k in range(5, 101):
        x = np.array(square_wave_samples(0, N, k, 1000), dtype=np.float64)
        mag2 = np.abs(np.fft.rfft(x)) ** 2
        assert 1 + int(np.argmax(mag2[1:])) == k, k


def test_square_wave_wav_roundtrip():
    samples = square_wave_samples(3, 256, 17, 5000)
    wav = encode_wav_pcm16(8000, 1, samples)
    rate, n_ch, back = decode_wav(wav)
    assert (rate, n_ch) == (8000, 1)
    assert back == samples


def test_spectral_peaks_query_properties(spark, sf_dir):
    from loan_default_prediction_app_big_data_spark.plans.registry import REGISTRY

    rows = REGISTRY["audio_spectral_peaks"].fn(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["peak_matches"] is True
        assert r["parseval_ok"] is True
        assert r["peak_bin"] == r["expected_bin"]
        assert r["energy"] == 256 * r["amp"] ** 2  # square wave identity


def test_semdedup_partition_identities(spark, sf_dir):
    """kept + pruned = assigned per cluster; every embedding >= 8 is
    assigned to exactly one of the 8 clusters."""
    from loan_default_prediction_app_big_data_spark.plans._core import t
    from loan_default_prediction_app_big_data_spark.plans.registry import REGISTRY

    rows = REGISTRY["semdedup_cluster_prune"].fn(spark, sf_dir).collect()
    assert 1 <= len(rows) <= 8
    total = 0
    for r in rows:
        assert r["n_kept"] + r["n_pruned"] == r["n_assigned"]
        assert 0 <= r["cid"] < 8
        total += r["n_assigned"]
    n_vectors = (
        t(spark, sf_dir, "embeddings").filter(F.col("vec_id") >= 8).count()
    )
    assert total == n_vectors


def test_semdedup_prune_keeps_min_id_of_planted_pair(spark):
    """Plant an exact duplicate pair in a tiny corpus: the higher id
    must be pruned, the lower kept."""
    from loan_default_prediction_app_big_data_spark.plans import (
        _q12_round4_session4 as m,
    )

    # 8 orthogonal-ish centroids (ids 0..7) + members: 10/11 duplicates
    # near centroid 0, 12 alone near centroid 1.
    dim = 4
    def unit(i):
        v = [0.0] * dim
        v[i % dim] = 1.0 if i < dim else -1.0
        return v

    rows = [(i, unit(i)) for i in range(8)]
    rows += [(10, [1.0, 0.01, 0.0, 0.0]), (11, [1.0, 0.01, 0.0, 0.0]),
             (12, [0.02, 1.0, 0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    import os
    import shutil

    from loan_default_prediction_app_big_data_spark.scratch import tmp_io

    d = tmp_io("semdedup_test")
    try:
        emb.write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
        out = {r["cid"]: r for r in m.semdedup_cluster_prune(spark, d).collect()}
        assert out[0]["n_assigned"] == 2 and out[0]["n_pruned"] == 1
        assert out[0]["sum_kept_vec_id"] == 10  # min id kept
        assert out[1]["n_assigned"] == 1 and out[1]["n_pruned"] == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_kmeans_covers_all_points_and_recovers_quadrants(spark, sf_dir):
    """Every customer lands in exactly one cluster, and after two Lloyd
    rounds each centroid stays in its seed's lat hemisphere (the
    congruence coords are ~uniform, so quadrant seeds cannot migrate
    across the equator)."""
    from pyspark.sql import functions as F

    from loan_default_prediction_app_big_data_spark.plans._core import t
    from loan_default_prediction_app_big_data_spark.plans.registry import REGISTRY

    rows = REGISTRY["kmeans_lloyd_exact"].fn(spark, sf_dir).collect()
    assert {r["cid"] for r in rows} == {1, 2, 3, 4}
    n_cust = t(spark, sf_dir, "customer").count()
    assert sum(r["n_points"] for r in rows) == n_cust
    for r in rows:
        assert r["cent_lat"] == r["sum_lat"] // r["n_points"]  # floor div
        if r["cid"] in (1, 2):
            assert r["cent_lat"] > 0
        else:
            assert r["cent_lat"] < 0


def test_dtw_identity_and_reference(spark):
    """DTW(x,x) = 0, and the unrolled alias chain must equal an
    independent Python DP on random integer profiles."""
    import random

    from loan_default_prediction_app_big_data_spark.plans._q12_round4_session4 import (
        _dtw_alias_chain,
    )

    rng = random.Random(7)
    profs = [[rng.randrange(0, 1000) for _ in range(7)] for _ in range(6)]

    def ref_dtw(a, b):
        import math
        D = [[math.inf] * 7 for _ in range(7)]
        for i in range(7):
            for j in range(7):
                c = abs(a[i] - b[j])
                if i == 0 and j == 0:
                    D[i][j] = c
                elif i == 0:
                    D[i][j] = c + D[0][j - 1]
                elif j == 0:
                    D[i][j] = c + D[i - 1][0]
                else:
                    D[i][j] = c + min(D[i - 1][j], D[i][j - 1], D[i - 1][j - 1])
        return D[6][6]

    rows = [(i, j, profs[i], profs[j]) for i in range(6) for j in range(6)]
    df = spark.createDataFrame(
        rows, "ia long, ib long, va array<long>, vb array<long>"
    )
    dp = df.selectExpr("ia", "ib", *_dtw_alias_chain("element_at"))
    got = {(r["ia"], r["ib"]): r["d_6_6"] for r in dp.collect()}
    for i in range(6):
        assert got[(i, i)] == 0  # identity
        for j in range(6):
            assert got[(i, j)] == ref_dtw(profs[i], profs[j])
            assert got[(i, j)] == got[(j, i)]  # symmetric costs


def test_viterbi_matches_hand_dp(spark):
    """Viterbi operator vs a hand-rolled DP on a tiny sequence."""
    from loan_default_prediction_app_big_data_spark.operators.timeseries import (
        viterbi_two_state,
    )

    e0 = {"a": 2, "b": -3}
    e1 = {"a": -1, "b": 4}
    obs = ["a", "a", "b", "b", "a"]
    rows = [(1, i, o) for i, o in enumerate(obs)]
    df = spark.createDataFrame(rows, "user_id long, i long, obs string")
    got = viterbi_two_state(
        df, ["user_id"], ["i"], "obs", e0, e1,
        trans=(1, -2, -2, 1), init=(0, -1),
    ).collect()[0]

    v0, v1 = 0 + e0[obs[0]], -1 + e1[obs[0]]
    for o in obs[1:]:
        v0, v1 = (e0[o] + max(v0 + 1, v1 - 2), e1[o] + max(v0 - 2, v1 + 1))
    assert (got["v0"], got["v1"]) == (v0, v1)
    assert got["best_score"] == max(v0, v1)
    assert got["n_obs"] == 5
