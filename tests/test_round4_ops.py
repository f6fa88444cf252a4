"""Round-4 operator tests: real BMP/PPM image codecs.

The multimodal tier's decode step was a documented stub through round 3
(no codec libraries in the container). Round 4 adds two REAL pure-Python
codecs — 24-bpp uncompressed BMP and binary P6 PPM — and a registered
oracle query (``image_decode_stats``) whose DuckDB twin recomputes every
decoded value analytically. These tests pin the codec edge cases the
oracle can't isolate: row padding, bottom-up vs top-down row order,
BGR channel order, header comments, and malformed-input rejection.
"""

from __future__ import annotations

import pytest

from loan_default_prediction_app_big_data_spark.operators.multimodal import (
    decode_bmp,
    decode_image_stats,
    decode_ppm,
    encode_bmp_rgb,
    encode_ppm_rgb,
    synth_image_payloads,
)


def _pattern(w: int, h: int, seed: int = 7) -> list[tuple[int, int, int]]:
    return [
        tuple((seed * 2654435761 + (3 * p + j) * 40503) % 256 for j in range(3))
        for p in range(w * h)
    ]


@pytest.mark.parametrize("w,h", [(5, 3), (6, 4), (7, 5), (8, 2), (1, 1)])
def test_bmp_roundtrip_all_pad_widths(w, h):
    # widths 5..8 hit every 4-byte row-pad value (1, 2, 3, 0)
    rgb = _pattern(w, h)
    payload = encode_bmp_rgb(w, h, rgb)
    stride = (w * 3 + 3) & ~3
    assert len(payload) == 54 + stride * h
    assert decode_bmp(payload) == (w, h, rgb)


def test_bmp_top_down_negative_height():
    # biHeight < 0 means rows are stored top-down (no flip) — flip the
    # encoder's bottom-up raster by hand and negate the height field.
    import struct

    w, h = 7, 5
    rgb = _pattern(w, h)
    payload = bytearray(encode_bmp_rgb(w, h, rgb))
    stride = (w * 3 + 3) & ~3
    rows = [payload[54 + y * stride : 54 + (y + 1) * stride] for y in range(h)]
    payload[54:] = b"".join(reversed(rows))
    struct.pack_into("<i", payload, 22, -h)
    assert decode_bmp(bytes(payload)) == (w, h, rgb)


def test_bmp_rejects_unsupported():
    with pytest.raises(ValueError):
        decode_bmp(b"PNG rubbish")
    payload = bytearray(encode_bmp_rgb(3, 3, _pattern(3, 3)))
    payload[28] = 8  # 8 bpp palette — unsupported
    with pytest.raises(ValueError):
        decode_bmp(bytes(payload))


def test_ppm_roundtrip_and_comments():
    w, h = 6, 4
    rgb = _pattern(w, h)
    payload = encode_ppm_rgb(w, h, rgb)
    assert decode_ppm(payload) == (w, h, rgb)
    # header comments and arbitrary whitespace are legal PPM
    commented = (
        b"P6\n# synthetic test image\n  "
        + f"{w} # width\n {h}\n# maxval next\n255\n".encode()
        + payload[payload.index(b"255\n") + 4 :]
    )
    assert decode_ppm(commented) == (w, h, rgb)


def test_ppm_rejects_unsupported():
    with pytest.raises(ValueError):
        decode_ppm(b"P3\n1 1\n255\n0 0 0")  # ASCII PPM, not P6
    with pytest.raises(ValueError):
        decode_ppm(b"P6\n1 1\n65535\n\x00\x00\x00\x00\x00\x00")


def test_bmp_ppm_agree_on_same_pixels():
    w, h = 8, 3
    rgb = _pattern(w, h, seed=11)
    assert decode_bmp(encode_bmp_rgb(w, h, rgb))[2] == decode_ppm(
        encode_ppm_rgb(w, h, rgb)
    )[2]


def test_decode_image_stats_distributed(spark):
    # End-to-end through Spark: synth per-doc dims -> Arrow-batched
    # decode of the real bytes -> analytic expectations.
    from pyspark.sql import functions as F

    docs = spark.range(0, 24).select(
        F.col("id").alias("doc_id"),
        (F.lit(5) + F.col("id") % 4).cast("int").alias("w"),
        (F.lit(3) + F.col("id") % 3).cast("int").alias("h"),
    )
    out = {
        r["doc_id"]: r
        for r in decode_image_stats(synth_image_payloads(docs)).collect()
    }
    assert len(out) == 24
    for d in range(24):
        w, h = 5 + d % 4, 3 + d % 3
        rgb = _pattern(w, h, seed=d)
        row = out[d]
        assert (row["width"], row["height"]) == (w, h)
        assert row["n_bytes_bmp"] == 54 + ((w * 3 + 3) & ~3) * h
        assert row["n_bytes_ppm"] == 11 + 3 * w * h
        assert row["sum_r"] == sum(p[0] for p in rgb)
        assert row["sum_g"] == sum(p[1] for p in rgb)
        assert row["sum_b"] == sum(p[2] for p in rgb)
        assert row["first_px_r"] == rgb[0][0]
        assert row["formats_agree"]


# ---------------------------------------------------------------------
# WAV (RIFF 16-bit PCM) — the audio modality's real codec
# ---------------------------------------------------------------------


def _samples(n: int, seed: int = 7) -> list[int]:
    return [((seed * 2654435761 + k * 40503) % 65536) - 32768 for k in range(n)]


@pytest.mark.parametrize("rate,n_ch,n_frames", [(8000, 1, 40), (16000, 2, 33), (44100, 2, 1)])
def test_wav_roundtrip(rate, n_ch, n_frames):
    from loan_default_prediction_app_big_data_spark.operators.multimodal import (
        decode_wav,
        encode_wav_pcm16,
    )

    samples = _samples(n_frames * n_ch)
    payload = encode_wav_pcm16(rate, n_ch, samples)
    assert len(payload) == 44 + 2 * len(samples)
    assert decode_wav(payload) == (rate, n_ch, samples)


def test_wav_tolerates_extra_chunks_and_padding():
    # real-world encoders put LIST/INFO chunks between fmt and data,
    # and odd-size chunks get a pad byte — the chunk walk must skip both
    import struct

    from loan_default_prediction_app_big_data_spark.operators.multimodal import (
        decode_wav,
        encode_wav_pcm16,
    )

    samples = _samples(10)
    payload = encode_wav_pcm16(8000, 1, samples)
    fmt_chunk = payload[12:36]
    data_chunk = payload[36:]
    extra = struct.pack("<4sI", b"LIST", 5) + b"INFOx" + b"\x00"  # odd size + pad
    doctored = payload[:12] + fmt_chunk + extra + data_chunk
    assert decode_wav(doctored) == (8000, 1, samples)


def test_wav_rejects_unsupported():
    from loan_default_prediction_app_big_data_spark.operators.multimodal import (
        decode_wav,
        encode_wav_pcm16,
    )

    with pytest.raises(ValueError):
        decode_wav(b"OggS not a riff")
    payload = bytearray(encode_wav_pcm16(8000, 1, _samples(4)))
    payload[20] = 3  # IEEE-float format tag
    with pytest.raises(ValueError):
        decode_wav(bytes(payload))


# ---------------------------------------------------------------------
# YUV4MPEG2 (.y4m C420) — the video modality's real codec
# ---------------------------------------------------------------------


def _y4m_frames(w: int, h: int, n: int, seed: int = 7) -> list[bytes]:
    frame_size = w * h + 2 * (w // 2) * (h // 2)
    return [
        bytes(
            (seed * 2654435761 + (f * frame_size + i) * 40503) % 256
            for i in range(frame_size)
        )
        for f in range(n)
    ]


@pytest.mark.parametrize("w,h,n", [(6, 4, 2), (8, 6, 3), (10, 4, 4), (2, 2, 1)])
def test_y4m_roundtrip(w, h, n):
    from loan_default_prediction_app_big_data_spark.operators.multimodal import (
        decode_y4m,
        encode_y4m,
    )

    frames = _y4m_frames(w, h, n)
    payload = encode_y4m(w, h, 30000, 1001, frames)
    dw, dh, fn, fd, decoded = decode_y4m(payload)
    assert (dw, dh, fn, fd) == (w, h, 30000, 1001)
    assert len(decoded) == n
    y_size, c_size = w * h, (w // 2) * (h // 2)
    for f, (y, u, v) in zip(frames, decoded):
        assert y + u + v == f
        assert (len(y), len(u), len(v)) == (y_size, c_size, c_size)


def test_y4m_rejects_unsupported():
    from loan_default_prediction_app_big_data_spark.operators.multimodal import (
        decode_y4m,
        encode_y4m,
    )

    with pytest.raises(ValueError):
        decode_y4m(b"RIFF....WAVE\n")
    c444 = b"YUV4MPEG2 W4 H4 F25:1 Ip A1:1 C444\n" + b"FRAME\n" + b"\x00" * 48
    with pytest.raises(ValueError):
        decode_y4m(c444)
    truncated = encode_y4m(4, 4, 25, 1, _y4m_frames(4, 4, 1))[:-5]
    with pytest.raises(ValueError):
        decode_y4m(truncated)


def test_audio_video_decode_distributed(spark):
    from pyspark.sql import functions as F

    from loan_default_prediction_app_big_data_spark.operators.multimodal import (
        decode_audio_stats,
        decode_video_stats,
        synth_audio_payloads,
        synth_video_payloads,
    )

    docs = spark.range(0, 18).select(
        F.col("id").alias("doc_id"),
        (F.lit(8000) + F.lit(4000) * (F.col("id") % 3)).cast("int").alias("rate"),
        (F.lit(1) + F.col("id") % 2).cast("int").alias("n_ch"),
        (F.lit(5) + F.col("id") % 4).cast("int").alias("n_frames"),
    )
    audio = {r["doc_id"]: r for r in decode_audio_stats(synth_audio_payloads(docs)).collect()}
    assert len(audio) == 18
    for d in range(18):
        rate, n_ch, n_frames = 8000 + 4000 * (d % 3), 1 + d % 2, 5 + d % 4
        s = _samples(n_frames * n_ch, seed=d)
        row = audio[d]
        assert (row["sample_rate"], row["n_channels"], row["n_frames"]) == (rate, n_ch, n_frames)
        assert row["duration_us"] == n_frames * 1_000_000 // rate
        assert row["sum_ch0"] == sum(s[::n_ch])
        assert row["sum_abs"] == sum(abs(x) for x in s)

    vdocs = spark.range(0, 12).select(
        F.col("id").alias("doc_id"),
        (F.lit(6) + F.lit(2) * (F.col("id") % 3)).cast("int").alias("w"),
        (F.lit(4) + F.lit(2) * (F.col("id") % 2)).cast("int").alias("h"),
        (F.lit(2) + F.col("id") % 3).cast("int").alias("n_frames"),
    )
    video = {r["doc_id"]: r for r in decode_video_stats(synth_video_payloads(vdocs)).collect()}
    assert len(video) == 12
    for d in range(12):
        w, h, n = 6 + 2 * (d % 3), 4 + 2 * (d % 2), 2 + d % 3
        frames = _y4m_frames(w, h, n, seed=d)
        row = video[d]
        y_size, c_size = w * h, (w // 2) * (h // 2)
        assert (row["width"], row["height"], row["n_frames"]) == (w, h, n)
        assert row["sum_y"] == sum(sum(f[:y_size]) for f in frames)
        assert row["sum_u"] == sum(sum(f[y_size : y_size + c_size]) for f in frames)
        assert row["sum_v"] == sum(sum(f[y_size + c_size :]) for f in frames)


# ---------------------------------------------------------------------
# Pure-Python Avro Object Container File connector
# ---------------------------------------------------------------------


AVRO_SCHEMA = {
    "type": "record",
    "name": "r",
    "fields": [
        {"name": "k", "type": "long"},
        {"name": "s", "type": "string"},
        {"name": "d", "type": ["null", "double"]},
        {"name": "flag", "type": "boolean"},
        {"name": "payload", "type": "bytes"},
        {"name": "emb", "type": {"type": "array", "items": "float"}},
        {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
    ],
}

AVRO_ROWS = [
    (1, "héllo wörld", 3.25, True, b"\x00\x01\xff", [1.5, -2.25], 1_700_000_000_000_000),
    (-42, "", None, False, b"", [], -5),
    (2**62, "x" * 300, -0.0, True, bytes(range(256)), [0.5] * 7, 0),
    (-(2**62), "tab\there", 1e-300, False, b"\x80", [3.0], 2**61),
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_avro_container_roundtrip(tmp_path, codec):
    from loan_default_prediction_app_big_data_spark.sources.avro_py import (
        read_container,
        write_container,
    )

    p = str(tmp_path / f"t_{codec}.avro")
    # block_rows=2 forces multiple sync-marked blocks
    assert write_container(p, AVRO_SCHEMA, AVRO_ROWS, codec=codec, block_rows=2) == 4
    schema, back = read_container(p)
    assert schema == AVRO_SCHEMA
    assert back == AVRO_ROWS


def test_avro_detects_corruption(tmp_path):
    from loan_default_prediction_app_big_data_spark.sources.avro_py import (
        read_container,
        write_container,
    )

    p = str(tmp_path / "c.avro")
    write_container(p, AVRO_SCHEMA, AVRO_ROWS, codec="null", block_rows=2)
    data = bytearray(open(p, "rb").read())
    data[-3] ^= 0xFF  # flip a byte inside the trailing sync marker
    open(p, "wb").write(bytes(data))
    with pytest.raises(ValueError, match="sync marker"):
        read_container(p)
    with pytest.raises(ValueError, match="not an Avro"):
        read_container(__file__)


def test_avro_spark_datasource_multi_file(spark, tmp_path):
    from pyspark.sql import functions as F

    from loan_default_prediction_app_big_data_spark.sources.avro_py import (
        register_avro_source,
        write_avro_partitions,
    )

    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "v", "type": ["null", "double"]},
            {"name": "name", "type": "string"},
        ],
    }
    src = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 7 == 0, F.lit(None))
        .otherwise(F.col("id") * 1.5)
        .alias("v"),
        F.concat(F.lit("row-"), F.col("id")).alias("name"),
    ).repartition(5)
    out = str(tmp_path / "avro_ds")
    meta = write_avro_partitions(src, out, schema, codec="deflate").collect()
    assert len(meta) == 5 and sum(r["n_rows"] for r in meta) == 1000

    register_avro_source(spark)
    back = spark.read.format("avro_py").load(out)
    # schema inferred from the embedded avro.schema JSON
    assert [f.simpleString() for f in back.schema.fields] == [
        "k:bigint", "v:double", "name:string",
    ]
    rows = {r["k"]: r for r in back.collect()}
    assert len(rows) == 1000
    for k in (0, 7, 693):
        assert rows[k]["v"] is None
    for k in (1, 500, 999):
        assert rows[k]["v"] == k * 1.5
        assert rows[k]["name"] == f"row-{k}"


# ---------------------------------------------------------------------
# Misra-Gries mergeable heavy-hitters sketch
# ---------------------------------------------------------------------


def test_misra_gries_bound_single_pass():
    from collections import Counter

    from loan_default_prediction_app_big_data_spark.operators.sketches import (
        misra_gries_partition,
    )

    # adversarial interleaving: heavy items buried in a distinct tail
    stream = []
    for i in range(3000):
        stream.append(f"tail-{i}")
        if i % 3 == 0:
            stream.append("A")
        if i % 5 == 0:
            stream.append("B")
    truth = Counter(stream)
    for k in (9, 31, 101):
        est = misra_gries_partition(iter(stream), k)
        n = len(stream)
        assert len(est) <= k
        for item, e in est.items():
            assert e <= truth[item]
            assert truth[item] - e <= n // (k + 1) + 1
        # containment: every true heavy hitter must surface
        for item, c in truth.items():
            if c * (k + 1) > n:
                assert item in est, (k, item)


def test_misra_gries_merge_preserves_bound():
    from collections import Counter

    from loan_default_prediction_app_big_data_spark.operators.sketches import (
        misra_gries_partition,
    )

    k = 15
    parts = [
        ["X"] * 200 + [f"p0-{i}" for i in range(900)],
        ["X"] * 150 + ["Y"] * 300 + [f"p1-{i}" for i in range(700)],
        [f"p2-{i}" for i in range(500)] + ["Y"] * 100,
    ]
    merged: Counter = Counter()
    for p in parts:
        merged.update(misra_gries_partition(iter(p), k))
    truth = Counter(x for p in parts for x in p)
    n = sum(len(p) for p in parts)
    for item, c in truth.items():
        est = merged.get(item, 0)
        assert est <= c
        assert c - est <= n // (k + 1) + 1
        if c * (k + 1) > n:
            assert item in merged


def test_heavy_hitters_distributed(spark):
    from pyspark.sql import functions as F

    from loan_default_prediction_app_big_data_spark.operators.sketches import (
        heavy_hitters,
    )

    k = 20
    df = spark.range(0, 30_000).select(
        F.when(F.col("id") % 2 == 0, F.concat(F.lit("hot-"), (F.col("id") % 3).cast("string")))
        .otherwise(F.concat(F.lit("cold-"), F.col("id").cast("string")))
        .alias("item")
    ).repartition(16)
    est = {r["item"]: r["est"] for r in heavy_hitters(df, "item", k).collect()}
    n = 30_000
    # three hot items at ~16.7% each must all surface with est <= true
    # and undercount <= N/(k+1)
    for h in range(3):
        item = f"hot-{h}"
        true = 5000
        assert item in est
        assert est[item] <= true
        assert true - est[item] <= n // (k + 1)


def test_edit_distance_join_matches_bruteforce(spark, tmp_path):
    # Planted vocabulary stressing the candidate filter: repeated
    # bigrams, edits at both ends, just-inside/just-outside pairs.
    import itertools
    import os

    vocab = [
        "banana", "bananas", "bandana", "cabana",  # clustered edits
        "aaaaaaa", "aaabaaa", "aabbaaa",           # repeated grams
        "windmill", "windmilk", "windmills",
        "quartz", "quaritz", "wombat",             # insert middle / unrelated
    ]
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(
        [(i, v) for i, v in enumerate(vocab)], "p_partkey long, p_name string"
    ).write.parquet(os.path.join(sf, "part.parquet"))

    from loan_default_prediction_app_big_data_spark.plans.text import (
        edit_distance_threshold_join,
    )

    got = {
        (r["key_a"], r["key_b"]): r["edit_dist"]
        for r in edit_distance_threshold_join(spark, sf).collect()
    }

    def lev(s, t):
        prev = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            cur = [i]
            for j, ct in enumerate(t, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (cs != ct)))
            prev = cur
        return prev[-1]

    want = {
        (i, j): lev(vocab[i], vocab[j])
        for i, j in itertools.combinations(range(len(vocab)), 2)
        if lev(vocab[i], vocab[j]) <= 2
    }
    assert got == want
    assert len(want) >= 5  # the planted clusters actually exercise it


def test_temperature_sampling_mix_properties(spark):
    import math

    from loan_default_prediction_app_big_data_spark.plans.text import (
        temperature_sampling_mix,
    )

    rows = temperature_sampling_mix(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 1
    nat = sum(r["natural_share"] for r in rows)
    adj = sum(r["adj_share"] for r in rows)
    assert math.isclose(nat, 1.0, abs_tol=1e-4)
    assert math.isclose(adj, 1.0, abs_tol=1e-4)
    # temperature flattening: smallest source boosted, largest damped
    smallest = min(rows, key=lambda r: r["chars"])
    largest = max(rows, key=lambda r: r["chars"])
    assert smallest["boost"] > 1.0
    assert largest["boost"] < 1.0
    # order statistics preserved: adj shares are monotone in chars
    by_chars = sorted(rows, key=lambda r: r["chars"])
    shares = [r["adj_share"] for r in by_chars]
    assert shares == sorted(shares)


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Star-join DPP: a selective filter on the dim side must prune the
    date-partitioned fact's partitions AT RUNTIME (dynamicpruning
    subquery in the scan), not scan all partitions. This is the
    mechanism that makes dim-filtered 100 TB star joins read only the
    matching fact partitions."""
    import os

    from pyspark.sql import functions as F

    fact_dir = str(tmp_path / "fact")
    fact = spark.range(0, 20_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 40).cast("string").alias("day"),
        (F.col("id") * 3 % 1000).alias("v"),
    )
    fact.write.partitionBy("day").mode("overwrite").parquet(fact_dir)

    dim = spark.createDataFrame(
        [(str(d), "keep" if d < 4 else "drop") for d in range(40)],
        "day string, tag string",
    )
    scan = spark.read.parquet(fact_dir)
    joined = (
        scan.join(F.broadcast(dim), "day")
        .filter(F.col("tag") == "keep")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    row = joined.first()
    # days 0..3 -> ids with id % 40 in {0,1,2,3}: 500 ids each
    assert row["n"] == 2000
    expected = sum(i * 3 % 1000 for i in range(20_000) if i % 40 < 4)
    assert row["sv"] == expected


def test_record_linkage_planted_duplicates(spark, tmp_path):
    """Planted twin records must score as matches; unrelated records in
    the same block must not."""
    import os

    from pyspark.sql import functions as F  # noqa: F401

    rows = [
        # twins: same segment, same balance band, same name suffix, same parity
        (100, "Customer#000000100", 1, 500.00, "BUILDING"),
        (200, "Customer#000000100", 1, 512.34, "BUILDING"),
        # same block, nothing in common beyond it
        (101, "Customer#000000101", 1, 9100.77, "MACHINERY"),
        (303, "Customer#000000303", 1, 150.00, "FURNITURE"),
        # different block entirely — must never pair with the above
        (400, "Customer#000000400", 2, 500.00, "BUILDING"),
    ]
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    ).write.parquet(os.path.join(sf, "customer.parquet"))

    from loan_default_prediction_app_big_data_spark.plans.text import (
        record_linkage_fellegi_sunter,
    )

    out = {(r["key_a"], r["key_b"]): r for r in record_linkage_fellegi_sunter(spark, sf).collect()}
    assert (100, 200) in out
    twin = out[(100, 200)]
    assert twin["is_match"]
    assert twin["seg_agree"] and twin["bal_agree"] and twin["suffix_agree"] and twin["parity_agree"]
    assert twin["lr_num"] == 90 * 85 * 95 * 98
    assert twin["lr_den"] == 20 * 2 * 1 * 50
    # cross-block pairs are never candidates
    assert not any(400 in k for k in out)
    # the unrelated same-block pair fails even the LR>10 review filter
    assert (101, 303) not in out


def test_shapley_attribution_axioms(spark, tmp_path):
    """Planted funnel: efficiency (shares sum to v(N)), dummy (a
    channel reaching no converted user gets zero credit), and
    symmetry (interchangeable channels get equal credit)."""
    import os
    from datetime import datetime

    rows = []
    eid = 0

    def add(user, typ):
        nonlocal eid
        # event_id % 50 == 0 keeps every touch eligible for all
        # channels' thinning thresholds (< 3/4/5/6)
        rows.append((eid * 50, datetime(2024, 1, 1), user, typ, 1.0, "{}"))
        eid += 1

    # users 1,2: click+error touched, converted (symmetric channels)
    for u in (1, 2):
        add(u, "click"); add(u, "error"); add(u, "purchase")
    # user 3: view only, converted
    add(3, "view"); add(3, "purchase")
    # user 4: signup touched but NOT converted -> signup is a dummy
    add(4, "signup")
    # user 5: converted but untouched (no channels) -> unreachable
    add(5, "purchase")

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(os.path.join(sf, "events.parquet"))

    from loan_default_prediction_app_big_data_spark.plans.credit import (
        shapley_channel_attribution,
    )

    out = {r["channel"]: r for r in shapley_channel_attribution(spark, sf).collect()}
    # efficiency: total credit = 24 * v(N) = 24 * 3 reachable conversions
    assert sum(r["phi_x24"] for r in out.values()) == 24 * 3
    # dummy: signup reached no converted user
    assert out["signup"]["phi_x24"] == 0
    # symmetry: click and error are interchangeable for users 1,2
    assert out["click"]["phi_x24"] == out["error"]["phi_x24"]
    # view alone credits user 3's conversion fully
    assert out["view"]["phi_x24"] == 24


def test_quantile_normalization_equalizes_marginals(spark):
    from collections import defaultdict

    from loan_default_prediction_app_big_data_spark.plans.text import (
        quantile_normalization,
    )

    rows = quantile_normalization(spark, "/root/testdata/sf0.01").collect()
    by_source = defaultdict(list)
    for r in rows:
        by_source[r["source"]].append(r["normalized_value"])
    dists = {s: sorted(v) for s, v in by_source.items()}
    sizes = {len(v) for v in dists.values()}
    # sf0.01 has equal source sizes -> identical marginals afterwards
    assert len(sizes) == 1
    ref = next(iter(dists.values()))
    assert all(v == ref for v in dists.values())
    # normalization preserves within-source ordering
    for r in rows:
        assert r["normalized_value"] >= 0


# ---------------------------------------------------------------------
# Minimal Delta Lake protocol (sources/delta_py.py)
# ---------------------------------------------------------------------


def test_delta_log_replay_and_time_travel(spark, tmp_path):
    from pyspark.sql import functions as F

    from loan_default_prediction_app_big_data_spark.sources.delta_py import (
        commit_append,
        commit_overwrite,
        read_delta,
        snapshot_files,
        table_versions,
    )

    path = str(tmp_path / "dt")
    assert commit_append(path, spark.range(0, 100).select(F.col("id").alias("k"))) == 0
    assert commit_append(path, spark.range(100, 250).select(F.col("id").alias("k"))) == 1
    assert commit_overwrite(path, spark.range(0, 7).select(F.col("id").alias("k"))) == 2
    assert table_versions(path) == [0, 1, 2]

    assert read_delta(spark, path, version=0).count() == 100
    assert read_delta(spark, path, version=1).count() == 250  # append composes
    assert read_delta(spark, path).count() == 7  # overwrite replaces
    # MVCC: the overwrite remove-marked v1's files but did not delete
    # them — old snapshots stay readable and disjoint from the new one
    v1_files = set(snapshot_files(path, 1))
    v2_files = set(snapshot_files(path, 2))
    assert v1_files and v2_files and not (v1_files & v2_files)
    assert all(__import__("os").path.exists(f) for f in v1_files)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        snapshot_files(path, 99)
    with _pytest.raises(FileNotFoundError):
        snapshot_files(str(tmp_path / "not_a_table"))


def test_delta_commit_race_detected(spark, tmp_path, monkeypatch):
    import os

    from loan_default_prediction_app_big_data_spark.sources import delta_py as dp
    from pyspark.sql import functions as F

    path = str(tmp_path / "dt")
    dp.commit_append(path, spark.range(0, 10).select(F.col("id").alias("k")))

    # A writer that lands AFTER our log read but BEFORE our publish is
    # the OCC window: freeze this writer's view at [0], then let an
    # interloper take version 1 — the atomic publish must refuse.
    race = dp._version_file(path, 1)
    with open(race, "w") as fh:
        fh.write('{"commitInfo": {"operation": "APPEND"}}\n')
    monkeypatch.setattr(dp, "table_versions", lambda p: [0])
    with pytest.raises(FileExistsError):
        dp.commit_append(path, spark.range(10, 20).select(F.col("id").alias("k")))
    monkeypatch.undo()

    # a writer with a FRESH view serializes after the interloper
    assert dp.commit_append(
        path, spark.range(10, 20).select(F.col("id").alias("k"))
    ) == 2
    assert dp.table_versions(path) == [0, 1, 2]


def test_resize_nearest_identity_and_downsample():
    from loan_default_prediction_app_big_data_spark.operators.multimodal import (
        resize_nearest,
    )

    px = _pattern(6, 4)
    # identity resize returns the raster unchanged
    assert resize_nearest(6, 4, px, 6, 4) == px
    # 2x downsample picks every other pixel of every other row
    small = resize_nearest(6, 4, px, 3, 2)
    assert len(small) == 6
    expect = [px[y * 2 * 6 + x * 2] for y in range(2) for x in range(3)]
    assert small == expect
    # upsample replicates neighbors — corners preserved
    big = resize_nearest(6, 4, px, 12, 8)
    assert big[0] == px[0] and big[-1] == px[-1]
    assert len(big) == 96
