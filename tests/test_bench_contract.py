"""bench.py stdout contract: the harness records only the LAST 2000
chars of stdout and parses the JSON line from it — round 1's 96-entry
line overran the window and recorded as ``parsed: null``. These tests
pin the compact-line invariants without starting Spark."""

from __future__ import annotations

import json

from bench import _compact_line


def _payload(n: int) -> dict:
    qs = {f"some_quite_long_query_name_{i:03d}": 0.1 + i * 0.37 for i in range(n)}
    return {
        "metric": "total_wall_clock_all_queries",
        "value": round(sum(qs.values()), 3),
        "unit": "sec",
        "queries": qs,
        "sf": 0.1,
    }


def test_small_payload_passes_through():
    line = _compact_line(_payload(10))
    p = json.loads(line)
    assert len(p["queries"]) == 10
    assert "omitted" not in p


def test_large_payload_fits_budget_and_reconciles():
    line = _compact_line(_payload(150))
    assert len(line) <= 1900
    p = json.loads(line)
    assert p["omitted"] == 150 - len(p["queries"])
    # kept + omitted must reconcile with the total (2-dp rounding slack)
    kept = sum(p["queries"].values())
    assert abs(kept + p["omitted_sum_s"] - p["value"]) < 0.01 * 150
    # the EXPENSIVE queries are the ones kept
    assert min(p["queries"].values()) >= p["omitted_sum_s"] / max(p["omitted"], 1)


def test_line_is_single_line_json():
    line = _compact_line(_payload(150))
    assert "\n" not in line
    json.loads(line)  # parseable


def test_a17_latency_tiers_survive_truncation():
    """VERDICT r4 item 9: the cheap serving-latency entries were
    silently dropped by drop-cheapest-first truncation in the r4
    driver snapshot. They must survive any budget squeeze."""
    p = _payload(150)
    p["queries"]["ml_single_row_serve_p50"] = 0.003
    p["queries"]["ml_loan_pipeline_fit_eval"] = 0.9
    p["queries"]["ml_loan_pipeline_fit_eval_100x"] = 5.7
    line = _compact_line(p)
    assert len(line) <= 1900
    out = json.loads(line)["queries"]
    assert "ml_single_row_serve_p50" in out
    assert "ml_loan_pipeline_fit_eval" in out
    assert "ml_loan_pipeline_fit_eval_100x" in out


def test_diagnostic_dicts_shed_when_pins_alone_overflow():
    """ADVICE r5 item 4: pinned entries can't be dropped, so a huge
    regressions_vs_committed payload could overflow the budget after
    every non-pinned query is gone. The diagnostic dicts must be shed
    before the line exceeds the harness's stdout capture."""
    p = _payload(150)
    p["queries"]["ml_single_row_serve_p50"] = 0.003
    p["queries"]["ml_loan_pipeline_fit_eval"] = 0.9
    p["queries"]["ml_loan_pipeline_fit_eval_100x"] = 5.7
    p["regressions_vs_committed"] = {
        f"very_long_regressed_query_name_number_{i:04d}": [1.234, 9.876]
        for i in range(60)
    }
    p["streaming_steady_s"] = {
        f"streaming_query_with_a_long_name_{i:04d}": 1.23 for i in range(40)
    }
    line = _compact_line(p, budget=700)
    assert len(line) <= 700
    out = json.loads(line)
    assert "ml_single_row_serve_p50" in out["queries"]
    assert "regressions_vs_committed" not in out
    assert "streaming_steady_s" not in out


def test_high_flag_count_sheds_regressions_before_queries():
    """VERDICT r6 item 5: a run with many ≥2x flags must collapse
    regressions_vs_committed to a shed marker BEFORE dropping query
    timings or the streaming steady-state samples — those are the
    in-band evidence that exonerates a host-degradation draw, and the
    full flag dict is always in bench_full.json anyway."""
    p = _payload(40)
    p["regressions_vs_committed"] = {
        f"flagged_query_with_a_long_name_{i:04d}": [1.234, 9.876]
        for i in range(12)
    }
    p["streaming_steady_s"] = {
        f"streaming_query_{i:02d}": 1.23 for i in range(6)
    }
    baseline = len(json.dumps({**p, "queries": {
        k: round(v, 2) for k, v in p["queries"].items()
    }}, separators=(",", ":")))
    assert baseline > 1900  # the synthetic payload genuinely overflows
    line = _compact_line(p)
    assert len(line) <= 1900
    out = json.loads(line)
    # flags collapsed to a counted marker, not silently vanished
    assert out["regressions_vs_committed"] == {"shed_flags": 12}
    # the exonerating evidence survived intact
    assert len(out["streaming_steady_s"]) == 6
    assert len(out["queries"]) == 40
    assert "omitted" not in out


def test_snapshot_clean_gate_separates_weather_from_idle():
    """bench_full.json (the committed regression baseline) must only
    refresh from a clean draw: every committed idle snapshot measured
    gc_ms 3.6-4.9 s while documented host-degraded draws measured
    25.3-76.2 s — the round-6 driver run clobbered the baseline with
    a 33.9 s-gc draw, which would mask real regressions afterward."""
    from bench import _snapshot_is_clean

    assert _snapshot_is_clean({"gc_ms": 4227})       # committed idle draws
    assert _snapshot_is_clean({"gc_ms": 4871})
    assert _snapshot_is_clean({"gc_ms": None})       # no JVM introspection
    assert _snapshot_is_clean({})
    assert not _snapshot_is_clean({"gc_ms": 11497})  # 555s draw, gc 11.5s —
    # slipped the first-cut 15s threshold live (PERF.md round 7)
    assert not _snapshot_is_clean({"gc_ms": 25345})  # this round's 546s draw
    assert not _snapshot_is_clean({"gc_ms": 33964})  # the r6 driver draw
    assert not _snapshot_is_clean({"gc_ms": 76200})  # the r6 worst draw


def test_snapshot_refresh_requires_matching_scale_factor(tmp_path):
    """A clean low-SF smoke run must not replace the sf0.1 baseline
    (observed: an sf0.001 write-path smoke overwrote the restored
    snapshot before this guard existed)."""
    import json as _json

    from bench import _should_refresh_snapshot

    snap = tmp_path / "bench_full.json"
    snap.write_text(
        _json.dumps({"sf": 0.1, "cpus": 8, "value": 386.6, "queries": {}, "gc_ms": 4000})
    )
    clean = {"gc_ms": 4000, "value": 390.0, "cpus": 8}
    assert _should_refresh_snapshot({**clean, "sf": 0.1}, str(snap))
    assert not _should_refresh_snapshot({**clean, "sf": 0.001}, str(snap))
    assert not _should_refresh_snapshot(
        {**clean, "gc_ms": 30000, "sf": 0.1}, str(snap)
    )
    # regression-shaped totals can't silently become the baseline ...
    assert not _should_refresh_snapshot(
        {**clean, "value": 555.3, "sf": 0.1}, str(snap)
    )
    # ... unless deliberately forced after investigation
    import os as _os

    _os.environ["SPARK_GRAFT_SNAPSHOT"] = "force"
    try:
        assert _should_refresh_snapshot(
            {**clean, "value": 555.3, "sf": 0.1}, str(snap)
        )
    finally:
        del _os.environ["SPARK_GRAFT_SNAPSHOT"]
    # a FASTER clean draw always refreshes
    assert _should_refresh_snapshot(
        {**clean, "value": 350.0, "sf": 0.1}, str(snap)
    )
    # no snapshot yet: only a CLEAN draw may seed it (ADVICE r7 — a
    # degraded first draw would become the baseline and only self-heal
    # if a later clean draw were faster)
    assert _should_refresh_snapshot({**clean, "sf": 0.001}, str(tmp_path / "x.json"))
    assert not _should_refresh_snapshot(
        {"gc_ms": 30000, "value": 390.0, "sf": 0.1}, str(tmp_path / "x.json")
    )
    # missing telemetry still seeds (non-JVM-introspectable host)
    assert _should_refresh_snapshot(
        {"value": 390.0, "sf": 0.1}, str(tmp_path / "x.json")
    )


def test_snapshot_refresh_requires_matching_core_count(tmp_path, monkeypatch):
    """A clean draw on another core count must not become the baseline
    (r10: an 8-core draw became the 32-core baseline). A snapshot that
    records no core count cannot be matched, so it is refused too;
    SPARK_GRAFT_SNAPSHOT=force still overrides both."""
    import json as _json

    from bench import _should_refresh_snapshot

    snap = tmp_path / "bench_full.json"
    clean = {"gc_ms": 4000, "value": 380.0, "sf": 0.1}
    snap.write_text(_json.dumps({"sf": 0.1, "cpus": 32, "value": 386.6, "gc_ms": 4000}))
    assert _should_refresh_snapshot({**clean, "cpus": 32}, str(snap))
    assert not _should_refresh_snapshot({**clean, "cpus": 8}, str(snap))
    assert not _should_refresh_snapshot(clean, str(snap))

    snap.write_text(_json.dumps({"sf": 0.1, "value": 386.6, "gc_ms": 4000}))
    assert not _should_refresh_snapshot({**clean, "cpus": 32}, str(snap))

    monkeypatch.setenv("SPARK_GRAFT_SNAPSHOT", "force")
    assert _should_refresh_snapshot({**clean, "cpus": 8}, str(snap))
