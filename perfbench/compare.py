#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE.out NEW.out

Each file holds the standard output of one or more ``run.py`` runs
(a ``{"report": ...}`` line followed by the result line). For every
workload and end-to-end metric it prints both medians, the change as a
share of the base median, the base's quartile spread and a verdict
against the metric's bound in BENCHMARK.json: ``ok``, ``worse``, or
``unresolved`` when the base's own spread exceeds the bound.

Runs taken at different core counts or scale factors measure different
machines' work, so the comparison is refused (exit 3).
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Refused(Exception):
    pass


def read_runs(path: str) -> list[tuple[dict, dict]]:
    """(report, result) pairs in the order the runs printed them."""
    runs, report = [], None
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line.startswith("{"):
                continue
            obj = json.loads(line)
            if "report" in obj:
                report = obj["report"]
            elif "metrics" in obj and report is not None:
                runs.append((report, obj))
                report = None
    return runs


def host_key(runs: list[tuple[dict, dict]], label: str) -> tuple[int, float]:
    keys = {(r["cpus"], r["sf"]) for r, _ in runs}
    if len(keys) != 1:
        raise Refused(f"{label} mixes core counts / scale factors: {sorted(keys)}")
    return keys.pop()


def spread(values: list[float]) -> float:
    """Quartile distance as a share of the median."""
    if len(values) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def compare(base: list[tuple[dict, dict]], new: list[tuple[dict, dict]], contract: dict) -> list[dict]:
    kb, kn = host_key(base, "base"), host_key(new, "new")
    if kb != kn:
        raise Refused(f"base ran at cpus={kb[0]} sf={kb[1]}, new at cpus={kn[0]} sf={kn[1]}")
    rows = []
    for m in contract["end_to_end"]:
        for wl in sorted({r["workload"] for r, _ in base} & {r["workload"] for r, _ in new}):
            b = [res["metrics"][m["name"]]["value"] for r, res in base if r["workload"] == wl and m["name"] in res["metrics"]]
            n = [res["metrics"][m["name"]]["value"] for r, res in new if r["workload"] == wl and m["name"] in res["metrics"]]
            if not b or not n:
                continue
            mb, mn = statistics.median(b), statistics.median(n)
            worse = (mn - mb) / mb if m["better"] == "lower" else (mb - mn) / mb
            s = spread(b)
            verdict = "unresolved" if s > m["bound"] else ("worse" if worse > m["bound"] else "ok")
            rows.append({"workload": wl, "metric": m["name"], "base": mb, "new": mn,
                         "worse_by": worse, "base_spread": s, "bound": m["bound"], "verdict": verdict})
    return rows


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        contract = json.load(fh)
    try:
        rows = compare(read_runs(argv[0]), read_runs(argv[1]), contract)
    except Refused as exc:
        print(f"refused: {exc}", file=sys.stderr)
        return 3
    for r in rows:
        print(f"{r['workload']:12} {r['metric']:16} base {r['base']:.4g} new {r['new']:.4g} "
              f"worse_by {r['worse_by']:+.3f} spread {r['base_spread']:.3f} bound {r['bound']} {r['verdict']}")
    return 1 if any(r["verdict"] == "worse" for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
