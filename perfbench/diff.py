#!/usr/bin/env python3
"""Layer diff of two sets of benchmark results.

    python3 perfbench/diff.py BEFORE AFTER

BEFORE and AFTER are result files written by ``run.py`` (in
``.bench_results/``) or directories of them. For each workload it prints
every end-to-end and per-layer metric: the median of each side, the change,
and each side's run-to-run spread (quartile distance over median; needs at
least two runs). It also

- refuses results from different hosts or core counts (exit 3);
- checks that every traced run's layer self times add up, within 1 %, to
  the wall time its traced cycles and probes took, timed apart from the
  spans;
- flags each pair the layer table predicts unchanged (``layers.LAYERS``)
  that moved while its layer's metrics moved.

A change counts as moved when it exceeds both sides' spread and 5 %.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

import layers

MIN_MOVE = 0.05
#: largest share of the measured wall time the spans may miss or overcount
MAX_GAP = 0.01


def load(path: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(path, "*.json"))) \
        if os.path.isdir(path) else [path]
    return [json.load(open(f)) for f in files]


def spread(vals: list[float]) -> float | None:
    if len(vals) < 2:
        return None
    q = statistics.quantiles(vals, n=4)
    med = statistics.median(vals)
    return (q[2] - q[0]) / abs(med) if med else 0.0


def series(results: list[dict], workload: str, trace: int) -> dict:
    out: dict[str, list[float]] = {}
    for r in results:
        if r["workload"] != workload or r["trace"] != trace:
            continue
        vals = {**r["metrics"], **r["named"]}
        for k, v in vals.items():
            out.setdefault(k, []).append(float(v))
    return out


def compare(a: dict, b: dict) -> dict[str, tuple]:
    """metric -> (median a, median b, relative change, spread a, spread b,
    moved)."""
    out = {}
    for k in a.keys() & b.keys():
        ma, mb = statistics.median(a[k]), statistics.median(b[k])
        rel = (mb - ma) / abs(ma) if ma else (0.0 if mb == ma else float("inf"))
        sa, sb = spread(a[k]), spread(b[k])
        moved = abs(rel) > max(MIN_MOVE, sa or 0.0, sb or 0.0)
        out[k] = (ma, mb, rel, sa, sb, moved)
    return out


def host_check(before: list[dict], after: list[dict]) -> list[str]:
    hosts = {(r[h]["host_id"], r[h]["cores"])
             for r in before + after for h in ("host_start", "host_end")}
    if len(hosts) > 1:
        return [f"results come from different hosts or core counts: "
                f"{sorted(hosts)}"]
    return []


def reconcile(results: list[dict]) -> list[str]:
    bad = []
    for r in results:
        if r["trace"]:
            if abs(r["self_gap_s"]) > MAX_GAP * r["wall_s"]:
                bad.append(f"{r['workload']} seed {r['seed']}: layer self "
                           f"times miss the {r['wall_s']:.2f} s wall time by "
                           f"{r['self_gap_s']:.4f} s")
    return bad


def _fmt(v) -> str:
    return "-" if v is None else f"{v:.4g}"


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    before, after = load(argv[0]), load(argv[1])
    refused = host_check(before, after)
    if refused:
        print("REFUSED: " + "; ".join(refused))
        return 3
    problems = reconcile(before + after)
    e2e, per = {}, {}
    for wl in sorted({r["workload"] for r in before} &
                     {r["workload"] for r in after}):
        e2e[wl] = compare(series(before, wl, 0), series(after, wl, 0))
        per[wl] = compare(series(before, wl, 1), series(after, wl, 1))
        for title, table in (("end to end", e2e[wl]),
                             ("per layer", per[wl])):
            if not table:
                continue
            print(f"\n== {wl}: {title}")
            print(f"{'metric':38s} {'before':>11s} {'after':>11s} "
                  f"{'change':>8s} {'sprd bef':>8s} {'sprd aft':>8s}")
            for k in sorted(table):
                ma, mb, rel, sa, sb, moved = table[k]
                print(f"{k:38s} {ma:11.5g} {mb:11.5g} {rel:+8.1%} "
                      f"{_fmt(sa):>8s} {_fmt(sb):>8s}{'  *' if moved else ''}")
    flags = []
    for layer, (prefix, _, unchanged) in layers.LAYERS.items():
        moved = [f"{k} on {wl}" for wl, table in per.items()
                 for k, (*_, m) in table.items() if m and k.startswith(prefix)]
        if not moved:
            continue
        for metric, owner in unchanged:
            if e2e.get(owner, {}).get(metric, (0,) * 6)[5]:
                flags.append(f"layer {layer} moved ({', '.join(moved)}) and "
                             f"so did {metric} on {owner}, predicted "
                             f"unchanged")
    print()
    for p in problems:
        print(f"RECONCILE: {p}")
    for f in flags:
        print(f"FLAG: {f}")
    if not problems:
        print("layer self times reconcile with wall time")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
