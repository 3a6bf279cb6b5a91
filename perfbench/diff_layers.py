#!/usr/bin/env python3
"""Diff two traced benchmark records layer by layer.

    python3 perfbench/diff_layers.py A.json B.json

A and B are records that perfbench/run.py keeps under .bench_build/records/
(runs with --trace 1). Prints, grouped by the layer each metric belongs to
(layers.json), every metric of both records with B - A and B / A, then the
self time of each span name (its duration minus the part covered by its
child spans), summed over the run, for A and B.
"""

import argparse
import json
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent


def self_times(spans):
    """Self time per span name, in ms: each span's duration minus the union
    of its children's intervals, summed over spans of that name."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = defaultdict(float)
    for s in spans:
        covered, end = 0.0, s["start_ms"]
        for c in sorted(children[s["id"]], key=lambda c: c["start_ms"]):
            lo, hi = max(c["start_ms"], end), min(c["end_ms"], s["end_ms"])
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s["name"]] += (s["end_ms"] - s["start_ms"]) - covered
    return out


def fmt(v):
    return "-" if v is None else f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a")
    ap.add_argument("b")
    args = ap.parse_args()
    a = json.loads(Path(args.a).read_text())
    b = json.loads(Path(args.b).read_text())
    for r, name in ((a, args.a), (b, args.b)):
        print(f"{name}: workload {r['workload']} seed {r['seed']} trace {r['trace']} "
              f"correct {r['correct']} host {r.get('host', {}).get('before')}")
    layers = json.loads((HERE / "layers.json").read_text())
    by_layer = defaultdict(list)
    for m in sorted(set(a["metrics"]) | set(b["metrics"])):
        by_layer[layers.get(m, {}).get("layer", "end to end")].append(m)

    row = "{:<40} {:>14} {:>14} {:>14} {:>8}"
    for layer in sorted(by_layer):
        print(f"\n[{layer}]")
        print(row.format("metric", "A", "B", "B-A", "B/A"))
        for m in by_layer[layer]:
            va = a["metrics"].get(m, {}).get("value")
            vb = b["metrics"].get(m, {}).get("value")
            unit = (a["metrics"].get(m) or b["metrics"].get(m))["unit"]
            diff = vb - va if va is not None and vb is not None else None
            ratio = vb / va if diff is not None and va else None
            print(row.format(f"{m} ({unit})", fmt(va), fmt(vb), fmt(diff), fmt(ratio)))

    sa, sb = self_times(a.get("spans", [])), self_times(b.get("spans", []))
    if sa or sb:
        print("\n[span self time, ms]")
        print(row.format("span", "A", "B", "B-A", "B/A"))
        for n in sorted(set(sa) | set(sb)):
            va, vb = sa.get(n, 0.0), sb.get(n, 0.0)
            print(row.format(n, fmt(va), fmt(vb), fmt(vb - va), fmt(vb / va if va else None)))


if __name__ == "__main__":
    main()
