#!/usr/bin/env python3
"""Compare two benchmark result sets.

A result set is a JSON-lines file of run reports, one line per run, as
`perfbench/run.py --record FILE` appends them (the full report line:
workload, seed, trace and every metric that applies). For every
(metric, workload) pair present in both sets the tool prints the two
medians, their ratio, each set's spread (interquartile range over
median) and a verdict:

  agree       both spreads are within the metric's bound and the medians
              differ by at most the bound
  better /    both spreads are within the bound and the second median is
  worse       better / worse than the first by more than the bound
  unresolved  a spread is wider than the bound, so the sets cannot be
              told apart at that bound (unless every run of the second
              set is better than every run of the first: "better")

Bounds are the `end_to_end` bounds of BENCHMARK.json; metrics without
one (per-layer metrics, and the report-only write_p50_s, write_p90_s,
rows_per_s and failed_frac) get DEFAULT_BOUND (0.25, the largest bound
BENCHMARK.json allows).

    python3 perfbench/compare.py A.jsonl B.jsonl
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
DEFAULT_BOUND = 0.25


def load(path):
    """{(workload, metric): [values]} from a result set."""
    values = {}
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            rep = json.loads(line)
            w = rep["workload"]
            metrics = dict(rep.get("metrics", {}))
            for k, v in rep.get("layers", {}).items():
                metrics[k] = {"value": v}
            for k, v in metrics.items():
                if v.get("value") is not None:
                    values.setdefault((w, k), []).append(float(v["value"]))
    return values


def spread(xs):
    if len(xs) < 2:
        return float("inf")
    q = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return (q[2] - q[0]) / abs(med) if med else (0.0 if q[2] == q[0] else float("inf"))


def main():
    ap = argparse.ArgumentParser(description="compare two benchmark result sets")
    ap.add_argument("first")
    ap.add_argument("second")
    args = ap.parse_args()
    with open(BENCH) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: (m["bound"], m["better"]) for m in bench["end_to_end"]}
    higher = {m["name"] for m in bench["per_layer"] if m["better"] == "higher"}
    higher.add("rows_per_s")
    a, b = load(args.first), load(args.second)
    rows = []
    for key in sorted(set(a) & set(b)):
        w, metric = key
        bound, better = bounds.get(metric, (DEFAULT_BOUND,
                                            "higher" if metric in higher else "lower"))
        ma, mb = statistics.median(a[key]), statistics.median(b[key])
        sa, sb = spread(a[key]), spread(b[key])
        ratio = mb / ma if ma else (1.0 if mb == ma else float("inf"))
        lower_better = better == "lower"
        b_wins_all = (max(b[key]) < min(a[key])) if lower_better else (min(b[key]) > max(a[key]))
        if sa > bound or sb > bound:
            verdict = "better" if b_wins_all else "unresolved"
        elif abs(ratio - 1) <= bound:
            verdict = "agree"
        else:
            worse = ratio > 1 if lower_better else ratio < 1
            verdict = "worse" if worse else "better"
        rows.append((w, metric, ma, mb, ratio, sa, sb, bound, verdict))
    if not rows:
        print("no (workload, metric) pair is present in both sets")
        return 1
    print(f"{'workload':16} {'metric':36} {'median A':>12} {'median B':>12} "
          f"{'B/A':>7} {'spread A':>9} {'spread B':>9} {'bound':>6}  verdict")
    for w, metric, ma, mb, ratio, sa, sb, bound, verdict in rows:
        print(f"{w:16} {metric:36} {ma:12.6g} {mb:12.6g} {ratio:7.3f} "
              f"{sa:9.3f} {sb:9.3f} {bound:6.2f}  {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
