#!/usr/bin/env python3
"""Compare benchmark result sets, or report the spread of one.

    python3 perfbench/diff.py BASE.jsonl NEW.jsonl [--top 10]
    python3 perfbench/diff.py --spread RUNS.jsonl

A result set is a JSON-lines file with one record per run:
`{"workload", "seed", "trace", "attempted", "failed", "metrics"}`, where
each metric is a number or `{"value": ..., "unit": ...}`. `run.py`
appends such records to `.bench_build/results/runs.jsonl`, and
`repeat.py` writes one file per batch of runs.

Two sets: for every workload and end-to-end metric of BENCHMARK.json,
the medians and quartiles on both sides and a verdict against the
metric's bound (`worse` when the new median is worse than the base
median by more than the bound, `better` when it is better by more
than the base's own quartile spread, else `same`); then the per-layer
metrics whose medians moved most, per workload.

One set (`--spread`): per workload and end-to-end metric, the median
and the quartile spread (Q3 - Q1) / median against the metric's bound.
"""
import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    runs = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                r = json.loads(line)
                r["metrics"] = {k: v["value"] if isinstance(v, dict) else v
                                for k, v in r["metrics"].items()}
                runs.append(r)
    return runs


def values(runs, workload, trace, name):
    return [r["metrics"][name] for r in runs
            if r["workload"] == workload and r["trace"] == trace and name in r["metrics"]]


def quartiles(v):
    if len(v) < 2:
        return (v[0], v[0], v[0]) if v else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def spread(v):
    q1, q2, q3 = quartiles(v)
    return (q3 - q1) / q2 if q2 else float("inf")


def workloads(*sets):
    seen = []
    for runs in sets:
        for r in runs:
            if r["workload"] not in seen:
                seen.append(r["workload"])
    return seen


def worse_by(base, new, better):
    """Relative change of `new` against `base`, positive when worse."""
    rel = (new - base) / base if base else 0.0
    return rel if better == "lower" else -rel


def report_spread(runs, bench):
    print(f"{'workload':20} {'metric':12} {'n':>3} {'median':>12} {'spread':>8} {'bound':>6}  verdict")
    ok = True
    for w in workloads(runs):
        for m in bench["end_to_end"]:
            v = values(runs, w, 0, m["name"])
            if not v:
                continue
            s = spread(v)
            gated = m["name"] != "setup_s"
            verdict = ("steady" if s < m["bound"] / 3 else
                       "within bound" if s <= m["bound"] else "TOO WIDE")
            if gated and s > m["bound"]:
                ok = False
            print(f"{w:20} {m['name']:12} {len(v):3d} {statistics.median(v):12.4f} "
                  f"{s:8.4f} {m['bound']:6.3f}  {verdict if gated else verdict + ' (not gated)'}")
        failed = sum(r["failed"] for r in runs if r["workload"] == w)
        attempted = sum(r["attempted"] for r in runs if r["workload"] == w)
        print(f"{w:20} failed/attempted {failed}/{attempted}")
    return ok


def report_diff(base, new, bench, top):
    print(f"{'workload':20} {'metric':12} {'base med':>11} {'base q1-q3':>23} "
          f"{'new med':>11} {'new q1-q3':>23} {'change':>8} {'bound':>6}  verdict")
    regressed = False
    for w in workloads(base, new):
        for m in bench["end_to_end"]:
            a, b = values(base, w, 0, m["name"]), values(new, w, 0, m["name"])
            if not a or not b:
                continue
            qa, qb = quartiles(a), quartiles(b)
            change = worse_by(qa[1], qb[1], m["better"])
            own = (qa[2] - qa[0]) / qa[1] if qa[1] else 0.0
            verdict = ("worse" if change > m["bound"] else
                       "better" if -change > own else "same")
            regressed |= verdict == "worse"
            print(f"{w:20} {m['name']:12} {qa[1]:11.4f} {qa[0]:11.4f}-{qa[2]:<11.4f} "
                  f"{qb[1]:11.4f} {qb[0]:11.4f}-{qb[2]:<11.4f} {change:+8.3f} "
                  f"{m['bound']:6.3f}  {verdict}")
    print()
    for w in workloads(base, new):
        moves = []
        for m in bench["per_layer"]:
            a, b = values(base, w, 1, m["name"]), values(new, w, 1, m["name"])
            if not a or not b:
                continue
            ma, mb = statistics.median(a), statistics.median(b)
            if ma == mb:
                continue
            rel = (mb - ma) / abs(ma) if ma else float("inf")
            moves.append((abs(rel), m["name"], ma, mb, rel, m["unit"]))
        moves.sort(reverse=True)
        print(f"top per-layer movers, {w}:")
        for _, name, ma, mb, rel, unit in moves[:top]:
            print(f"  {name:28} {ma:14.4f} -> {mb:14.4f} {unit:6} ({rel:+.1%})")
    return not regressed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("sets", nargs="+")
    ap.add_argument("--spread", action="store_true")
    ap.add_argument("--top", type=int, default=10)
    ap.add_argument("--bench", default=os.path.join(ROOT, "BENCHMARK.json"))
    a = ap.parse_args()
    bench = json.load(open(a.bench))
    if a.spread:
        ok = all(report_spread(load(p), bench) for p in a.sets)
    elif len(a.sets) == 2:
        ok = report_diff(load(a.sets[0]), load(a.sets[1]), bench, a.top)
    else:
        ap.error("give two result sets, or --spread and one or more")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
