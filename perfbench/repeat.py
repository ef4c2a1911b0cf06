#!/usr/bin/env python3
"""Run the benchmark several times and collect one result set.

    python3 perfbench/repeat.py --out SET.jsonl --seeds 1-10 [--workloads a,b] [--trace 0]

Runs `run.py` once per (workload, seed), in the order seeds-major, and
appends each run's final JSON line, tagged with workload, seed and
trace, to `SET.jsonl`. Feed the file to `diff.py`.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    for seed in seeds(a.seeds):
        for w in names:
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                "--trace", str(a.trace)],
                               cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                continue
            rec = json.loads(p.stdout.strip().splitlines()[-1])
            rec.update(workload=w, seed=seed, trace=a.trace, run_s=time.time() - t0)
            with open(a.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(f"{w} seed {seed}: {time.time() - t0:.1f} s, correct={rec['correct']}, "
                  + ", ".join(f"{k}={v['value']:.4g}" for k, v in list(rec["metrics"].items())[:6]),
                  flush=True)


if __name__ == "__main__":
    main()
