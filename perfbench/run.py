#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness with sbt into `.bench_build/` (and the engine's own `target/`).
Inputs are generated from the seed and cached per seed, with their
DuckDB oracle answers, under `.bench_build/data/`; neither is timed.
The harness JVM (perfbench.Harness) runs the workload in one process with
one closed-loop client; this script then checks every output against
the oracle and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are BENCHMARK.json's end-to-end metrics;
with `--trace 1` they are its per-layer metrics. The full artifact
(spans, per-query times, layer counters, output checks) is written to
`.bench_build/results/`, and a one-line summary of each run is appended
to `.bench_build/results/runs.jsonl` for `diff.py`.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

# The LLM-curation mix; the seed permutes its order (shared session
# memos make a query's cost depend on what ran before it).
MIX = [
    "q32_minhash_lsh", "q33_simhash", "q91_table_stats", "q102_triangle_counts",
    "q121_containment_exact", "q122_dup_ngram_spans", "q148_repeated_spans",
    "q151_dedup_keep_first",
]

# Input sizes per workload (BENCHMARK.json records why).
WORDCOUNT = {
    "wordcount_zipf": {"kind": "zipf", "lines": 512_000},
    "wordcount_highcard": {"kind": "highcard", "lines": 48_000},
}
CURATION = "curation"
CURATION_SF = 0.01
MIN_STEADY = {"wordcount_zipf": 3, "wordcount_highcard": 3, CURATION: 4}
HEAP = "4g"
DEADLINE_S = 170.0


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log_path(name):
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    return os.path.join(WORK, "logs", name)


# --- build -----------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}", "-Dsbt.offline=true"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + harness once per source state; return the launch spec."""
    bdir = os.path.join(WORK, "build")
    stamp_file = os.path.join(bdir, "stamp")
    launch_file = os.path.join(bdir, "launch.txt")
    oracle_file = os.path.join(bdir, "oracle_sql.json")
    stamp = source_stamp()
    fresh = (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
             and os.path.exists(launch_file) and os.path.exists(oracle_file)
             and set(MIX) <= set(json.load(open(oracle_file))))
    if not fresh:
        os.makedirs(bdir, exist_ok=True)
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                       log_path("build.log"), 850, cwd=HERE, env=sbt_env())
        if rc != 0:
            die(f"sbt build failed (rc={rc}); see {log_path('build.log')}", 3)
        shutil.copy(os.path.join(HERE, "target", "launch.txt"), launch_file)
    lines = open(launch_file).read().splitlines()
    spec = {"cp": lines[0], "opts": [o for o in lines[1:] if o and not o.startswith("-Xmx")]}
    if not fresh:
        rc = java(spec, ["mode=oracle-sql", f"queries={','.join(MIX)}", f"out={oracle_file}"],
                  log_path("oracle-sql.log"), 120)
        if rc != 0:
            die("could not dump the oracle SQL", 3)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return spec


def run_group(cmd, log, timeout, **kw):
    """Run `cmd` in its own process group, output to `log`; on timeout or
    on any interruption, kill the whole group and wait for it."""
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True, **kw)
        try:
            return p.wait(timeout=timeout)
        except BaseException as e:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                return -9
            raise


def java(spec, args, log, timeout):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + spec["opts"] + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-cp", spec["cp"], "perfbench.Harness"] + args)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    return run_group(cmd, log, timeout, cwd=ROOT, env=env)


# --- inputs and oracle answers ----------------------------------------

def evict(prefix, keep):
    """Keep the `keep` most recently used input directories of a kind."""
    dirs = sorted(glob.glob(os.path.join(WORK, "data", prefix + "*")), key=os.path.getmtime)
    for d in dirs[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


def cached(name, make):
    """Directory `data/<name>`, made by `make(dir)` on first use."""
    d = os.path.join(WORK, "data", name)
    if os.path.exists(os.path.join(d, "DONE")):
        os.utime(d)
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    make(d)
    open(os.path.join(d, "DONE"), "w").close()
    return d


def wordcount_inputs(workload, seed):
    import gen
    import oracle
    cfg = WORDCOUNT[workload]

    def make(d):
        gen.write_corpus(os.path.join(d, "corpus"), seed, cfg["kind"], cfg["lines"])
        meta = oracle.wordcount_oracle(os.path.join(d, "corpus"),
                                       os.path.join(d, "oracle.tsv"))
        json.dump(meta, open(os.path.join(d, "meta.json"), "w"))

    d = cached(f"{workload}-s{seed}", make)
    evict(workload + "-", 3)
    return d


def curation_inputs(seed):
    import gen
    import oracle

    def make(d):
        gen.write_tables(d, seed, CURATION_SF)
        oracle.documents_text(d)
        sql = json.load(open(os.path.join(WORK, "build", "oracle_sql.json")))
        meta = oracle.curation_oracle(d, sql, os.path.join(d, "oracle"),
                                      os.path.join(WORK, "oracle-cache"))
        json.dump(meta, open(os.path.join(d, "meta.json"), "w"))

    mix = hashlib.sha256(",".join(MIX).encode()).hexdigest()[:8]
    d = cached(f"curation-sf{CURATION_SF}-{mix}-s{seed}", make)
    evict("curation-", 3)
    return d


def mix_order(seed):
    order = list(MIX)
    random.Random(seed).shuffle(order)
    return order


# --- one run -----------------------------------------------------------

def cpu_ticks():
    """(steal, total) jiffies of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def run_harness(spec, workload, seed, seconds, trace, data, deadline):
    out = os.path.join(WORK, "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    local = os.path.join(WORK, "tmp", f"spark-{os.getpid()}")
    args = ["mode=run", f"workload={workload}", f"seed={seed}", f"data={data}",
            f"out={out}", f"seconds={seconds}", f"trace={trace}", f"local_dir={local}",
            f"min_steady={MIN_STEADY[workload]}"]
    if workload == CURATION:
        args.append(f"queries={','.join(mix_order(seed))}")
    args.append(f"launch_ms={time.time() * 1000.0!r}")
    log = log_path(f"{workload}-t{trace}.log")
    steal0, total0 = cpu_ticks()
    rc = java(spec, args, log, max(10.0, deadline - time.monotonic()))
    steal1, total1 = cpu_ticks()
    shutil.rmtree(local, ignore_errors=True)
    res_file = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res_file):
        shutil.rmtree(out, ignore_errors=True)
        die(f"harness failed (rc={rc}); see {log}", 4)
    res = json.load(open(res_file))
    # CPU time the hypervisor gave to other guests during the run: a
    # diagnostic for outliers, not a metric
    res["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    return out, res


def check_outputs(workload, data, out, res):
    """Count failed timed operations: an operation fails when it threw or
    when its output differs from the oracle answer. Returns (failed,
    per-output check results)."""
    import oracle
    failed = {f.split(":")[0] for f in res["failures"]}
    checks = {}
    ops = [op["index"] for op in res["ops"]]
    if workload == CURATION:
        seen = {}  # byte-identical outputs share one comparison
        for i in ops:
            for q in MIX:
                got = os.path.join(out, f"op-{i}", q)
                key = (q, oracle.output_sha256(got, "*.parquet"))
                if key not in seen:
                    seen[key] = oracle.compare_query(
                        got, os.path.join(data, "oracle", q + ".parquet"))
                ok, why = seen[key]
                checks[f"op-{i}/{q}"] = why
                if not ok:
                    failed.add(f"{q} (op {i})")
    else:
        want = json.load(open(os.path.join(data, "meta.json")))["sha256"]
        for i in ops:
            got = oracle.output_sha256(os.path.join(out, f"job-{i}"))
            checks[f"job-{i}"] = "ok" if got == want else f"sha256 {got} != oracle {want}"
            if got != want:
                failed.add(f"job-{i}")
    return min(len(failed), res["attempted"]), checks


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # unwinds through run_group

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("engine sources not found next to the benchmark; run from a full checkout")
    if a.workload not in MIN_STEADY:
        die(f"unknown workload {a.workload}")
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    spec = build()
    data = (curation_inputs(a.seed) if a.workload == CURATION
            else wordcount_inputs(a.workload, a.seed))
    meta = json.load(open(os.path.join(data, "meta.json")))

    out, res = run_harness(spec, a.workload, a.seed, a.seconds, a.trace, data, deadline)
    failed, checks = check_outputs(a.workload, data, out, res)
    shutil.rmtree(out, ignore_errors=True)

    e2e = {
        "wall_s": res["wall_s"],
        "cold_s": res["cold_s"],
        "setup_s": res["launch_to_ready_s"],
        "cpu_s": res["cpu_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "live_heap_mb": res["live_heap_mb"],
        "failed_frac": failed / res["attempted"],
    }
    if a.workload in WORDCOUNT:
        e2e["tokens_per_s"] = meta["tokens"] / res["wall_s"]
    layers = dict(res["layers"], **{"jvm.peak_rss_mb": res["peak_rss_mb"],
                                    "jvm.live_heap_mb": res["live_heap_mb"]})
    values = e2e if a.trace == 0 else layers
    names = bench["end_to_end"] if a.trace == 0 else bench["per_layer"]
    metrics = {m["name"]: {"value": float(values.get(m["name"]) or 0.0), "unit": m["unit"]}
               for m in names}

    rdir = os.path.join(WORK, "results")
    os.makedirs(rdir, exist_ok=True)
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "inputs": meta, "end_to_end": e2e, "layers": layers,
        "attempted": res["attempted"], "failed": failed, "failures": res["failures"],
        "checks": checks, "ops": res["ops"], "per_query": res["per_query"],
        "jvm": {k: res[k] for k in ("session_s", "launch_to_ready_s", "timed_s")},
        "host": {"nproc": os.cpu_count(), "steal_frac": res["steal_frac"],
                 "loadavg": os.getloadavg()},
        "spans": res["spans"],
    }
    art = os.path.join(rdir, f"{a.workload}-s{a.seed}-t{a.trace}.json")
    json.dump(artifact, open(art, "w"), indent=1)
    with open(os.path.join(rdir, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                            "attempted": res["attempted"], "failed": failed,
                            "metrics": {k: v["value"] for k, v in metrics.items()}}) + "\n")
    print(f"artifact: {os.path.relpath(art, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
