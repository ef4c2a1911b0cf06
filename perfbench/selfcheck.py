#!/usr/bin/env python3
"""The benchmark's own checks (no JVM needed; about ten seconds).

    python3 perfbench/selfcheck.py

1. Inputs are a function of the seed: the same seed gives byte-identical
   corpora and tables; another seed gives a different corpus, different
   tables and a different curation order.
2. The output checks catch a wrong answer: a WordCount output with one
   count changed, and a curation query output with one value changed,
   are each counted as one failed operation.
"""
import glob
import hashlib
import json
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

WORK = os.path.join(run.WORK, "selfcheck")


def digest(d):
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, d).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def inputs(kind, seed, tag):
    d = os.path.join(WORK, f"{kind}-{seed}-{tag}")
    if kind == "tables":
        gen.write_tables(d, seed, run.CURATION_SF)
    else:
        gen.write_corpus(d, seed, kind, 20_000)
    return digest(d)


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    return cond


def seeds_checks():
    ok = True
    for kind in ("zipf", "highcard", "tables"):
        a, b, c = inputs(kind, 7, "a"), inputs(kind, 7, "b"), inputs(kind, 8, "a")
        ok &= check(a == b, f"{kind}: same seed, byte-identical inputs")
        ok &= check(a != c, f"{kind}: another seed, different inputs")
    ok &= check(run.mix_order(7) == run.mix_order(7), "curation: same seed, same order")
    ok &= check(run.mix_order(7) != run.mix_order(8), "curation: another seed, another order")
    return ok


def corrupt_tsv(src, dst):
    """Copy a `word\\tcount` file with the first count increased by one."""
    lines = open(src, "rb").read().split(b"\n")
    word, count = lines[0].split(b"\t")
    lines[0] = word + b"\t" + str(int(count) + 1).encode()
    os.makedirs(dst, exist_ok=True)
    open(os.path.join(dst, "part-00000.txt"), "wb").write(b"\n".join(lines))


def wordcount_corruption_check():
    data = os.path.join(WORK, "wc")
    gen.write_corpus(os.path.join(data, "corpus"), 7, "zipf", 20_000)
    meta = oracle.wordcount_oracle(os.path.join(data, "corpus"), os.path.join(data, "oracle.tsv"))
    json.dump(meta, open(os.path.join(data, "meta.json"), "w"))
    out = os.path.join(WORK, "wc-out")
    os.makedirs(os.path.join(out, "job-0"))
    shutil.copy(os.path.join(data, "oracle.tsv"), os.path.join(out, "job-0", "part-00000.txt"))
    corrupt_tsv(os.path.join(data, "oracle.tsv"), os.path.join(out, "job-1"))
    res = {"attempted": 2, "failures": [], "ops": [{"index": 0}, {"index": 1}]}
    failed, checks = run.check_outputs("wordcount_zipf", data, out, res)
    return check(failed == 1 and checks["job-0"] == "ok" and checks["job-1"] != "ok",
                 f"wordcount: one corrupted output of two counted as failed ({failed}/2)")


def curation_corruption_check():
    data = os.path.join(WORK, "tables-7-a")
    con = oracle.duckdb.connect()
    for t in oracle.check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    # a stand-in query shaped like the mix's outputs: counts per group
    want = con.execute("SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents "
                       "GROUP BY lang ORDER BY lang").fetch_arrow_table()
    os.makedirs(os.path.join(data, "oracle"))
    pq.write_table(want, os.path.join(data, "oracle", "q_check.parquet"))
    out = os.path.join(WORK, "cur-out")
    n = want.column("n")
    changed = want.set_column(1, "n", pa.concat_arrays(
        [pc.add(n.slice(0, 1), 1).combine_chunks(), n.slice(1).combine_chunks()]))
    for op, tab in ((0, want), (1, changed)):
        os.makedirs(os.path.join(out, f"op-{op}", "q_check"))
        pq.write_table(tab, os.path.join(out, f"op-{op}", "q_check", "part-0.parquet"))
    res = {"attempted": 2, "failures": [], "ops": [{"index": 0}, {"index": 1}]}
    mix, run.MIX = run.MIX, ["q_check"]
    try:
        failed, checks = run.check_outputs(run.CURATION, data, out, res)
    finally:
        run.MIX = mix
    return check(failed == 1 and checks["op-0/q_check"] == "ok",
                 f"curation: one corrupted query output of two counted as failed "
                 f"({failed}/2: {checks['op-1/q_check']})")


def main():
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    try:
        ok = seeds_checks()
        ok &= wordcount_corruption_check()
        ok &= curation_corruption_check()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print("selfcheck: " + ("PASS" if ok else "FAIL"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
