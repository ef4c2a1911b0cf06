"""Oracle answers and output checks, all computed outside the timed region.

* WordCount: DuckDB counts the corpus tokens (split on U+0020, empty
  tokens dropped), sorts by the UTF-8 bytes of the word and renders
  `word\\tcount\\n` lines. The engine's output file must match it byte
  for byte; the check compares SHA-256 digests.
* Curation queries: DuckDB runs each query's `SparkEntry.oracleSql` on
  the same parquet tables. The engine's full-row output (the parquet
  each timed pass writes) is compared with the comparison rules of
  `scripts/check.py`: same columns, dtypes, row count, physical arrow
  types, values, and float64 bits.
"""
import glob
import hashlib
import os
import re
import shutil
import sys
import time

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "scripts"))
import check  # noqa: E402  (the engine's own oracle-comparison rules)


def wordcount_oracle(corpus_dir, out_tsv):
    t0 = time.time()
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    files = sorted(glob.glob(os.path.join(corpus_dir, "part-*")))
    # one column per line: the delimiter byte \x01 never occurs in a corpus
    con.execute(
        "CREATE TABLE c AS SELECT line FROM read_csv(?, columns={'line': 'VARCHAR'}, "
        "header=false, delim='\x01', quote='', escape='', auto_detect=false)",
        [files])
    con.execute("CREATE TABLE w AS SELECT word FROM "
                "(SELECT unnest(string_split(line, ' ')) AS word FROM c) WHERE word <> ''")
    tokens, n_lines = con.execute("SELECT (SELECT count(*) FROM w), (SELECT count(*) FROM c)"
                                  ).fetchone()
    rows = con.execute("SELECT word || chr(9) || count(*) FROM w GROUP BY word "
                       "ORDER BY encode(word)").fetchall()
    body = ("\n".join(r[0] for r in rows) + "\n").encode("utf-8") if rows else b""
    with open(out_tsv, "wb") as f:
        f.write(body)
    return {"lines": n_lines, "tokens": tokens, "distinct": len(rows),
            "corpus_mb": sum(os.path.getsize(f) for f in files) / 1048576.0,
            "output_mb": len(body) / 1048576.0,
            "sha256": hashlib.sha256(body).hexdigest(), "oracle_s": time.time() - t0}


def output_sha256(job_dir, pattern="part-*"):
    """Digest of an output directory's part files, in part order."""
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(job_dir, pattern))):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def documents_text(d):
    """The documents' text as a text corpus, for the traced run's
    tokenizer and WordCount probes on the curation workloads."""
    os.makedirs(os.path.join(d, "documents_text"), exist_ok=True)
    text = pq.read_table(os.path.join(d, "documents.parquet"), columns=["text"])
    with open(os.path.join(d, "documents_text", "part-00000.txt"), "w", encoding="utf-8") as f:
        f.write("\n".join(text.column("text").to_pylist()) + "\n")


def _sha256(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def curation_oracle(d, sql_by_query, oracle_dir, cache_dir):
    """Oracle answer of every query as `<oracle_dir>/<query>.parquet`.

    Answers are cached in `cache_dir` under a digest of the SQL and of
    every table file it names, so an answer is computed once per
    distinct input even when seeds share a table."""
    os.makedirs(oracle_dir, exist_ok=True)
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    digests = {}
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        digests[t] = _sha256(os.path.join(d, f"{t}.parquet"))
    meta = {"tables": {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                       for t in check.TABLES},
            "oracle_s": {}, "rows": {}}
    for q, sql in sorted(sql_by_query.items()):
        t0 = time.time()
        used = [t for t in check.TABLES if re.search(rf"\b{t}\b", sql)]
        key = hashlib.sha256("\n".join([sql] + [digests[t] for t in used]).encode()).hexdigest()
        cached = os.path.join(cache_dir, key + ".parquet")
        if not os.path.exists(cached):
            pq.write_table(con.execute(sql).fetch_arrow_table(), cached + ".tmp")
            os.replace(cached + ".tmp", cached)
        shutil.copy(cached, os.path.join(oracle_dir, q + ".parquet"))
        meta["oracle_s"][q] = time.time() - t0
        meta["rows"][q] = pq.read_metadata(cached).num_rows
    return meta


def compare_query(got_dir, want_parquet):
    """(ok, reason): the engine's parquet output against the oracle's,
    by scripts/check.py's rules."""
    files = sorted(glob.glob(os.path.join(got_dir, "*.parquet")))
    if not files:
        return False, "no output"
    con = duckdb.connect()
    got = con.execute(f"SELECT * FROM '{got_dir}/*.parquet'").fetchdf()
    want_arrow = pq.read_table(want_parquet)
    want = want_arrow.to_pandas()
    got_n, want_n = check.norm(got), check.norm(want)
    if list(got_n.columns) != list(want_n.columns):
        return False, f"columns {list(got_n.columns)} != {list(want_n.columns)}"
    dtype_diff = [(c, str(got_n[c].dtype), str(want_n[c].dtype)) for c in got_n.columns
                  if str(got_n[c].dtype) != str(want_n[c].dtype)]
    if dtype_diff:
        return False, f"dtype mismatch {dtype_diff}"
    if len(got_n) != len(want_n):
        return False, f"rows {len(got_n)} != {len(want_n)}"
    sp = {f.name: check.phys_kind(f.type) for f in pq.read_schema(files[0])}
    dp = {f.name: check.phys_kind(f.type) for f in want_arrow.schema}
    phys_diff = [(c, sp.get(c), dp.get(c)) for c in dp if c in sp and sp[c] != dp[c]]
    if phys_diff:
        return False, f"physical type mismatch {phys_diff}"
    if not got_n.equals(want_n):
        diff = (got_n != want_n) & ~(got_n.isna() & want_n.isna())
        return False, f"value mismatch in {[c for c in got_n.columns if diff[c].any()]}"
    bits = check.float_bits_mismatch(got_n, want_n)
    if bits:
        return False, f"float bit mismatch {bits[:3]}"
    return True, "ok"
