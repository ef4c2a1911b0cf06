"""Seeded input generators for the benchmark.

Two families, both a pure function of (seed, size parameters):

* WordCount corpora: text files of `lines` lines x 16 space-separated
  tokens. `zipf` draws word ids log-uniformly (P(id) ~ 1/id, Zipf s=1)
  from 2^18 ids; `highcard` draws uniformly from 2^24 ids. Words mix
  ASCII, two-byte, three-byte and four-byte UTF-8 prefixes, so the
  output's UTF-8 byte order differs from UTF-16 order.
* The curation tables: the ten parquet tables the engine's queries read
  (TPC-H-ish star schema, `events`, `documents`, `embeddings`), with the
  same schemas, value domains and duplicate structure as the engine's
  sf fixtures, scaled by `sf` (sf=0.1 gives 5,000 documents and 600,000
  lineitems).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOKENS_PER_LINE = 16
# one prefix per id residue: ASCII, 2-byte, 3-byte and 4-byte UTF-8
PREFIXES = ["a", "b", "k", "z", "é", "ж", "中", "😀"]


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def word_ids(seed, kind, lines):
    rng = _rng(seed, 1 if kind == "zipf" else 2)
    n = lines * TOKENS_PER_LINE
    if kind == "zipf":
        # log-uniform over [1, 2^18]: P(id = k) ~ 1/k
        ids = np.floor(np.exp2(rng.random(n) * 18.0)).astype(np.int64) - 1
    elif kind == "highcard":
        ids = rng.integers(0, 1 << 24, n, dtype=np.int64)
    else:
        raise ValueError(kind)
    return ids.reshape(lines, TOKENS_PER_LINE)


_ALPHA = np.frombuffer(b"0123456789abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
_PRE_BYTES = [p.encode("utf-8") for p in PREFIXES]
_PRE_LEN = np.array([len(b) for b in _PRE_BYTES], dtype=np.int64)
_PRE_TAB = np.array([list(b.ljust(4, b"\0")) for b in _PRE_BYTES], dtype=np.uint8)


def corpus_bytes(ids):
    """Encode an id matrix (one row per line) as UTF-8 text.

    Word for id i: PREFIXES[i % 8] followed by i in base 36, an
    injective map. Built with vectorised scatters instead of string joins.
    """
    flat = ids.ravel()
    pre = flat % len(PREFIXES)
    plen = _PRE_LEN[pre]
    ndig = np.ones_like(flat)
    for k in range(1, 5):
        ndig += flat >= 36 ** k
    tl = plen + ndig + 1
    end = np.cumsum(tl)
    start = end - tl
    out = np.empty(int(end[-1]), dtype=np.uint8)
    for j in range(4):
        m = plen > j
        out[start[m] + j] = _PRE_TAB[pre[m], j]
    last = start + plen + ndig - 1
    x = flat.copy()
    for k in range(5):
        m = ndig > k
        out[last[m] - k] = _ALPHA[x[m] % 36]
        x //= 36
    out[end - 1] = ord(" ")
    out[end[ids.shape[1] - 1::ids.shape[1]] - 1] = ord("\n")
    return out.tobytes()


def write_corpus(path, seed, kind, lines, parts=16):
    """Write the corpus as `parts` text files under directory `path`."""
    os.makedirs(path, exist_ok=True)
    ids = word_ids(seed, kind, lines)
    per = -(-lines // parts)
    for p in range(parts):
        with open(os.path.join(path, f"part-{p:05d}.txt"), "wb") as f:
            f.write(corpus_bytes(ids[p * per:(p + 1) * per]))


# --- curation tables -------------------------------------------------

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _cents(x):
    return np.round(x * 100.0) / 100.0


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"),
                    pa.timestamp("us"))


def _pick(rng, choices, n):
    return pa.array(np.array(choices, dtype=object)[rng.integers(0, len(choices), n)],
                    pa.string())


def documents(rng, n):
    lang = np.where(rng.random(n) < 0.41, "en",
                    np.array(LANGS, dtype=object)[rng.integers(0, 4, n)])
    lengths = rng.integers(10, 101, n)
    toks = np.array(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    text = [" ".join(toks[e - k:e]) for e, k in zip(ends, lengths)]
    # 5% near-duplicates: another original document's text + " dup"
    is_dup = rng.random(n) < 0.05
    originals = np.flatnonzero(~is_dup)
    for i in np.flatnonzero(is_dup):
        text[i] = text[originals[rng.integers(0, len(originals))]] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })


def embeddings(rng, n, dim=64):
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1), pa.float32())
    offs = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offs, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def events(rng, n, users):
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span, n)) + start
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(_cents(rng.exponential(50.0, n))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def star(rng, sf):
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, n_cust))),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, n_supp)))})
    names = [f"{COLORS[a]} {NOUNS[b]}" for a, b in
             zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(names, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(_cents(900.0 + (np.arange(n_part) % 1000) / 10.0))})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_cents(rng.uniform(1000.0, 500000.0, n_ord))),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng.uniform(900.0, 105000.0, n_li))),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")})
    return t


def write_tables(path, seed, sf):
    """Write the ten tables as `<path>/<table>.parquet` (one file each)."""
    os.makedirs(path, exist_ok=True)
    rng = _rng(seed, 3)
    tables = star(rng, sf)
    tables["events"] = events(rng, int(1_000_000 * sf), max(1, int(15_000 * sf)))
    tables["documents"] = documents(rng, int(50_000 * sf))
    tables["embeddings"] = embeddings(rng, max(500, int(20_000 * sf)))
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(path, f"{name}.parquet"))
    return sorted(tables)
