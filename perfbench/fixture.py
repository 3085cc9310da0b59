"""Deterministic sf0.1-shaped fixture tables for the benchmark.

The benchmark may read nothing outside its checkout, so it writes its own
copy of the ten fixture tables (FIXTURES.md): same names, schemas, row
counts and value domains, one parquet file and one row group per table.
The tables depend only on FIXTURE_SEED, never on the workload seed, so
expected oracle outputs stay valid across runs.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
SCALE = 0.1

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = "blue cold hot large new red small".split()
PART_NOUN = "anvil bolt gear plate ring rod widget nut spring".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, (hi - lo).astype(int) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _tables(rng):
    n_supp, n_cust, n_part = int(10000 * SCALE), int(150000 * SCALE), int(200000 * SCALE)
    n_ord, n_line, n_ev = int(1500000 * SCALE), int(6000000 * SCALE), int(1000000 * SCALE)
    n_doc, n_emb = int(50000 * SCALE), int(20000 * SCALE)
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())
    yield "region", {
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    yield "nation", {
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)])}
    yield "supplier", {
        "s_suppkey": i64(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}
    yield "customer", {
        "c_custkey": i64(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}
    yield "part", {
        "p_partkey": i64(range(n_part)),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, len(PART_ADJ), n_part), rng.integers(0, len(PART_NOUN), n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)}
    yield "orders", {
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]}
    yield "lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)}
    # event_id order is time order: sorted uniform instants over 30 days
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span, n_ev)) + t0
    yield "events", {
        "event_id": i64(range(n_ev)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": i64(rng.integers(0, 1500, n_ev)),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    lens = rng.integers(10, 101, n_doc)
    texts = [" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), k)) for k in lens]
    # a few exact duplicates, as a crawl has, for the dedup queries
    for src, dst in zip(rng.choice(n_doc, 8, replace=False), rng.choice(n_doc, 8, replace=False)):
        texts[dst] = texts[src]
    yield "documents", {
        "doc_id": i64(range(n_doc)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": i64([len(t) for t in texts])}
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", {
        "vec_id": i64(range(n_emb)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_emb))}


def fixture_id():
    """Names this generator's output: a digest of this file."""
    with open(os.path.abspath(__file__), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def write(work_dir):
    """Write every table once under `work_dir` and return the directory.
    The set is complete once its `.done` marker exists, so an interrupted
    write is redone."""
    out_dir = os.path.join(work_dir, f"fixture-sf{SCALE}-{fixture_id()}")
    if os.path.exists(out_dir + ".done"):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(FIXTURE_SEED)
    for name, cols in _tables(rng):
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
    open(out_dir + ".done", "w").close()
    return out_dir
