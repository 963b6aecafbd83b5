"""Deterministic board tables for the query-board workloads.

Writes the ten parquet tables `SparkEntry.queries` read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings), one file and one row group each, with the schema of the
repo's sf0.01 test tables (FIXTURES.md section 5) and the same value
shapes: uniform TPC-H-like relational columns, a 31-word document
vocabulary with about 5% near-duplicates (an existing text plus " dup"),
unit-length 64-dim embeddings clustered by a 0-9 label, and a 30-day
event stream ordered by time.

The data seed is a constant, not the workload seed: the frozen row
counts and content hashes in expected.json are taken over exactly these
bytes. The workload seed picks which queries run and in what order.

    python3 perfbench/board_data.py <out_dir>
"""
import math
import os
import random
import sys
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 500}
USERS = 150
DIM = 64
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line data table agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = [("en", 0.44), ("zh", 0.14), ("es", 0.14), ("de", 0.14),
         ("fr", 0.14)]


def _write(out, name, cols, schema):
    table = pa.table(cols, schema=pa.schema(schema))
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   compression="snappy", row_group_size=len(table) + 1)


def _day(base, rng, span_days):
    return base + timedelta(days=rng.randrange(span_days))


def generate(out):
    os.makedirs(out, exist_ok=True)
    rng = random.Random(DATA_SEED)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(out, "region", {"r_regionkey": list(range(5)),
                           "r_name": regions},
           [("r_regionkey", i32), ("r_name", s)])
    _write(out, "nation", {"n_nationkey": list(range(25)),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": [i % 5 for i in range(25)]},
           [("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)])

    n = ROWS["customer"]
    segs = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING", "HOUSEHOLD"]
    _write(out, "customer", {
        "c_custkey": list(range(n)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": [rng.randrange(25) for _ in range(n)],
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2)
                      for _ in range(n)],
        "c_mktsegment": [rng.choice(segs) for _ in range(n)]},
        [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
         ("c_acctbal", f64), ("c_mktsegment", s)])

    n = ROWS["supplier"]
    _write(out, "supplier", {
        "s_suppkey": list(range(n)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": [rng.randrange(25) for _ in range(n)],
        "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2)
                      for _ in range(n)]},
        [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
         ("s_acctbal", f64)])

    n = ROWS["part"]
    adj = ["small", "red", "blue", "hot", "old", "large", "new"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil"]
    types = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
    _write(out, "part", {
        "p_partkey": list(range(n)),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n)],
        "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n)],
        "p_type": [rng.choice(types) for _ in range(n)],
        "p_size": [rng.randrange(1, 51) for _ in range(n)],
        "p_retailprice": [round(900 + (i % 1000) / 10, 2) for i in range(n)]},
        [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
         ("p_size", i32), ("p_retailprice", f64)])

    n = ROWS["orders"]
    d0 = datetime(1995, 1, 1)
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    _write(out, "orders", {
        "o_orderkey": list(range(n)),
        "o_custkey": [rng.randrange(ROWS["customer"]) for _ in range(n)],
        "o_orderstatus": [rng.choice("FOP") for _ in range(n)],
        "o_totalprice": [round(rng.uniform(1000, 500000), 2)
                         for _ in range(n)],
        "o_orderdate": [_day(d0, rng, 2404) for _ in range(n)],
        "o_orderpriority": [rng.choice(prios) for _ in range(n)]},
        [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
         ("o_totalprice", f64), ("o_orderdate", ts),
         ("o_orderpriority", s)])

    n = ROWS["lineitem"]
    okeys = [rng.randrange(ROWS["orders"]) for _ in range(n)]
    _write(out, "lineitem", {
        "l_orderkey": okeys,
        "l_partkey": [rng.randrange(ROWS["part"]) for _ in range(n)],
        "l_suppkey": [rng.randrange(ROWS["supplier"]) for _ in range(n)],
        "l_linenumber": [rng.randrange(1, 8) for _ in range(n)],
        "l_quantity": [float(rng.randrange(1, 51)) for _ in range(n)],
        "l_extendedprice": [round(rng.uniform(900, 105000), 2)
                            for _ in range(n)],
        "l_discount": [rng.randrange(11) / 100 for _ in range(n)],
        "l_tax": [rng.randrange(9) / 100 for _ in range(n)],
        "l_returnflag": [rng.choice("ANR") for _ in range(n)],
        "l_linestatus": [rng.choice("FO") for _ in range(n)],
        "l_shipdate": [_day(d0 + timedelta(days=1), rng, 2499)
                       for _ in range(n)]},
        [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
         ("l_linenumber", i32), ("l_quantity", f64),
         ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
         ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)])

    n = ROWS["events"]
    e0 = datetime(2024, 1, 1)
    secs = sorted(rng.uniform(0, 30 * 86400) for _ in range(n))
    etypes = ["click", "signup", "error", "view", "purchase"]
    _write(out, "events", {
        "event_id": list(range(n)),
        "ts": [e0 + timedelta(microseconds=int(x * 1e6)) for x in secs],
        "user_id": [rng.randrange(USERS) for _ in range(n)],
        "event_type": [rng.choice(etypes) for _ in range(n)],
        "value": [max(0.01, round(rng.expovariate(1 / 50), 2))
                  for _ in range(n)],
        "props": ['{"k": %d}' % rng.randrange(100) for _ in range(n)]},
        [("event_id", i64), ("ts", ts), ("user_id", i64),
         ("event_type", s), ("value", f64), ("props", s)])

    n = ROWS["documents"]
    texts = [" ".join(rng.choice(WORDS) for _ in range(rng.randrange(10, 100)))
             for _ in range(n)]
    for i in range(n):
        if rng.random() < 0.05:
            texts[i] = texts[rng.randrange(n)] + " dup"
    langs, weights = zip(*LANGS)
    _write(out, "documents", {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [rng.choices(langs, weights)[0] for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts]},
        [("doc_id", i64), ("text", s), ("lang", s), ("source", s),
         ("n_chars", i64)])

    n = ROWS["embeddings"]
    centers = [[rng.gauss(0, 1) for _ in range(DIM)] for _ in range(10)]
    labels, vecs = [], []
    for _ in range(n):
        lab = rng.randrange(10)
        v = [c + rng.gauss(0, 1.5) for c in centers[lab]]
        norm = math.sqrt(sum(x * x for x in v))
        labels.append(lab)
        vecs.append([x / norm for x in v])
    _write(out, "embeddings", {"vec_id": list(range(n)), "embedding": vecs,
                               "label": labels},
           [("vec_id", i64), ("embedding", pa.list_(pa.float32())),
            ("label", i32)])


if __name__ == "__main__":
    generate(sys.argv[1])
