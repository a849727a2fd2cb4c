"""Seeded query corpus for the query_paths workload.

Writes the ten tables the query paths read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the column names and types of the TPC-H-like
corpus the repository's queries and DuckDB oracle SQL are written for.
The same seed gives byte-identical tables.

Usage: python3 perfbench/corpus.py <out_dir> <seed>
"""
import datetime as dt
import math
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("key agg row scan slow fast table value part hash merge batch spark a "
         "the line sort window order data column join small customer query big "
         "stream group filter vector").split()
LANGS = ["en", "zh", "de", "fr", "es"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "hot", "small", "old", "red", "new", "big", "shiny"]
PART_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "nut", "spring"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def money(r, lo, hi):
    return round(r.uniform(lo, hi), 2)


def write(out, name, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), f"{out}/{name}.parquet")


def generate(out, seed):
    r = random.Random(seed)
    n_cust, n_supp, n_part, n_orders, n_events = 1500, 100, 2000, 10000, 10000
    n_docs = n_vecs = 350
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    write(out, "region", {"r_regionkey": list(range(5)), "r_name": REGIONS},
          pa.schema([("r_regionkey", i32), ("r_name", s)]))
    write(out, "nation", {"n_nationkey": list(range(25)),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": [i % 5 for i in range(25)]},
          pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    write(out, "customer", {
        "c_custkey": list(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": [r.randrange(25) for _ in range(n_cust)],
        "c_acctbal": [money(r, -999.99, 9999.99) for _ in range(n_cust)],
        "c_mktsegment": [r.choice(SEGMENTS) for _ in range(n_cust)]},
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]))
    write(out, "supplier", {
        "s_suppkey": list(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": [r.randrange(25) for _ in range(n_supp)],
        "s_acctbal": [money(r, -999.99, 9999.99) for _ in range(n_supp)]},
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                   ("s_acctbal", f64)]))
    price = [round(900 + (k % 1000) / 10, 1) for k in range(n_part)]
    write(out, "part", {
        "p_partkey": list(range(n_part)),
        "p_name": [f"{r.choice(PART_ADJ)} {r.choice(PART_NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{r.randint(1, 25)}" for _ in range(n_part)],
        "p_type": [r.choice(PART_TYPES) for _ in range(n_part)],
        "p_size": [r.randint(1, 50) for _ in range(n_part)],
        "p_retailprice": price},
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                   ("p_size", i32), ("p_retailprice", f64)]))

    start = dt.datetime(1995, 1, 1)
    span_days = (dt.datetime(2001, 8, 1) - start).days
    o = {k: [] for k in ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                         "o_orderdate", "o_orderpriority"]}
    li = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                          "l_returnflag", "l_linestatus", "l_shipdate"]}
    for k in range(n_orders):
        day = start + dt.timedelta(days=r.randrange(span_days + 1))
        o["o_orderkey"].append(k)
        o["o_custkey"].append(r.randrange(n_cust))
        o["o_orderstatus"].append(r.choice("POF"))
        o["o_totalprice"].append(money(r, 1000, 500000))
        o["o_orderdate"].append(day)
        o["o_orderpriority"].append(r.choice(PRIORITIES))
        for ln in range(1, (r.randint(1, 7) if r.random() > 0.02 else 0) + 1):
            p = r.randrange(n_part)
            q = float(r.randint(1, 50))
            li["l_orderkey"].append(k)
            li["l_partkey"].append(p)
            li["l_suppkey"].append(r.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(q)
            li["l_extendedprice"].append(round(q * price[p] * r.uniform(0.95, 2.1), 2))
            li["l_discount"].append(r.randint(0, 10) / 100)
            li["l_tax"].append(r.randint(0, 8) / 100)
            li["l_returnflag"].append(r.choice("ANR"))
            li["l_linestatus"].append(r.choice("OF"))
            li["l_shipdate"].append(day + dt.timedelta(days=r.randint(1, 121)))
    write(out, "orders", o, pa.schema([
        ("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
        ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))
    write(out, "lineitem", li, pa.schema([
        ("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
        ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
        ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
        ("l_linestatus", s), ("l_shipdate", ts)]))

    ev0 = dt.datetime(2024, 1, 1)
    secs = sorted(r.uniform(0, 30 * 86400) for _ in range(n_events))
    write(out, "events", {
        "event_id": list(range(n_events)),
        "ts": [ev0 + dt.timedelta(microseconds=int(x * 1e6)) for x in secs],
        "user_id": [r.randrange(150) for _ in range(n_events)],
        "event_type": [r.choice(EVENT_TYPES) for _ in range(n_events)],
        "value": [money(r, 0.01, 490.02) for _ in range(n_events)],
        "props": [f'{{"k": {r.randrange(100)}}}' for _ in range(n_events)]},
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                   ("event_type", s), ("value", f64), ("props", s)]))

    # documents: Zipf-weighted words; one in eight is a near-copy of an
    # earlier document with a few words replaced (near-duplicate pairs)
    weights = [1 / (i + 1) for i in range(len(VOCAB))]
    texts = []
    for d in range(n_docs):
        if d > 10 and r.random() < 0.125:
            words = texts[r.randrange(d)].split()
            for _ in range(r.randint(1, 3)):
                words[r.randrange(len(words))] = r.choice(VOCAB)
        else:
            words = r.choices(VOCAB, weights, k=r.randint(8, 90))
        texts.append(" ".join(words))
    write(out, "documents", {
        "doc_id": list(range(n_docs)), "text": texts,
        "lang": [r.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{r.randrange(20)}" for _ in range(n_docs)],
        "n_chars": [len(t) for t in texts]},
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                   ("n_chars", i64)]))

    # embeddings: 64-d unit vectors around ten label centroids
    centers = [[r.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    vecs, labels = [], []
    for _ in range(n_vecs):
        lab = r.randrange(10)
        v = [c + r.gauss(0, 0.6) for c in centers[lab]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(lab)
    write(out, "embeddings", {"vec_id": list(range(n_vecs)), "embedding": vecs,
                              "label": labels},
          pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                     ("label", i32)]))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
