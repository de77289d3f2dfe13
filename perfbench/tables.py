"""Seeded generator of the query catalog's input tables.

    python3 perfbench/tables.py <dir> <scale> <seed>

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each, with the column names
and types `graft.Tables` loads (a TPC-H-like star schema, an events table
with a JSON `props` column, a text corpus and labelled vectors). Row counts
follow TPC-H scaling: `scale` 0.1 gives 600k lineitem rows. The same seed
gives the same tables.

Properties and why they are there:
  - keys are uniform and foreign keys dangle a little (some orders have no
    lineitem), so joins drop and keep rows the way the catalog expects;
  - dates span years and prices carry cents, so date arithmetic, decimal
    casts and rounding rules are exercised;
  - documents mix five languages and repeat ~1% of texts exactly or with
    a couple of words changed, so dedup, LSH and clustering entries find
    real duplicate groups;
  - embeddings are unit vectors around ten labelled centres, so nearest-
    neighbour and selection entries see clusters.
"""

import os
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["bolt", "gear", "ring", "widget", "rod", "anvil", "plate", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("a the data query table row column key value join group order sort "
         "filter scan hash merge agg window stream batch spark line part "
         "customer big small fast slow vector").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]

US_PER_DAY = 86400 * 1000000


def day_us(y, m, d):
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1000000


def write(d, name, cols):
    # 50k-row row groups, so a scan splits across cores as a many-file
    # table would
    pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"),
                   row_group_size=50000)


def ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n):
    lens = rng.integers(8, 96, n)
    texts = [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k))
             for k in lens]
    # ~0.2% exact copies and ~1% near copies (two words changed) of
    # earlier documents
    for i in range(1, n):
        u = rng.random()
        if u < 0.002:
            texts[i] = texts[int(rng.integers(0, i))]
        elif u < 0.012:
            w = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(2):
                w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts[i] = " ".join(w)
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], type=pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embeddings(rng, n, dim=64):
    centres = rng.normal(size=(10, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, 10, n).astype(np.int32)
    v = centres[label] + rng.normal(scale=0.35, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": label,
    }


def generate(d, scale, seed):
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150000 * scale)
    n_supp = max(10, int(10000 * scale))
    n_part = int(200000 * scale)
    n_ord = int(1500000 * scale)
    n_line = int(6000000 * scale)
    n_ev = int(1000000 * scale)
    n_users = max(10, int(15000 * scale))
    n_doc = int(50000 * scale)
    n_emb = max(500, int(20000 * scale))

    write(d, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": pa.array(REGIONS)})
    write(d, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    write(d, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    write(d, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": cents(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    write(d, "part", {
        "p_partkey": pk,
        "p_name": pa.array(rng.choice(names, n_part)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    d0, d1 = day_us(1995, 1, 1), day_us(2001, 8, 1)
    days = (d1 - d0) // US_PER_DAY
    write(d, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord)),
        "o_totalprice": cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": ts(d0 + rng.integers(0, days + 1, n_ord) * US_PER_DAY),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    write(d, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": cents(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_line)),
        "l_shipdate": ts(d0 + US_PER_DAY
                         + rng.integers(0, days + 95, n_line) * US_PER_DAY)})
    e0 = day_us(2024, 1, 1)
    write(d, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts(e0 + np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    write(d, "documents", documents(rng, n_doc))
    write(d, "embeddings", embeddings(rng, n_emb))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
