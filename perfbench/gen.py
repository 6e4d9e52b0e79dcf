#!/usr/bin/env python3
"""Seeded corpus generator for the benchmark.

Writes the ten tables graft reads (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) with the schemas,
row-count ratios and value shapes of the repo's reference corpora (see
FIXTURES.md section B), scaled by `sf`. The same (seed, sf) always gives
byte-identical parquet files, so a run can be repeated exactly.

It also writes the daily-batch inputs: `days/<n>/products.parquet`
(a full products snapshot) and `days/<n>/orders.parquet` (one day's
order-event increment) with the FIXTURES.md section A shapes: duplicate
same-status events, created->completed / created->deleted chains and
product ids that miss the snapshot.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
CATEGORIES = ["X", "Y", "Z", "W"]
PRODUCTS = 400         # daily-batch products per snapshot
ORDERS_PER_DAY = 600   # daily-batch new orders per day

US = 1_000_000


def ts_array(micros):
    return pa.array(np.asarray(micros, dtype=np.int64), pa.timestamp("us"))


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"))


def days_since_epoch(y, m, d):
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days


def star_schema(rng, out, sf):
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))

    write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                          "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def bal(n):
        return np.round(rng.uniform(-999.99, 9999.99, n), 2)

    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": bal(n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": bal(n_supp)})
    write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, len(ADJ), n_part), rng.integers(0, len(NOUN), n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, len(PTYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})

    day0, day1 = days_since_epoch(1995, 1, 1), days_since_epoch(2001, 8, 1)
    odays = rng.integers(day0, day1 + 1, n_ord)
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": ts_array(odays * 86400 * US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})

    lkeys = np.sort(rng.integers(0, n_ord, n_line))
    sdays = rng.integers(day0 + 1, days_since_epoch(2001, 11, 4) + 1, n_line)
    write(out, "lineitem", {
        "l_orderkey": pa.array(lkeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": ts_array(sdays * 86400 * US)})

    n_ev = max(1000, int(1_000_000 * sf))
    start = days_since_epoch(2024, 1, 1) * 86400 * US
    span = 30 * 86400 * US
    ts = np.sort(rng.choice(span, n_ev, replace=False)) + start
    write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ts_array(ts),
        "user_id": pa.array(rng.integers(0, max(15, n_cust // 10), n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})


def corpus(rng, out, sf):
    n_docs = max(500, int(50_000 * sf))
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 20 and r < 0.002:
            # exact copy of an earlier document (exact-dedup groups)
            texts.append(texts[int(rng.integers(0, i))])
            continue
        toks = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        if i > 20 and r < 0.05:
            # near-duplicate: an earlier document with one token changed
            # and the "dup" suffix (the near-dup / gram-index shapes)
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            toks += ["dup"] * int(rng.integers(1, 3))
        texts.append(" ".join(toks))
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    n_vec, dim = max(500, int(20_000 * sf)), 64
    base = rng.normal(0, 1, (5, dim))
    # labels 2k / 2k+1 share a near-identical center (the bitext shape)
    centers = np.repeat(base, 2, axis=0) + rng.normal(0, 0.05, (10, dim))
    labels = rng.integers(0, 10, n_vec)
    v = centers[labels] + rng.normal(0, 0.6, (n_vec, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def daily(rng, out, n_days):
    """Daily products snapshots and order-event increments."""
    t0 = days_since_epoch(2020, 5, 1) * 86400 * US
    price = np.round(rng.uniform(1.0, 500.0, PRODUCTS), 2)
    cat = rng.integers(0, len(CATEGORIES), PRODUCTS)
    open_orders = []  # (id, product) of orders still in 'created'
    next_id = 0
    for d in range(n_days):
        # snapshot: ~3% of products change category or price; a few new ids
        chg = rng.random(PRODUCTS) < 0.03
        cat = np.where(chg & (rng.random(PRODUCTS) < 0.5),
                       rng.integers(0, len(CATEGORIES), PRODUCTS), cat)
        price = np.where(chg, np.round(price * rng.uniform(0.8, 1.2, PRODUCTS), 2), price)
        n_live = PRODUCTS - 20 + min(20, 4 * d)
        ids = [f"p{i}" for i in range(n_live)]
        pdir = os.path.join(out, "days", str(d))
        os.makedirs(pdir, exist_ok=True)
        write(pdir, "products", {
            "id": ids, "title": [f"title {i}" for i in range(n_live)],
            "category": [CATEGORIES[c] for c in cat[:n_live]],
            "price": pa.array(price[:n_live], pa.float64())})

        rows = []
        day_start = t0 + d * 86400 * US
        for _ in range(ORDERS_PER_DAY):
            # product ids up to PRODUCTS + 10: some miss the snapshot (FK miss)
            rows.append((f"o{next_id}", f"p{int(rng.integers(0, PRODUCTS + 10))}", "created"))
            open_orders.append(rows[-1][:2])
            next_id += 1
        rng.shuffle(open_orders)
        n_close = len(open_orders) // 3
        for oid, pid in open_orders[:n_close]:
            rows.append((oid, pid, "completed" if rng.random() < 0.7 else "deleted"))
        del open_orders[:n_close]
        # duplicate same-status events for a few orders
        for k in rng.integers(0, len(rows), max(1, len(rows) // 50)):
            rows.append(rows[int(k)])
        secs = np.sort(rng.choice(86400 * US, len(rows), replace=False))
        write(pdir, "orders", {
            "id": [r[0] for r in rows], "product_id": [r[1] for r in rows],
            "amount": rng.integers(1, 10, len(rows)).astype(np.float64),
            "total_price": np.round(rng.uniform(1.0, 2000.0, len(rows)), 2),
            "status": [r[2] for r in rows],
            "event_time": ts_array(day_start + secs)})


def generate(out, seed, sf, n_days):
    os.makedirs(out, exist_ok=True)
    star_schema(np.random.default_rng([seed, 1]), out, sf)
    corpus(np.random.default_rng([seed, 2]), out, sf)
    daily(np.random.default_rng([seed, 3]), out, n_days)

