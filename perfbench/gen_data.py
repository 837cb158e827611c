"""Synthetic input tables for the benchmark, one parquet file per table.

The ten tables follow the engine's fixture schemas (FIXTURES.md): the
TPC-H-ish star (region, nation, supplier, customer, part, orders,
lineitem), the `events` ingestion log, the `documents` text corpus and the
`embeddings` vectors. Values come from a fixed generator seed, so every run
sees the same rows; the seed only permutes the row order of each table
(seed 0 keeps the generated order). Physical types are pinned: timestamps
are `timestamp[us]` without a zone and `embedding` is `list<float>`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SF = 0.1
TABLES = ["region", "nation", "supplier", "customer", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORDS = ("a the spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast row "
         "agg key query scan batch").split()


def _ts(days_from_epoch_us):
    return pa.array(days_from_epoch_us.astype("int64"), pa.timestamp("us"))


def _days_us(start, n_days, rng, size):
    base = np.datetime64(start, "D").astype("int64")
    return (base + rng.integers(0, n_days, size)) * 86_400_000_000


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def generate():
    """All ten tables at scale factor SF as pyarrow Tables, in generation order."""
    rng = np.random.default_rng(DATA_SEED)
    n_supp, n_cust, n_part = int(10_000 * SF), int(150_000 * SF), int(200_000 * SF)
    n_ord, n_line = int(1_500_000 * SF), int(6_000_000 * SF)
    n_ev, n_users = int(1_000_000 * SF), int(15_000 * SF)
    n_doc, n_emb = int(50_000 * SF), int(20_000 * SF)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype="int64")
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(_days_us("1995-01-01", 2405, rng, n_ord)),
        "o_orderpriority": priorities[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_days_us("1995-01-02", 2499, rng, n_line))})
    start_us = np.datetime64("2024-01-01", "us").astype("int64")
    offsets = np.sort(rng.choice(30 * 86_400_000_000, n_ev, replace=False))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(start_us + offsets, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(WORDS, n)) for n in rng.integers(10, 101, n_doc)]
    # 5% near duplicates (a copy with one word appended), a few exact ones
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[rng.integers(0, n_doc)] + " dup"
    for i in rng.choice(n_doc, max(1, n_doc // 1000), replace=False):
        texts[i] = texts[rng.integers(0, n_doc)]
    langs = np.array(["en", "en", "de", "es", "fr", "zh"])
    doc_ids = np.arange(n_doc, dtype="int64")
    t["documents"] = pa.table({
        "doc_id": doc_ids,
        "text": texts,
        "lang": langs[rng.integers(0, 6, n_doc)],
        "source": [f"src{i % 20}" for i in doc_ids],
        "n_chars": np.array([len(x) for x in texts], dtype="int64")})
    vecs = rng.standard_normal((n_emb, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype("int32")})
    return t


def write(out_dir, seed):
    """Writes every table as one file; a non-zero seed permutes its rows."""
    os.makedirs(out_dir, exist_ok=True)
    perm_rng = np.random.default_rng(seed)
    for name, table in generate().items():
        if seed != 0:
            table = table.take(perm_rng.permutation(table.num_rows))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))

