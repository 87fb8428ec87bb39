"""Seeded generator of the query workload's input tables.

Writes the ten tables the registry queries read (a TPC-H-like star
schema, an event stream, a document corpus and an embedding table), one
parquet file each, with the column names and physical types the queries
expect. Sizes and value distributions are the ones `profile_tables.py`
measures on the repo's sf0.01 test data, which the correctness gate
uses (see perfbench/README.md for the side-by-side profile).

    python3 perfbench/gen_tables.py OUT_DIR SEED
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PNAME = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PNOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

# Row counts of the sf0.01 test data. Embeddings do not scale with the
# other tables there (500 at sf0.01, 2,000 at sf0.1).
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "events": 10000, "users": 150, "documents": 500, "embeddings": 500}
LINES_PER_ORDER = 4
# documents: words drawn uniformly from WORDS, 10 to 99 per document; one
# in 20 is a near duplicate (an earlier document plus the word "dup");
# there are no exact copies
DOC_WORDS = (10, 100)
NEAR_DUP_SHARE = 0.05
SOURCES = 20
EMBED_DIM = 64
LABELS = 10


def _ts(rng, n, start, days):
    base = np.datetime64(start, "us")
    span = int(days * 86400 * 1_000_000)
    return base + rng.integers(0, span, n).astype("timedelta64[us]")


def _days(rng, n, start, days):
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, days, n) * 86400 * 1_000_000).astype(
        "timedelta64[us]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _text(rng, n_words):
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def generate(out, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part, n_ord, n_ev, n_user, n_doc, n_emb = (
        ROWS[k] for k in ("customer", "supplier", "part", "orders", "events",
                          "users", "documents", "embeddings"))
    n_line = LINES_PER_ORDER * n_ord

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PNAME[a]} {PNOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    flags = rng.integers(0, 3, n_line)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in flags],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", 2498)})
    ts = np.sort(_ts(rng, n_ev, "2024-01-01", 30))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})
    # a fixed number of near duplicates at seeded positions, so the dedup
    # queries' work does not swing with the seed
    near = set(rng.choice(np.arange(1, n_doc), int(n_doc * NEAR_DUP_SHARE),
                          replace=False).tolist())
    texts, originals = [], []
    for i in range(n_doc):
        if i in near:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]]
                         + " dup")
        else:
            originals.append(i)
            texts.append(_text(rng, int(rng.integers(*DOC_WORDS))))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % SOURCES}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    # unit vectors in random directions; the labels carry no cluster
    # structure (mean cosine within a label is ~0 in the test data too)
    labels = rng.integers(0, LABELS, n_emb)
    vecs = rng.normal(0.0, 1.0, (n_emb, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array([v for v in vecs.astype(np.float32)],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


if __name__ == "__main__":
    import sys
    generate(sys.argv[1], int(sys.argv[2]))
