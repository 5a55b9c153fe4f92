"""Deterministic generator of the benchmark's input tables.

Writes the TPC-H-shaped star schema plus the `events`, `documents` and
`embeddings` tables that graft's loaders (`graft.core.Tables`) read, one
parquet file per table, with the column names and types of the
project's test data. The content is a pure function of the fixed
generator seed and the sizes below: the benchmark's `--seed` never
changes the tables, only the order in which the workloads replay and
query them, so stored expected results stay valid.

    python3 perfbench/datagen.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
SF = 0.01            # TPC-H tables: lineitem 60k rows, orders 15k
EVENTS = 60_000      # events: a fraud_stream run replays 48k of them
USERS = 1_500
DOCS = 1_000
EMBEDDINGS = 1_000
DIM = 64

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _ts_us(start: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _dates(rng, n, start, end) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables() -> dict:
    rng = np.random.default_rng(GEN_SEED)
    n_cust, n_part, n_supp = int(150_000 * SF), int(200_000 * SF), int(10_000 * SF)
    n_ord, n_li = int(1_500_000 * SF), int(6_000_000 * SF)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    adj = ["small", "red", "blue", "cold", "hot", "new", "old", "large"]
    noun = ["ring", "widget", "bolt", "plate", "gear", "rod", "anvil"]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, len(adj), n_part), rng.integers(0, len(noun), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _dates(rng, n_li, "1995-01-02", "2001-11-04")})
    gaps = rng.exponential(30 * 86_400e6 / EVENTS, EVENTS)
    out["events"] = pa.table({
        "event_id": np.arange(EVENTS, dtype=np.int64),
        "ts": _ts_us("2024-01-01", np.cumsum(gaps)),
        "user_id": rng.integers(0, USERS, EVENTS),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], EVENTS),
        "value": np.round(np.maximum(rng.exponential(50.0, EVENTS), 0.01), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS)]})
    texts = []
    for i in range(DOCS):
        if i >= 20 and rng.random() < 0.05:   # planted near-duplicate
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(WORDS, int(rng.integers(8, 90))))
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": np.arange(DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], DOCS,
                           p=[0.5, 0.125, 0.125, 0.125, 0.125]),
        "source": [f"src{s}" for s in rng.integers(0, 20, DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, EMBEDDINGS)
    centers = rng.normal(0, 1, (10, DIM))
    vecs = centers[labels] + rng.normal(0, 0.8, (EMBEDDINGS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(out_dir: str) -> None:
    """Write every table under `out_dir`, which must not exist yet
    (callers generate into a scratch name and rename it into place)."""
    os.makedirs(out_dir)
    for name, t in tables().items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1])
