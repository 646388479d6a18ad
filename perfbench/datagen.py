"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the queries read (TPC-H-style star schema plus
`events`, `documents` and `embeddings`) as one parquet file each. The
files are byte for byte the project's sf0.1 test data (TESTDATA.md): the
same seed, the same draws in the same order, the same writer. `ensure`
checks every file against the SHA-256 of that data and refuses a
mismatch, so the benchmark never runs on tables that only look alike.
"""
import hashlib
import os
import shutil

import numpy as np
import pandas as pd

DATA_SEED = 42
# Bumped whenever the generator's output changes, so a cached copy is
# never mistaken for the current one.
VERSION = "2"

ROWS = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000, "orders": 150_000,
    "lineitem": 600_000, "events": 100_000, "documents": 5_000, "embeddings": 2_000,
}
# SHA-256 of each file of the sf0.1 test data
SHA256 = {
    "region": "ce0717013cdeb77e1b29870f1f191f46bd2f0c661a18364441ac008e0e5c00a0",
    "nation": "590830f49a4bd515abef3c3e70cd5ec083b2977574ca9867317d5545413b3696",
    "customer": "d5de58d671fa7dbf8805a2fe4f0aee2b570201207c126f9b6069226b42bb1b2b",
    "supplier": "ab1a9344d47e65970205ac2b723c4dc9ec1be0e776b809422e41edc7e9498d8a",
    "part": "082525b9eb5098fe7b841e66b5a3e156808d32230202bc11cbafd85eb2443ea1",
    "orders": "128b7e8c223a3934181f7cbfc5460df52b322ea79ec980fd0e0064da08f8e3d3",
    "lineitem": "e2be01994986260d75f144c52a2648eb294f82e5ba86f32e7a84230be01856d2",
    "events": "1d18f4489b6c943be2ec8514f0e368199076bbd68d3daf19feef863960f2afe2",
    "documents": "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82",
    "embeddings": "f5a6fe8c86ce87190f685e5d246b3e544155aa147a7f47af7d32bb6d8ebe0a95",
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("the a spark query table join group filter window data order customer part "
         "line fast slow big small hash sort merge scan agg stream batch vector key "
         "value row column").split()
# English is three times as likely as each other language
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
DIM = 64


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    return np.datetime64(start, "s") + (rng.integers(0, span_days + 1, n) * 86_400).astype(
        "timedelta64[s]")


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def tables():
    """Yield (name, pandas.DataFrame) for every table, in a fixed order:
    the draws of one table follow those of the one before it."""
    rng = np.random.default_rng(DATA_SEED)
    i32 = np.int32

    yield "region", pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS})
    yield "nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=i32) % 5})

    n = ROWS["customer"]
    yield "customer", pd.DataFrame({
        "c_custkey": np.arange(n),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n)})

    n = ROWS["supplier"]
    yield "supplier", pd.DataFrame({
        "s_suppkey": np.arange(n),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})

    n = ROWS["part"]
    adj, noun = rng.integers(0, 8, n), rng.integers(0, 8, n)
    yield "part", pd.DataFrame({
        "p_partkey": np.arange(n),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(i32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2)})

    n_orders = ROWS["orders"]
    yield "orders", pd.DataFrame({
        "o_orderkey": np.arange(n_orders),
        "o_custkey": rng.integers(0, ROWS["customer"], n_orders),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_orders),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders)})

    n = ROWS["lineitem"]
    yield "lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, ROWS["part"], n),
        "l_suppkey": rng.integers(0, ROWS["supplier"], n),
        "l_linenumber": rng.integers(1, 8, n).astype(i32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": _pick(rng, ["R", "A", "N"], n),
        "l_linestatus": _pick(rng, ["O", "F"], n),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n)})

    n = ROWS["events"]
    # seconds into a 30-day window, kept in nanoseconds; the writer
    # truncates them to microseconds
    offsets = (np.sort(rng.uniform(0.0, 30 * 86_400, n)) * 1e9).astype("timedelta64[ns]")
    yield "events", pd.DataFrame({
        "event_id": np.arange(n),
        "ts": np.datetime64("2024-01-01", "ns") + offsets,
        "user_id": rng.integers(0, 1500, n),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    n = ROWS["documents"]
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), rng.integers(10, 100))])
             for _ in range(n)]
    # 5% near-duplicates: another document's text with a marker word
    for d in rng.choice(n, n // 20, replace=False):
        texts[d] = texts[int(rng.integers(0, n))] + " dup"
    yield "documents", pd.DataFrame({
        "doc_id": np.arange(n),
        "text": texts,
        "lang": _pick(rng, LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts])})

    n = ROWS["embeddings"]
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    yield "embeddings", pd.DataFrame({
        "vec_id": np.arange(n),
        "embedding": list(v),
        "label": rng.integers(0, 10, n).astype(i32)})


def sha256(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def ensure(root):
    """Generate the tables under `root/v<VERSION>` unless already there;
    return that directory. Generation stages into a sibling directory and
    renames it into place, so an interrupted run never leaves a partial
    copy that a later run would trust. Raises ValueError if a file is not
    the one of the test data (another pandas or pyarrow writes other
    bytes)."""
    out = os.path.join(root, f"v{VERSION}")
    if os.path.isdir(out):
        return out
    stage = f"{out}.stage{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    for name, df in tables():
        path = os.path.join(stage, f"{name}.parquet")
        df.to_parquet(path, index=False, coerce_timestamps="us",
                      allow_truncated_timestamps=True)
        if sha256(path) != SHA256[name]:
            raise ValueError(f"{name}.parquet differs from the sf0.1 test data "
                             f"(sha256 {sha256(path)}); kept in {stage}")
    os.rename(stage, out)
    return out


if __name__ == "__main__":
    import sys
    print(ensure(sys.argv[1] if len(sys.argv) > 1 else ".perfbench/data"))
