"""Seeded input tables for the benchmark.

Writes the ten parquet tables the query registry reads (the TPC-H-shaped
star schema plus ``events``, ``documents`` and ``embeddings``) with the
same schemas and the same value shapes as the engine's reference test
data: independent uniform columns, two-decimal money, a 30-word text
vocabulary with 5% near-duplicate documents, and random unit-norm 64-d
float embeddings with ten labels. The same ``(seed, sf)`` always gives
the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "red", "hot", "large", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMB_DIM = 64
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400 * 10**6


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    return start + rng.randint(0, n_days, n).astype("timedelta64[D]")


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.RandomState(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)

    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())}),
    }
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.randint(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.randint(0, 5, n_cust)]})
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.randint(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    names = np.char.add(np.char.add(np.array(PART_ADJ)[rng.randint(0, 8, n_part)], " "),
                        np.array(PART_NOUN)[rng.randint(0, 8, n_part)])
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.randint(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.randint(0, 6, n_part)],
        "p_size": rng.randint(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.randint(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.randint(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, EPOCH_1995, 2405, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.randint(0, 5, n_ord)]})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.randint(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.randint(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.randint(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.randint(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.randint(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.randint(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.randint(0, 2, n_line)],
        "l_shipdate": _days(rng, EPOCH_1995 + np.timedelta64(1, "D"), 2499, n_line)})
    ts = EPOCH_2024 + rng.randint(0, 30 * DAY_US, n_ev).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        # nanosecond parquet timestamps, as in the reference data: the
        # loader's nanos-as-long conversion is part of what is measured
        "ts": pa.array(ts.astype("datetime64[ns]"), pa.timestamp("ns")),
        "user_id": rng.randint(0, max(int(15_000 * sf), 15), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.randint(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n_ev)]})
    out["documents"] = _documents(rng, n_doc)
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def _documents(rng, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.randint(0, len(vocab), rng.randint(10, 100))])
             for _ in range(n)]
    # 5% near-duplicates: another document's text plus one marker token
    for i in np.flatnonzero(rng.uniform(size=n) < 0.05):
        texts[i] = texts[rng.randint(0, n)] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def _embeddings(rng, n: int) -> pa.Table:
    label = rng.randint(0, 10, n)
    x = rng.normal(0, 1, (n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": label.astype(np.int32)})


def write(out_dir: str, seed: int, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
