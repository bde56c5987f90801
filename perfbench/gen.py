"""Seeded input generation for the benchmark.

`tables(dir, sf)` writes the ten tables `graft.Tables.registerAll` expects,
in the same schema and value domains as the repository's synthetic
TPC-H-shaped test data (independent uniform columns, keys from 0, dates
1995-2001), so the TPC-H gates select non-empty, non-trivial results. The
table data uses a fixed seed: the workload seed varies only query order and
the lake upsert batches, so every run of a workload reads the same tables.

`upserts(...)` writes the seeded upsert batch files for lake_ingest and
returns the expected final table state, computed here independently of the
program under test.
"""
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value window").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
ORDER_DAYS = (np.datetime64("1995-01-01"), np.datetime64("2001-08-01"))
SHIP_DAYS = (np.datetime64("1995-01-02"), np.datetime64("2001-11-04"))
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _days(rng, n, lo_hi):
    lo, hi = lo_hi
    span = int((hi - lo) / np.timedelta64(1, "D"))
    return (lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dir, f"{name}.parquet"),
                   row_group_size=1 << 24)


def tables(dir, sf):
    """Write the ten tables at scale factor `sf` into `dir`."""
    os.makedirs(dir, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_event, n_doc = int(1_000_000 * sf), int(50_000 * sf)
    i32, i64 = pa.int32(), pa.int64()

    _write(dir, "region", {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    _write(dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": np.char.add(np.char.add(rng.choice(ADJECTIVES, n_part), " "),
                              rng.choice(NOUNS, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    _write(dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _days(rng, n_ord, ORDER_DAYS),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(500, 3000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, SHIP_DAYS)})
    ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * 86_400_000_000, n_event)).astype("timedelta64[us]")
    _write(dir, "events", {
        "event_id": pa.array(np.arange(n_event), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_event // 66), n_event), i64),
        "event_type": rng.choice(EVENT_TYPES, n_event),
        "value": _money(rng, n_event, 0.01, 490.02),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_event)]})
    text = [" ".join(rng.choice(WORDS, k)) for k in rng.integers(8, 90, n_doc)]
    _write(dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": text,
        "lang": rng.choice(LANGS, n_doc),
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": pa.array([len(t) for t in text], i64)})
    emb = rng.normal(0, 0.15, (n_doc, 64)).astype(np.float32)
    _write(dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_doc), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc), i32)})


def upserts(orders_path, out_dir, seed, batches, rows, update_share):
    """Write `batches` upsert files of `rows` distinct keys each into
    `out_dir` and return the expected final table as a DataFrame.

    Batch b carries `ver = b + 1`, so it supersedes every earlier version
    of its keys. About `update_share` of each batch updates existing keys,
    drawn with a bias toward the most recent keys (recently inserted rows
    are updated most often); the rest insert new keys above the current
    maximum.
    """
    rng = np.random.default_rng(seed)
    base = pq.read_table(orders_path).to_pandas()
    base["ver"] = np.int64(0)
    state = base.set_index("o_orderkey")
    next_key = int(state.index.max()) + 1
    os.makedirs(out_dir, exist_ok=True)
    for b in range(batches):
        n_upd = int(rng.binomial(rows, update_share))
        # recency skew: an exponential offset back from the newest key
        back = rng.exponential(0.15 * next_key, n_upd * 2).astype(np.int64)
        upd = pd.unique(np.clip(next_key - 1 - back, 0, next_key - 1))[:n_upd]
        ins = np.arange(next_key, next_key + rows - len(upd))
        next_key += len(ins)
        keys = np.concatenate([upd, ins]).astype(np.int64)
        n = len(keys)
        batch = pd.DataFrame({
            "o_orderkey": keys,
            "o_custkey": rng.integers(0, 15_000, n).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": _money(rng, n, 1000, 500_000),
            "o_orderdate": _days(rng, n, ORDER_DAYS),
            "o_orderpriority": rng.choice(PRIORITIES, n),
            "ver": np.int64(b + 1)})
        pq.write_table(pa.Table.from_pandas(batch, preserve_index=False),
                       os.path.join(out_dir, f"batch_{b:04d}.parquet"))
        state = pd.concat([state[~state.index.isin(keys)], batch.set_index("o_orderkey")])
    return state.reset_index()
