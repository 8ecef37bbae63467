"""Seeded synthetic inputs for the benchmark.

Writes the TPC-H-ish star schema plus the ``events``, ``documents`` and
``embeddings`` tables that the engine's registry queries read, one parquet
file per table, with the column names and types those queries expect.
Everything is drawn from ``numpy.random.default_rng(seed)``: the same seed
and scale give byte-identical tables.

Two properties are deliberate:

- ``o_orderdate`` rises with ``o_orderkey`` (keys are issued in time
  order), and ``l_shipdate`` trails its order by 1-121 days.  So inside one
  ship-month partition the ``l_orderkey`` range is narrow, and a key-range
  predicate can be pruned by per-file metrics, not only by partition.
- about one document in twenty is an exact copy of an earlier one, so the
  dedup queries have work to do.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
NOUNS = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer "
         "query big stream group filter vector dup").split()

US_PER_DAY = 86_400_000_000
DAY0_ORDERS = np.datetime64("1995-01-01", "D").astype(np.int64)
ORDER_DAYS = int(np.datetime64("2001-08-01", "D").astype(np.int64) - DAY0_ORDERS)
EVENTS_T0_US = np.datetime64("2024-01-01", "us").astype(np.int64)
EVENT_SPAN_US = 30 * US_PER_DAY
EMBED_DIM = 64


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.int64()).cast(
        pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def gen_tables(seed: int, scale: float = 0.01) -> dict:
    """Return {table name: pyarrow.Table}; row counts follow TPC-H at
    ``scale`` (lineitem ~ 6M x scale)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 20)
    n_part = max(int(200_000 * scale), 100)
    n_ord = max(int(1_500_000 * scale), 500)
    n_line = 4 * n_ord
    n_evt = max(int(1_000_000 * scale), 1000)
    n_doc = max(int(50_000 * scale), 200)
    n_vec = max(int(50_000 * scale), 200)

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})

    order_day = np.sort(rng.integers(0, ORDER_DAYS, n_ord))
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts((DAY0_ORDERS + order_day) * US_PER_DAY),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})

    l_order = np.sort(rng.integers(0, n_ord, n_line))
    ship_day = DAY0_ORDERS + order_day[l_order] + rng.integers(1, 122, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": l_order.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(ship_day * US_PER_DAY)})

    t["events"] = gen_events(rng, 0, n_evt, n_users=max(n_cust // 10, 50))

    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        k = int(rng.integers(10, 100))
        texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})

    centers = rng.normal(0, 1, (10, EMBED_DIM))
    labels = rng.integers(0, 10, n_vec)
    vecs = (centers[labels] + rng.normal(0, 0.8, (n_vec, EMBED_DIM))) / 8
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return t


def gen_events(rng, first_id: int, n: int, n_users: int = 150,
               batch: int = None) -> pa.Table:
    """``n`` events with ids ``first_id..first_id+n-1`` in time order; with
    ``batch`` set, a constant int ``batch`` column is appended (the ingest
    workload's window key)."""
    ts = EVENTS_T0_US + np.sort(rng.integers(0, EVENT_SPAN_US, n))
    cols = {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2) + 0.01,
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }
    if batch is not None:
        cols["batch"] = np.full(n, batch, dtype=np.int32)
    return pa.table(cols)


def write_tables(tables: dict, out_dir: str) -> dict:
    """Write each table to ``out_dir/<name>.parquet``; return name -> path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, tbl in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, paths[name])
    return paths
