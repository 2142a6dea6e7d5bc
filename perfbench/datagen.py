"""Seeded generator for the ten input tables the engine reads.

The tables follow the column names, types and value ranges of the
engine's TPC-H-style test schema (``acuvate_spark.tables.TABLES``), so
every registry query runs on them unchanged. Keys are dense
(``0..n-1``) as in TPC-H; everything else is drawn from
``numpy.random.default_rng(seed)``, so the same seed and scale always
give byte-identical parquet.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table; "tiny" is the smoke scale, "small" the measured one
SCALES = {
    "tiny": dict(customer=150, supplier=10, part=200, orders=1500, lineitem=6000,
                 events=1000, users=15, documents=60, embeddings=60),
    "small": dict(customer=1500, supplier=100, part=2000, orders=15000, lineitem=60000,
                  events=10000, users=150, documents=500, embeddings=500),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.45, 0.15, 0.15, 0.12, 0.13]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _days(rng, n, span_days):
    return EPOCH_1995 + rng.integers(0, span_days, n) * np.timedelta64(DAY_US, "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng: np.random.Generator, rows: dict) -> dict[str, pa.Table]:
    i32, i64 = pa.int32(), pa.int64()
    n_c, n_s, n_p = rows["customer"], rows["supplier"], rows["part"]
    n_o, n_l, n_e = rows["orders"], rows["lineitem"], rows["events"]
    n_d, n_v = rows["documents"], rows["embeddings"]
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_c), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": rng.choice(SEGMENTS, n_c),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_s), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
    })
    keys = np.arange(n_p)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": np.char.add(np.char.add(rng.choice(P_ADJ, n_p), " "), rng.choice(P_NOUN, n_p)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_p).astype(str)),
        "p_type": rng.choice(P_TYPES, n_p),
        "p_size": pa.array(rng.integers(1, 51, n_p), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_o), i64),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o, p=[0.49, 0.49, 0.02]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
        "o_orderdate": _days(rng, n_o, 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_o),
    })
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), i64),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), i64),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_linestatus": rng.choice(["F", "O"], n_l),
        "l_shipdate": _days(rng, n_l, 2500),
    })
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_e))
    t["events"] = pa.table({
        "event_id": pa.array(range(n_e), i64),
        "ts": EPOCH_2024 + ts.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, rows["users"], n_e), i64),
        "event_type": rng.choice(EVENT_TYPES, n_e),
        "value": _money(rng, 0.01, 400.0, n_e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    lengths = rng.integers(8, 90, n_d)
    text = [" ".join(rng.choice(WORDS, k)) for k in lengths]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_d), i64),
        "text": text,
        "lang": rng.choice(LANGS, n_d, p=LANG_P),
        "source": np.char.add("src", rng.integers(0, 20, n_d).astype(str)),
        "n_chars": pa.array([len(s) for s in text], i64),
    })
    labels = rng.integers(0, 10, n_v)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_v, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_v), i64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def generate(out_dir: str, seed: int, scale: str = "small") -> dict[str, int]:
    """Write the ten tables as ``<out_dir>/<name>.parquet``; returns
    the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    tables = _tables(np.random.default_rng(seed), SCALES[scale])
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}
