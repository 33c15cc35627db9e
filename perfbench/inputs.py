"""Seeded inputs for the query workload.

``write_query_tables`` writes the ten read-only tables the registered
queries scan (``region nation customer supplier part orders lineitem
events documents embeddings``), one parquet file each, with the schemas
and value ranges of the engine's test lake. Pure NumPy and PyArrow, so
the same seed gives byte-identical files. (The medallion workload's
bronze inputs come from the engine's own seeded generator,
``fintech_lakehouse_spark.datagen``.)
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64

DAY_US = 86_400 * 1_000_000
ORDER_EPOCH = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EVENT_EPOCH = np.datetime64("2024-01-01", "us")


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, like the engine's test lake
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   compression="snappy")


def _days(offsets: np.ndarray) -> np.ndarray:
    return (ORDER_EPOCH + offsets.astype("timedelta64[D]")).astype(
        "datetime64[us]")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents; ~5% are edited copies of an earlier
    document and ~0.2% exact copies, so the dedup and near-duplicate
    queries find pairs."""
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and u < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            keep = max(5, int(len(words) * 0.9))
            texts.append(" ".join(words[:keep] + ["dup"]))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, size=k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_WEIGHTS)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def write_query_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten query tables at scale ``sf`` (lineitem ≈ 6M·sf rows)
    into ``out_dir``; returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, size=n_cust)),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    part_keys = np.arange(n_part, dtype=np.int64)
    retail = np.round(900.0 + (part_keys % 1000) * 0.1, 2)
    tables["part"] = pa.table({
        "p_partkey": pa.array(part_keys),
        "p_name": pa.array([
            f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                       rng.choice(PART_NOUN, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, size=n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(retail),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], size=n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1_000, 500_000, n_ord), 2)),
        "o_orderdate": pa.array(_days(rng.integers(0, ORDER_DAYS + 1, n_ord))),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, size=n_ord)),
    })
    l_part = rng.integers(0, n_part, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(l_part),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * retail[l_part], 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], size=n_line)),
        "l_shipdate": pa.array(_days(rng.integers(1, ORDER_DAYS + 95, n_line))),
    })
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_evt))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        # timezone-less microsecond timestamps (parquet isAdjustedToUTC=false)
        "ts": pa.array(EVENT_EPOCH + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n_evt)),
        "value": pa.array(np.round(rng.exponential(50.0, n_evt) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    tables["documents"] = _documents(rng, n_doc)
    vecs = rng.standard_normal((n_vec, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
    })
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
