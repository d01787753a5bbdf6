"""Seeded input generation for the benchmark.

Two kinds of input:

- ``write_tables``: the TPC-H-shaped star schema plus ``events``,
  ``documents`` and ``embeddings`` at a given scale factor, written as one
  parquet file per table with the same schemas and value domains as the
  engine's test fixtures. The engine's registry queries read these through
  ``sources.tpch.load_table``.
- ``order_batch`` / ``dims``: the reference pipeline's faker-shaped order
  micro-batches and its customer/nation dimension snapshots
  (``sources/faker`` domains: cust_key 0..19, nation_key 1..19, prices
  1..1000 with 2 dp).

Everything is a pure function of its seed: the same seed gives byte-equal
tables and batches.
"""

from __future__ import annotations

import datetime as dt
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ORDER_STATUS = ["F", "O", "P"]
ORDER_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["big", "blue", "cold", "hot", "large", "new", "old", "red"]
PART_NOUN = ["anvil", "bolt", "gear", "nut", "plate", "ring", "rod", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window index"
).split()

# faker domains (sources/faker.py)
FAKER_NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA",
]
FAKER_PRIORITIES = ["low", "medium", "high"]
FIRST_NAMES = ["Alex", "Brook", "Casey", "Dana", "Ellis", "Flynn", "Gray", "Harper"]
LAST_NAMES = ["Stone", "Rivers", "Fields", "Woods", "Brooks", "Hayes", "Lane", "Cole"]
# customers exist for keys 0..17 only: orders for keys 18 and 19 miss the
# lookup join and land in the NULL nation group, as in the reference
N_CUST_KEYS = 20
N_LIVE_CUSTOMERS = 18

_DAY_US = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo: dt.datetime, span_days: int, n: int) -> pa.Array:
    us = _us(lo) + rng.integers(0, span_days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The star schema + events/documents/embeddings as Arrow tables."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_part = int(200_000 * sf)
    n_supp = int(10_000 * sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = np.char.add(
        np.char.add(np.asarray(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
        np.asarray(PART_NOUN)[rng.integers(0, 8, n_part)],
    )
    out["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(names.astype(object), pa.string()),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)).astype(object), pa.string()),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1)),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(rng, ORDER_STATUS, n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), 2404, n_ord),
        "o_orderpriority": _pick(rng, ORDER_PRIORITIES, n_ord),
    })
    disc = np.round(rng.integers(0, 11, n_li) / 100.0, 2)
    tax = np.round(rng.integers(0, 9, n_li) / 100.0, 2)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(0, n_ord, n_li)).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(disc),
        "l_tax": pa.array(tax),
        "l_returnflag": _pick(rng, RETURN_FLAGS, n_li),
        "l_linestatus": _pick(rng, LINE_STATUS, n_li),
        "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), 2498, n_li),
    })
    out["events"] = _events(rng, 100_000)
    out["documents"] = _documents(rng, 5_000)
    out["embeddings"] = _embeddings(rng, 2_000, 64, 10)
    return out


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    start = _us(dt.datetime(2024, 1, 1))
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(60.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(8, 90, n)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # a few exact duplicates, so exact/near dedup has work to find
    for i in rng.choice(n, 8, replace=False):
        texts[i] = texts[(i + 1) % n]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.asarray([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int, n_labels: int) -> pa.Table:
    centers = rng.normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, n)
    vecs = centers[labels] + rng.normal(scale=0.6, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32)),
        pa.array(vecs.reshape(-1)),
    )
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(labels.astype(np.int32)),
    })


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts


# ---------- reference pipeline inputs ----------

ORDER_SCHEMA = pa.schema([
    ("order_key", pa.int64()),
    ("cust_key", pa.int32()),
    ("total_price", pa.decimal128(15, 2)),
    ("order_date", pa.date32()),
    ("order_priority", pa.string()),
    ("clerk", pa.string()),
])


def order_batch(seed: int, batch_id: int, n: int) -> pa.Table:
    """Micro-batch ``batch_id`` of the seeded order stream. Order keys are
    unique across the stream (``batch_id * n + i``, offset by the seed)."""
    rng = np.random.default_rng([seed, batch_id])
    cents = rng.integers(100, 100_000, n)
    return pa.table({
        "order_key": pa.array(seed * 1_000_000_000 + batch_id * n + np.arange(n, dtype=np.int64)),
        "cust_key": pa.array(rng.integers(0, N_CUST_KEYS, n).astype(np.int32)),
        "total_price": pa.array([Decimal(int(c)).scaleb(-2) for c in cents], pa.decimal128(15, 2)),
        "order_date": pa.array(
            (np.datetime64("2024-01-01") + rng.integers(0, 100, n)).astype("datetime64[D]"), pa.date32()
        ),
        "order_priority": _pick(rng, FAKER_PRIORITIES, n),
        "clerk": pa.array([f"Clerk{c}" for c in rng.integers(1, 5, n)]),
    }, schema=ORDER_SCHEMA)


def dims(seed: int) -> tuple[pa.Table, pa.Table]:
    """Deduplicated customer and nation dimension snapshots."""
    rng = np.random.default_rng([seed, 1 << 30])
    k = N_LIVE_CUSTOMERS
    customers = pa.table({
        "cust_key": pa.array(np.arange(k, dtype=np.int32)),
        "name": pa.array([
            f"{FIRST_NAMES[a]} {LAST_NAMES[b]}"
            for a, b in zip(rng.integers(0, 8, k), rng.integers(0, 8, k))
        ]),
        "phone": pa.array([f"+1-{a}-{b}" for a, b in zip(rng.integers(100, 999, k), rng.integers(1000, 9999, k))]),
        # nation 20 has no row in the nation dim: its customers' orders
        # carry a NULL nation_name, a second route into the NULL group
        "nation_key": pa.array(rng.integers(1, 21, k).astype(np.int32)),
        "acctbal": pa.array([Decimal(int(c)).scaleb(-2) for c in rng.integers(100, 100_000, k)], pa.decimal128(15, 2)),
        "mktsegment": _pick(rng, SEGMENTS, k),
    })
    nations = pa.table({
        "nation_key": pa.array(np.arange(1, 20, dtype=np.int32)),
        "name": pa.array(FAKER_NATIONS[1:20]),
    })
    return customers, nations
