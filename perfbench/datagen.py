"""Seeded input tables for the benchmark.

Writes one parquet file per table, in the layout and schema of the
engine's test fixtures (a TPC-H-style star schema, an `events` stream
table and a bag-of-words `documents` corpus).  The same seed gives the
same bytes.

Prices are whole multiples of 100 and discounts and taxes have two
decimals, so every rounded aggregate the workloads compute lies on its
rounding grid.  Spark and DuckDB then agree exactly, whatever order
each engine sums in.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["cold", "small", "large", "bright", "dark", "heavy", "light", "smooth"]
PART_NOUN = ["widget", "bolt", "gear", "spring", "valve", "panel", "frame", "lever"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"]
EVENT_TYPES = ["click", "view", "error", "purchase"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("a the agg batch big column customer data fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table value vector window").split()

#: TPC-H order dates run from 1992-01-01 to 1998-08-02
_EPOCH_1992 = np.datetime64("1992-01-01", "D")
_ORDER_DAYS = int((np.datetime64("1998-08-02", "D") - _EPOCH_1992).astype(int))
_EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
_ROW_GROUP = 65536


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform values with two decimals in [lo, hi]."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(offsets: np.ndarray) -> pa.Array:
    stamps = (_EPOCH_1992 + offsets.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(stamps, pa.timestamp("us"))


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _keyed_names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _keyed_names("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    part = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    order_day = rng.integers(0, _ORDER_DAYS, n_ord)
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.choice(3, n_ord, p=[0.49, 0.49, 0.02])],
        "o_totalprice": _cents(rng, 850.0, 550_000.0, n_ord),
        "o_orderdate": _days(order_day),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines_per_order = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per_order)
    n_line = len(l_order)
    starts = np.cumsum(lines_per_order) - lines_per_order
    l_number = np.arange(n_line) - np.repeat(starts, lines_per_order) + 1
    quantity = rng.integers(1, 51, n_line)
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": l_number.astype(np.int32),
        "l_quantity": quantity.astype(np.float64),
        "l_extendedprice": (quantity * 100 * rng.integers(9, 21, n_line)).astype(np.float64),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(order_day[l_order] + rng.integers(1, 122, n_line)),
    })
    n_ev = int(1_000_000 * sf)
    # strictly increasing timestamps: as-of joins and session order have no ties
    gaps_us = rng.integers(1, 20_000_000, n_ev)
    ts = _EVENTS_START + np.cumsum(gaps_us).astype("timedelta64[us]")
    events = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(50, int(5000 * sf)), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_ev)],
        "value": _cents(rng, 0.0, 19.99, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem, "events": events}


def documents_table(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Bag-of-words documents; about one in twenty repeats an earlier
    document's text with a trailing ' dup' token (a near duplicate)."""
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(8, 100)))]
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_WEIGHTS)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_inputs(out_dir: str, seed: int, sf: float, n_docs: int) -> dict[str, str]:
    """Write every table under `out_dir`; returns {table: parquet path}."""
    rng = np.random.default_rng(seed)
    tables = tpch_tables(rng, sf)
    tables["documents"] = documents_table(rng, n_docs)
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name], row_group_size=_ROW_GROUP)
    return paths
