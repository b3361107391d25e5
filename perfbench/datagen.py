"""Deterministic synthetic star-schema inputs for the benchmark.

Writes the ten tables the engine reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one
parquet file each, with the column names, types and value ranges of
the engine's test data.  Every value comes from a NumPy generator
seeded with ``seed``, so the same ``(seed, sf)`` writes the same rows.

Row counts scale with ``sf`` the way the engine's test data does:
orders = 1.5M x sf and lineitem = 4 x orders on average (Poisson
line counts per order, so some orders have no items and
``(l_orderkey, l_linenumber)`` repeats, as in the test data).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the big small fast slow data table row column key value "
         "part order line customer scan filter join agg sort group "
         "hash window stream batch merge query spark vector").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
P_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                    "STANDARD"])
P_ADJ = np.array(["small", "red", "blue", "hot", "old", "big", "green"])
P_NOUN = np.array(["ring", "widget", "bolt", "gear", "gizmo", "nut"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400 * 1_000_000
_ORDER_START = dt.datetime(1995, 1, 1)
_ORDER_DAYS = (dt.datetime(2001, 8, 1) - _ORDER_START).days
_SHIP_DAYS = (dt.datetime(2001, 11, 4) - _ORDER_START).days
_EVENT_START = dt.datetime(2024, 1, 1)
_EVENT_US = 30 * _DAY_US


def _epoch_us(d: dt.datetime) -> int:
    return int((d - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _days(rng, n: int, span: int) -> pa.Array:
    return _ts(_epoch_us(_ORDER_START)
               + rng.integers(0, span + 1, n) * _DAY_US)


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n: int) -> list[str]:
    words = np.array(WORDS)
    out: list[str] = []
    for i, k in enumerate(rng.integers(10, 101, n)):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            out.append(out[int(rng.integers(0, i))] + " dup")
        else:
            out.append(" ".join(words[rng.integers(0, len(words), k)]))
    return out


def generate(out_dir: str, seed: int, sf: float,
             only: tuple[str, ...] | None = None) -> dict[str, int]:
    """Write every table (or those named in ``only``) under ``out_dir``
    and return their row counts."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(20, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_orders = max(1_500, int(1_500_000 * sf))
    n_items = 4 * n_orders
    n_events = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    nation_key = np.arange(25, dtype="int32")
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype="int32")),
            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": nation_key,
            "n_name": [f"NATION_{i}" for i in nation_key],
            "n_regionkey": nation_key % 5}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": np.char.add(np.char.add(
                P_ADJ[rng.integers(0, len(P_ADJ), n_part)], " "),
                P_NOUN[rng.integers(0, len(P_NOUN), n_part)]),
            "p_brand": np.char.add("Brand#",
                                   rng.integers(1, 26, n_part).astype(str)),
            "p_type": P_TYPES[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1,
                                      2)}),
        "orders": pa.table({
            "o_orderkey": np.arange(n_orders, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": np.array(["F", "O", "P"])[
                rng.integers(0, 3, n_orders)],
            "o_totalprice": _money(rng, n_orders, 1000, 500_000),
            "o_orderdate": _days(rng, n_orders, _ORDER_DAYS),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_orders)]}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_orders, n_items),
            "l_partkey": rng.integers(0, n_part, n_items),
            "l_suppkey": rng.integers(0, n_supp, n_items),
            "l_linenumber": rng.integers(1, 8, n_items).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_items).astype("float64"),
            "l_extendedprice": _money(rng, n_items, 900, 105_000),
            "l_discount": rng.integers(0, 11, n_items) / 100.0,
            "l_tax": rng.integers(0, 9, n_items) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[
                rng.integers(0, 3, n_items)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_items)],
            "l_shipdate": _days(rng, n_items, _SHIP_DAYS)}),
        "events": pa.table({
            "event_id": np.arange(n_events, dtype="int64"),
            "ts": _ts(np.sort(_epoch_us(_EVENT_START)
                              + rng.integers(0, _EVENT_US, n_events))),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n_events)],
            "value": np.maximum(0.01,
                                np.round(rng.exponential(50.0, n_events), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
        }),
    }
    texts = _texts(rng, n_docs)
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    vecs = rng.standard_normal((n_vecs, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(
            vecs.ravel(), 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype("int32")})

    if only is not None:
        tables = {name: tables[name] for name in only}
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
