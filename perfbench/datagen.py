"""Seeded generator for the benchmark's input tables.

Writes the engine's star schema (region, nation, customer, supplier,
part, orders, lineitem), the `events` stream table and the
`documents`/`embeddings` corpus tables as one parquet file each, with
the column names, types and value domains the query catalog reads. The
same (seed, scale) always yields byte-identical tables.

`landing` derives one ETL refresh batch from a base star: changed and
new customers and parts as CSV deltas (the COPY input), with a fixed
number of malformed CSV rows that COPY must reject, and the customer
snapshot they make as parquet (the incremental and CDC input).
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget")
ORDER_STATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "de", "es", "fr", "zh")
WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")

ORDER_EPOCH = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404            # 1995-01-01 .. 2001-08-01
EVENT_EPOCH = dt.datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86_400 * 1_000_000
N_DOCS = 500
EMBED_DIM = 64


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _timestamps(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    epoch_us = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 10**6
    return pa.array(epoch_us + offsets_us.astype(np.int64),
                    type=pa.timestamp("us"))


def customers(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)],
    })


def parts(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    adj, noun = rng.integers(0, 8, n), rng.integers(0, 8, n)
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })


def orders(rng: np.random.Generator, keys: np.ndarray,
           n_customers: int) -> pa.Table:
    n = len(keys)
    days = rng.integers(0, ORDER_DAYS, n) * 86_400 * 10**6
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customers, n), pa.int64()),
        "o_orderstatus": [ORDER_STATUS[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _timestamps(ORDER_EPOCH, days),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
    })


def lineitems(rng: np.random.Generator, order_keys: np.ndarray,
              n_parts: int, n_suppliers: int) -> pa.Table:
    n = len(order_keys)
    qty = rng.integers(1, 51, n).astype(np.float64)
    days = rng.integers(1, ORDER_DAYS + 96, n) * 86_400 * 10**6
    return pa.table({
        "l_orderkey": pa.array(order_keys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_suppliers, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": _timestamps(ORDER_EPOCH, days),
    })


def events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    offsets = np.sort(rng.choice(EVENT_SPAN_US, n, replace=False))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _timestamps(EVENT_EPOCH, offsets),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": _money(rng, 0.01, 330.0, n),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    })


def documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.05:
            # a near-duplicate: an earlier document plus a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        n_words = int(rng.integers(8, 80))
        texts.append(" ".join(WORDS[w] for w in rng.integers(0, 30, n_words)))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng: np.random.Generator) -> pa.Table:
    v = rng.normal(size=(N_DOCS, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_DOCS), pa.int32()),
    })


@dataclass(frozen=True)
class StarSize:
    customers: int
    suppliers: int
    parts: int
    orders: int
    lineitems: int
    events: int

    @classmethod
    def at(cls, sf: float) -> "StarSize":
        """TPC-H-style cardinalities at scale factor `sf`."""
        return cls(customers=int(150_000 * sf), suppliers=int(10_000 * sf),
                   parts=int(200_000 * sf), orders=int(1_500_000 * sf),
                   lineitems=int(6_000_000 * sf),
                   events=int(1_000_000 * sf))


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def star(out_dir: str, seed: int, sf: float) -> StarSize:
    """Write all ten tables at scale `sf` into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    size = StarSize.at(sf)
    rng = np.random.default_rng([seed, 1])
    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS)}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    _write(out_dir, "customer", customers(rng, np.arange(size.customers)))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(size.suppliers), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(size.suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, size.suppliers),
                                pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, size.suppliers)}))
    _write(out_dir, "part", parts(rng, np.arange(size.parts)))
    _write(out_dir, "orders",
           orders(rng, np.arange(size.orders), size.customers))
    _write(out_dir, "lineitem", lineitems(
        rng, rng.integers(0, size.orders, size.lineitems), size.parts,
        size.suppliers))
    _write(out_dir, "events",
           events(rng, size.events, max(1, size.customers // 10)))
    _write(out_dir, "documents", documents(rng))
    _write(out_dir, "embeddings", embeddings(rng))
    return size


@dataclass(frozen=True)
class Landing:
    """What one refresh batch holds, for checking the refresh."""
    path: str
    customers: int          # rows in the customer snapshot
    changed_customers: int
    new_customers: int
    csv_rows: dict          # entity -> well-formed CSV rows staged


#: Malformed rows per staged CSV entity (COPY must reject exactly these).
CSV_REJECTS = 2
#: Per refresh batch: share of customers/parts changed, and share of
#: customers/parts/orders added.
CHANGE_FRAC = 0.05
NEW_FRAC = 0.02


def stage_csv(out_dir: str, entity: str, table: pa.Table) -> int:
    """Stage `table` as `<out_dir>/stage_<entity>/<entity>.csv` with a
    header and CSV_REJECTS malformed rows; returns the well-formed rows."""
    stage = os.path.join(out_dir, f"stage_{entity}")
    os.makedirs(stage)
    rows = table.to_pylist()
    cols = table.column_names
    with open(os.path.join(stage, f"{entity}.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(cols)
        for r in rows:
            w.writerow([r[c] for c in cols])
        for i in range(CSV_REJECTS):
            # a non-numeric key: unparseable under the declared schema
            w.writerow([f"bad{i}"] + ["x"] * (len(cols) - 1))
    return len(rows)


def landing(base_dir: str, out_dir: str, seed: int, cycle: int,
            new_key_base: dict) -> Landing:
    """Derive refresh batch `cycle` from the base star in `base_dir`: the
    changed and new customers and parts staged as CSV, and the customer
    snapshot they make as `star/customer.parquet`.

    New customer/part keys start at `new_key_base[table] + cycle *
    batch`, so every cycle's new members are unseen by earlier cycles."""
    rng = np.random.default_rng([seed, 2, cycle])
    star_dir = os.path.join(out_dir, "star")
    os.makedirs(star_dir, exist_ok=True)
    deltas = {}
    n_new = {}
    for t, make in (("customer", customers), ("part", parts)):
        old = pq.read_table(os.path.join(base_dir, f"{t}.parquet"))
        n_old = old.num_rows
        n_chg = max(1, int(n_old * CHANGE_FRAC))
        n_new[t] = max(1, int(n_old * NEW_FRAC))
        chg_keys = np.sort(rng.choice(n_old, n_chg, replace=False))
        start = new_key_base[t] + cycle * n_new[t]
        changed = make(rng, chg_keys)
        fresh = make(rng, np.arange(start, start + n_new[t]))
        deltas[t] = pa.concat_tables([changed, fresh])
        if t == "customer":
            keep = np.ones(n_old, bool)
            keep[chg_keys] = False
            _write(star_dir, t, pa.concat_tables(
                [old.filter(pa.array(keep)), changed, fresh]))
            n_customers = n_old + n_new[t]

    csv_rows = {t: stage_csv(out_dir, t, deltas[t])
                for t in ("customer", "part")}
    return Landing(
        path=out_dir,
        customers=n_customers,
        changed_customers=deltas["customer"].num_rows - n_new["customer"],
        new_customers=n_new["customer"],
        csv_rows=csv_rows)
