"""Seeded TPC-H-style tables for the registry workload.

Writes the tables the measured registry entries read (``nation``,
``customer``, ``orders``, ``lineitem``, ``documents``, ``events``) as
single parquet files, with the column names and types
``queries.load_table`` expects.  ``scale`` follows TPC-H: 1.0 would be 6M
lineitems.  A share of the documents are edited copies of others, so the
near-duplicate entries have pairs to find.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * scale), 50)
    n_orders = max(int(1_500_000 * scale), 200)
    epoch = dt.datetime(1995, 1, 1)
    days = 2400

    def ts(day_offsets: np.ndarray) -> pa.Array:
        micros = ((np.datetime64(epoch, "us") - np.datetime64(0, "us")).astype(np.int64)
                  + day_offsets.astype(np.int64) * 86_400_000_000)
        return pa.array(micros, pa.timestamp("us"))

    tables = {
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"], n_cust),
        }),
    }
    order_day = rng.integers(0, days - 150, n_orders)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": ts(order_day),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_orders),
    })
    lines_per_order = rng.integers(1, 8, n_orders)
    n_lines = int(lines_per_order.sum())
    orderkey = np.repeat(np.arange(n_orders), lines_per_order)
    starts = np.repeat(np.cumsum(lines_per_order) - lines_per_order,
                       lines_per_order)
    linenumber = np.arange(n_lines) - starts + 1
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(n_cust, 100), n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n_lines), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["F", "O"], n_lines),
        "l_shipdate": ts(np.repeat(order_day, lines_per_order)
                         + rng.integers(1, 122, n_lines)),
    })
    tables["documents"] = _documents(rng, 500)
    tables["events"] = _events(rng, max(int(1_000_000 * scale), 500))
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


_WORDS = ("a the data row column table key value join merge sort group "
          "filter window stream batch spark query order line part customer "
          "agg hash scan vector small big fast slow").split()


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.15:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(20, 90))))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "fr", "es", "zh"], n),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    start = (np.datetime64("2024-01-01T00:00:00", "us")
             - np.datetime64(0, "us")).astype(np.int64)
    users = max(n // 60, 5)
    ts = np.sort(start + rng.integers(0, 30 * 86_400_000_000, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": rng.choice(["view", "click", "signup", "purchase", "error"], n),
        "value": np.round(rng.exponential(60.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
