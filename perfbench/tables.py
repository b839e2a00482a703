"""Seeded generator for the interval_queries input tables.

Writes ``events``, ``orders`` and ``lineitem`` parquet files with the same
schemas, value ranges and per-scale-factor cardinalities as the engine's
sf* test fixtures (1500 users / 15k customers / 1000 suppliers at
sf=0.1), so the driver-contract queries and their DuckDB oracles run on
them unchanged. Everything is a pure function of ``(sf, seed)``.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_US_PER_DAY = 86_400_000_000


def _us(day: str) -> int:
    return int((datetime.fromisoformat(day) - datetime(1970, 1, 1)).total_seconds() * 1e6)


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    """Midnight timestamps drawn uniformly from the days in [lo, hi]."""
    d0 = _us(lo) // _US_PER_DAY
    d1 = _us(hi) // _US_PER_DAY
    return pa.array(rng.integers(d0, d1 + 1, n) * _US_PER_DAY, pa.timestamp("us"))


def _write(path: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, path)
    return table.num_rows


def make_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the three tables under ``out_dir``; returns their row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_ev, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 2)
    n_ord, n_cust = int(1_500_000 * sf), max(int(150_000 * sf), 2)
    n_li, n_supp = int(6_000_000 * sf), max(int(10_000 * sf), 2)
    n_part = max(int(200_000 * sf), 2)

    t0 = _us("2024-01-01")
    ts = np.sort(t0 + rng.integers(0, 30 * _US_PER_DAY, n_ev))
    rows = {"events": _write(os.path.join(out_dir, "events.parquet"), {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(_EVENT_TYPES[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })}
    rows["orders"] = _write(os.path.join(out_dir, "orders.parquet"), {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2)),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array(_PRIORITIES[rng.integers(0, 5, n_ord)]),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    rows["lineitem"] = _write(os.path.join(out_dir, "lineitem.parquet"), {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100.0, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    return rows
