"""Seeded generator for the benchmark's input tables.

Writes the subset of the engine's star-schema fixture that the measured
workloads read (``lineitem``, ``orders``, ``events``) as one parquet
file per table, with the column names and physical types of
the project's test fixtures. Every column is drawn independently and
uniformly, the way those fixtures are, so row counts per day, per month
and per key behave alike.

The same arguments always yield byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SHIP_FIRST = dt.date(1995, 1, 2)
SHIP_LAST = dt.date(2001, 11, 4)
ORDER_FIRST = dt.date(1995, 1, 1)
ORDER_LAST = dt.date(2001, 8, 1)
EVENTS_START = dt.datetime(2024, 1, 1)
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TABLES = ("lineitem", "orders", "events")


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    """``n`` uniform midnight timestamps in [lo, hi] as datetime64[us]."""
    span = (hi - lo).days + 1
    d = np.datetime64(lo, "D") + rng.integers(0, span, n)
    return d.astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def lineitem(
    rng, sf: float, ship_first: dt.date = SHIP_FIRST, ship_last: dt.date = SHIP_LAST
) -> pa.Table:
    n = int(6_000_000 * sf)
    n_orders = int(1_500_000 * sf)
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, int(200_000 * sf), n),
        "l_suppkey": rng.integers(0, max(10, int(10_000 * sf)), n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, ship_first, ship_last, n),
    })


def orders(rng, sf: float) -> pa.Table:
    n = int(1_500_000 * sf)
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, int(150_000 * sf), n),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 800.0, 500_000.0, n),
        "o_orderdate": _days(rng, ORDER_FIRST, ORDER_LAST, n),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    })


def events(rng, sf: float) -> pa.Table:
    n = int(1_000_000 * sf)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + np.datetime64(EVENTS_START, "us")
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, max(15, int(15_000 * sf)), n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [json.dumps({"k": int(x)}) for x in k],
    })


def generate(
    out_dir: str,
    seed: int,
    sf: float,
    ship_dates: tuple[dt.date, dt.date] = (SHIP_FIRST, SHIP_LAST),
) -> dict[str, int]:
    """Write every table of TABLES under ``out_dir``; returns rows per
    table. ``ship_dates`` is the first and last ship date of ``lineitem``.

    Each table draws from its own stream spawned from ``seed``."""
    os.makedirs(out_dir, exist_ok=True)
    rngs = [np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(len(TABLES))]
    tables = {
        "lineitem": lineitem(rngs[0], sf, *ship_dates),
        "orders": orders(rngs[1], sf),
        "events": events(rngs[2], sf),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def write_prefix(full_dir: str, out_dir: str, cutoff: dt.date) -> int:
    """Copy of ``full_dir`` whose ``lineitem`` keeps only rows shipped
    before ``cutoff`` — the source as it looked on the history-load day.
    Returns the kept lineitem row count."""
    os.makedirs(out_dir, exist_ok=True)
    for name in os.listdir(full_dir):
        src = os.path.join(full_dir, name)
        dst = os.path.join(out_dir, name)
        if name == "lineitem.parquet":
            t = pq.read_table(src)
            bound = pa.scalar(dt.datetime.combine(cutoff, dt.time()), pa.timestamp("us"))
            t = t.filter(pc.less(t["l_shipdate"], bound))
            pq.write_table(t, dst)
            kept = t.num_rows
        else:
            shutil.copyfile(src, dst)
    return kept
