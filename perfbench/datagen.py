"""Seeded synthetic inputs for the Table 1 benchmark.

The tables follow the shape of the project's TPC-H-like test data at
scale factor 0.1 (``orders`` 150k rows, ``customer`` 15k, ``events``
100k): the same column names, physical types and value distributions,
drawn from ``numpy.random.default_rng(seed)`` so one seed always gives
the same bytes. Orders and customers are stored pre-joined as
``cohort_base``, the relation cohorts are cut from. ``lineitem`` is cut
from 600k to 150k rows so that a run holds several full-table calls on a
4-core host; 150k rows still exceed the engine's default
``exact_percentile_cap`` (100k), so near-unique columns take the
capped-sketch path as they do at scale.

Run as a script it writes the tables a workload needs and exits, which
keeps the generator's memory out of the benchmark process:

    python3 perfbench/datagen.py OUT_DIR SEED lineitem [events ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LINEITEM_ROWS = 150_000
ORDERS_ROWS = 150_000
CUSTOMER_ROWS = 15_000
EVENTS_ROWS = 100_000
NATIONS = 25

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ORDER_STATUS = ["F", "O", "P"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

US_PER_DAY = 86_400_000_000
#: 1995-01-01 and 2024-01-01 as microseconds since the epoch
EPOCH_1995_US = 788_918_400 * 1_000_000
EPOCH_2024_US = 1_704_067_200 * 1_000_000
ORDER_DAYS = 2_404  # 1995-01-01 .. 2001-08-01
EVENT_DAYS = 30


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, type=pa.int32()), pa.array(values)
    ).cast(pa.string())


def lineitem(rng: np.random.Generator) -> pa.Table:
    n = LINEITEM_ROWS
    qty = rng.integers(1, 51, n).astype("float64")
    price = np.round(rng.uniform(900.0, 2100.0, n), 2)
    return pa.table(
        {
            "l_orderkey": rng.integers(0, ORDERS_ROWS, n),
            "l_partkey": rng.integers(0, 20_000, n),
            "l_suppkey": rng.integers(0, 1_000, n),
            "l_linenumber": rng.integers(1, 8, n).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * price, 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _ts(
                EPOCH_1995_US + rng.integers(0, 2_499, n) * US_PER_DAY
            ),
        }
    )


def orders(rng: np.random.Generator) -> pa.Table:
    n = ORDERS_ROWS
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype="int64"),
            "o_custkey": rng.integers(0, CUSTOMER_ROWS, n),
            "o_orderstatus": _pick(rng, ORDER_STATUS, n),
            "o_totalprice": np.round(rng.uniform(1_000.0, 500_000.0, n), 2),
            "o_orderdate": _ts(
                EPOCH_1995_US + rng.integers(0, ORDER_DAYS, n) * US_PER_DAY
            ),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        }
    )


def customer(rng: np.random.Generator) -> pa.Table:
    n = CUSTOMER_ROWS
    return pa.table(
        {
            "c_custkey": np.arange(n, dtype="int64"),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": rng.integers(0, NATIONS, n).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999.99, 9_999.99, n), 2),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        }
    )


def events(rng: np.random.Generator) -> pa.Table:
    """Event stream rows in timestamp order (the stream replays them
    in this order)."""
    n = EVENTS_ROWS
    ts = np.sort(rng.integers(0, EVENT_DAYS * US_PER_DAY, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": _ts(EPOCH_2024_US + ts),
            "user_id": rng.integers(0, 1_500, n),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def cohort_base(rng: np.random.Generator) -> pa.Table:
    """``orders`` joined to ``customer`` on the customer key: the relation
    cohorts are cut from, stored as one file."""
    joined = orders(rng).join(customer(rng), keys="o_custkey", right_keys="c_custkey")
    return joined.sort_by("o_orderkey")


TABLES = {
    "lineitem": lineitem,
    "events": events,
    "cohort_base": cohort_base,
}


def write_tables(out_dir: str | Path, seed: int, names: list[str]) -> None:
    """Write ``<name>.parquet`` for each requested table. Every table has
    its own generator stream, so the bytes of one table do not depend on
    which other tables were asked for."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for i, name in enumerate(TABLES):
        if name in names:
            rng = np.random.default_rng([seed, i])
            pq.write_table(TABLES[name](rng), out / f"{name}.parquet")


if __name__ == "__main__":
    write_tables(sys.argv[1], int(sys.argv[2]), sys.argv[3:])
