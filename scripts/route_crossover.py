"""Time the two routes of ``collect_sufficient`` against each other.

The rows route collects the pruned projection to the driver and groups
it there; the cells route groups it with a Spark job. Which one is
faster depends on the size of the input and on how many tasks scan it,
so this script writes lineitem-shaped parquet (the columns of
``perfbench/datagen.py``) at several row counts, as one file (one scan
task) and as several files (one task each), and times whole
``tableone`` calls over all nine analysable columns with each route
forced through ``core.sufficient.ROWS_ROUTE_BYTES``. Calls alternate
between the routes; each line printed is one input:

    {"rows": ..., "files": ..., "estimate": <bytes>, "rows_s": ..., "cells_s": ...}

with the median seconds per call. ``ROWS_ROUTE_BYTES`` sits where the
rows route stops winning on the several-file inputs, or, where it wins
at every size, near the largest input the value bound admits.

    python scripts/route_crossover.py --rows 150000 300000 --files 1 4 --reps 7
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import tempfile
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_linestatus"]
#: the gate each route is forced with
ROUTES = {"rows_s": 1 << 62, "cells_s": -1}


def lineitem(n: int, seed: int = 3) -> pa.Table:
    rng = np.random.default_rng(seed)
    qty = rng.integers(1, 51, n).astype("float64")
    price = np.round(rng.uniform(900.0, 2100.0, n), 2)

    def pick(values):
        return pa.array(values).take(pa.array(rng.integers(0, len(values), n)))

    return pa.table({
        "l_orderkey": rng.integers(0, 150_000, n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": rng.integers(1, 8, n).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pick(["A", "N", "R"]),
        "l_linestatus": pick(["F", "O"]),
    })


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--rows", type=int, nargs="+", default=[150_000, 300_000, 600_000])
    ap.add_argument("--files", type=int, nargs="+", default=[1, 4])
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from tableone_pyspark_spark import TableOneConfig, tableone
    from tableone_pyspark_spark.core import sufficient

    spark = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .config("spark.sql.shuffle.partitions", str(args.cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "1g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # a limit no input here reaches: neither route falls back to the other
    config = TableOneConfig(cat_cells_limit=50_000_000)
    gate = sufficient.ROWS_ROUTE_BYTES

    def call(df, route: str) -> float:
        sufficient.ROWS_ROUTE_BYTES = ROUTES[route]
        t = time.perf_counter()
        tableone(df, col_to_strat="l_returnflag", cols_to_analyze=COLS,
                 p_values=True, beautify=True, config=config).collect()
        return time.perf_counter() - t

    try:
        with tempfile.TemporaryDirectory() as tmp:
            for n in args.rows:
                table = lineitem(n)
                for files in args.files:
                    path = Path(tmp) / f"n{n}_f{files}"
                    path.mkdir()
                    step = -(-n // files)
                    for i in range(files):
                        pq.write_table(table.slice(i * step, step), path / f"part{i}.parquet",
                                       row_group_size=n)
                    df = spark.read.parquet(str(path))
                    estimate = sufficient._size_estimate(df.select(*COLS, "l_returnflag"))
                    times = {route: [] for route in ROUTES}
                    for r in range(args.reps + 1):
                        for route in list(ROUTES)[:: 1 if r % 2 else -1]:
                            seconds = call(df, route)
                            if r:  # the first round warms up
                                times[route].append(seconds)
                    print(json.dumps({
                        "rows": n, "files": files, "estimate": estimate,
                        **{route: round(statistics.median(ts), 3) for route, ts in times.items()},
                    }), flush=True)
    finally:
        sufficient.ROWS_ROUTE_BYTES = gate
        spark.stop()


if __name__ == "__main__":
    main()
