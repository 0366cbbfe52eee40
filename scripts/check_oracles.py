#!/usr/bin/env python
"""Run the Table 1 queries of ``__spark_entry__`` against their oracles.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql(sf_dir)`` twin on DuckDB against the same parquet tables,
then compares row count, column names, and values (columns sorted by
name, rows sorted by all columns — order-insensitive, exact equality).
``tests/test_entry_oracles.py`` runs the same check at sf0.001.

Usage: python scripts/check_oracles.py [query ...] [--sf DIR]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb

TABLES = ["customer", "supplier", "orders", "lineitem", "events"]


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def key(r):
        return tuple(
            (v is None, "NaN" if isinstance(v, float) and math.isnan(v) else v)
            for v in r
        )

    return sorted((tuple(r[i] for i in order) for r in rows), key=key)


def cells_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def compare(s_cols, s_rows, d_cols, d_rows) -> list[str]:
    """Differences between the Spark and DuckDB results (at most five
    mismatched cells are named)."""
    if sorted(s_cols) != sorted(d_cols):
        return [f"columns differ: spark={sorted(s_cols)} duck={sorted(d_cols)}"]
    if len(s_rows) != len(d_rows):
        return [f"row count: spark={len(s_rows)} duck={len(d_rows)}"]
    problems = []
    n_bad = 0
    for ri, (ra, rb) in enumerate(zip(normalize(s_rows, s_cols), normalize(d_rows, d_cols))):
        for ci, (va, vb) in enumerate(zip(ra, rb)):
            if not cells_equal(va, vb):
                if n_bad < 5:
                    col = sorted(s_cols)[ci]
                    problems.append(f"row {ri} col {col}: spark={va!r} duck={vb!r}")
                n_bad += 1
    if n_bad:
        problems.append(f"{n_bad} mismatched cells total")
    return problems


def check_queries(spark, names: list[str], sf_dir: str) -> dict[str, list[str]]:
    """Problems per query name (an empty list: the query matches its
    oracle). A query without an oracle (the p-value fixture needs the
    lineitem parquet) only has to return rows."""
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql(sf_dir)
    con = duck_connection(sf_dir)
    out: dict[str, list[str]] = {}
    for name in names:
        if name not in qs:
            out[name] = ["not a query"]
            continue
        sdf = qs[name](spark, sf_dir)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
        if name not in oracles:
            out[name] = [] if s_rows else ["0 rows (rows-only check)"]
            continue
        res = con.execute(oracles[name])
        d_cols = [d[0] for d in res.description]
        out[name] = compare(s_cols, s_rows, d_cols, [tuple(r) for r in res.fetchall()])
    con.close()
    return out


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if "--sf" in argv:
        i = argv.index("--sf")
        sf_dir = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]

    import __spark_entry__ as e
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .appName("oracle-check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    names = argv or sorted(e.queries())
    rows_only = set(names) - set(e.oracle_sql(sf_dir))
    failures = 0
    for name, problems in check_queries(spark, names, sf_dir).items():
        if problems:
            failures += 1
            print(f"{name}: FAIL")
            for p in problems:
                print(f"    {p}")
        else:
            print(f"{name}: OK{' (rows only: no oracle)' if name in rows_only else ''}")

    print(f"\n{len(names) - failures}/{len(names)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
