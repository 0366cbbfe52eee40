"""Oracle output-type convention guard (VERDICT r3 #7).

Three grading incidents across rounds 1-3 (``revenue_by_nation`` twice,
then ``resize_stats``/``pack_sequences``) shared one root cause: a DuckDB
oracle emitting a numeric type the driver's value hasher does not
canonicalize (DECIMAL, HUGEINT from ``list_sum``/windowed ``sum``
widening).  The convention is that every oracle output column must be one
of the driver-safe types below; this test DESCRIBEs the oracles of all
twelve Table 1 queries so a new offender fails in pytest.

``perfbench/oracle.py`` builds the benchmark's expected tables from the
same module (``tableone_oracle_sql`` and the nested ``_stream_t1_oracle``);
``test_benchmark_oracle_resolves`` keeps that contract in tier-1.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import duckdb
import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"

TABLES = ["customer", "supplier", "orders", "lineitem", "events"]

# Types the driver's hasher canonicalizes identically on both engines.
# Notably absent: DECIMAL(p,s) and HUGEINT/INT128.
SAFE_TYPES = {
    "BIGINT", "INTEGER", "SMALLINT", "TINYINT",
    "DOUBLE", "FLOAT",
    "VARCHAR", "BOOLEAN",
    "DATE", "TIMESTAMP", "TIMESTAMP WITH TIME ZONE",
}


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if Path(p).exists():
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield c
    c.close()


def test_every_oracle_emits_only_driver_safe_types(con):
    offenders = []
    for name, sql in entry.oracle_sql(SF_DIR).items():
        desc = con.execute(f"DESCRIBE ({sql})").fetchall()
        for col, typ, *_ in desc:
            if typ not in SAFE_TYPES:
                offenders.append((name, col, typ))
    assert not offenders, (
        "oracle columns with driver-unsafe types (cast to BIGINT/DOUBLE): "
        f"{offenders}"
    )


def test_every_query_has_an_oracle_or_is_documented():
    qs = set(entry.queries())
    os_ = set(entry.oracle_sql(SF_DIR))
    # every query is oracle-checked, and every oracle is a real query
    assert os_ == qs, (
        f"queries without an oracle: {sorted(qs - os_)}; "
        f"orphan oracles: {sorted(os_ - qs)}"
    )


def test_benchmark_oracle_resolves(con):
    """The two generators ``perfbench/oracle.py`` reads still resolve
    and yield SQL DuckDB can plan: ``stream_oracle_sql()`` rebuilds the
    nested ``_stream_t1_oracle`` from ``oracle_sql``'s code object, and
    the batch expectation is ``tableone_oracle_sql`` with data-mode
    quartiles and ``ROUND`` swapped for an identity macro."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle", ROOT / "perfbench" / "oracle.py"
    )
    bench_oracle = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench_oracle)

    con.execute("CREATE OR REPLACE MACRO noround(x, d) AS x")
    stream_cols = [c for c, *_ in con.execute(
        f"DESCRIBE ({bench_oracle.stream_oracle_sql()})").fetchall()]
    assert stream_cols == [
        "window_start_epoch", "event_type", "Index", "Characteristics",
        "Variable_type", "Values", "value", "frac",
    ]
    batch = entry.tableone_oracle_sql(
        "lineitem", "l_returnflag", ["A", "N", "R"],
        [("l_linestatus", "cat"), ("l_quantity", "cont")],
        quantile_fn="quantile_disc",
    ).replace("ROUND(", "noround(")
    batch_cols = [c for c, *_ in con.execute(f"DESCRIBE ({batch})").fetchall()]
    assert batch_cols[:5] == [
        "Pivoted_column", "Index", "Characteristics", "Variable_type", "Values",
    ]
    assert {"All_Patients", "All_Patients_%", "A", "A_%", "R_%"} <= set(batch_cols)


def test_weighted_oracle_matches_engine_on_sparse_cells(spark, tmp_path):
    """Regression pin for the weighted-oracle COALESCE: a category value
    that never occurs in one stratum must grade 0.0 (engine semantics),
    not NULL (bare sum(w) FILTER). Builds a crafted sparse table, runs
    tableone(weight_col=...) and the GENERATED weighted oracle SQL
    side-by-side."""
    import math

    from tableone_pyspark_spark import tableone

    rows = [
        # strat A has cat values x and y; strat B has ONLY x
        ("A", "x", 1.0, 2.0), ("A", "y", 2.0, 3.0), ("A", "x", 3.0, 1.0),
        ("B", "x", 4.0, 2.0), ("B", "x", 5.0, 4.0),
    ]
    df = spark.createDataFrame(rows, "s string, c string, v double, w double")
    p = str(tmp_path / "sparse.parquet")
    df.coalesce(1).write.parquet(p)

    out = {
        (r["Index"], r["Values"]): r
        for r in tableone(
            df, col_to_strat="s", cols_to_analyze=["c", "v"], weight_col="w"
        ).collect()
    }
    sql = entry.tableone_oracle_sql(
        "t", "s", ["A", "B"], [("c", "cat"), ("v", "cont")], weight="w"
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{p}/*.parquet')")
    cols = [d[0] for d in con.execute(sql).description]
    oracle = {
        (r[cols.index("Index")], r[cols.index("Values")]): dict(zip(cols, r))
        for r in con.execute(sql).fetchall()
    }
    assert out.keys() == oracle.keys()
    # the sparse cell: category 'y' in stratum B — both sides must be 0
    y_row_engine = out[(1.02, "y")]
    y_row_oracle = oracle[(1.02, "y")]
    assert y_row_engine["B"] == 0.0 and y_row_oracle["B"] == 0.0
    # and every cell matches to 6 decimals
    for k in out:
        for col in ("All_Patients", "A", "B", "All_Patients_%", "A_%", "B_%"):
            a, b = out[k][col], oracle[k][col]
            if a is None or b is None:
                assert a is None and b is None, (k, col, a, b)
            else:
                assert math.isclose(round(a, 6), b, abs_tol=2e-6), (k, col, a, b)
