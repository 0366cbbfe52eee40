"""The continuous statistics of ``tableone`` against DuckDB on edge inputs.

n, min, max, mean and stddev come from the distinct-value cells (one
numpy pass on the driver, core/sufficient.py), not from Spark's own
aggregates, so they are pinned here against DuckDB's ``count``,
``min``, ``max``, ``avg`` and ``stddev_samp`` over the same parquet
file, per stratum and for the whole frame, to 1e-9 relative.

Documented differences from DuckDB, asserted as the engine's output:
  * a NaN or ±inf value makes the stddev NaN (Spark's ``stddev_samp``
    semantics); DuckDB's ``stddev_samp`` raises "out of range" there.
  * -0.0 reads as 0.0 in min/max (the cell grouping normalizes it, as
    Spark's grouping does); DuckDB keeps the sign. The values compare
    equal, so the comparison below does not see the sign.
  * DuckDB's streaming ``stddev_samp`` loses the spread at large
    offsets (3e-8 relative at 1e8, 2.4e-4 at 1e12 for four values), so
    the large-offset test grades the engine against ``stddev_samp`` of
    the column minus its offset, which is exact in double there.
"""

from __future__ import annotations

import math
from decimal import Decimal as D

import duckdb
import pytest

from tableone_pyspark_spark import TableOneConfig, tableone

from conftest import rows_by_index

#: every tableone call here runs on both routes and must agree (conftest)
pytestmark = pytest.mark.usefixtures("both_routes")

NAN, INF = float("nan"), float("inf")
STATS = ((0.1, "n"), (0.2, "min"), (0.3, "max"), (0.4, "mean"), (0.5, "stddev"))
BIG = 2**53


def _oracle(path: str, col: str, strat: str | None, expr: str | None = None) -> dict:
    """Per cleaned stratum (None = the whole frame): DuckDB's count, min,
    max, avg and stddev_samp of ``expr`` (default: the column), the
    stddev as "out of range" where DuckDB refuses it."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{path}/*.parquet')")
    x = expr or f'"{col}"'
    groups = {None: "TRUE"}
    if strat:
        for (g,) in con.execute(
            f"SELECT DISTINCT coalesce(\"{strat}\", 'MISSING') FROM t"
        ).fetchall():
            groups[g] = f"coalesce(\"{strat}\", 'MISSING') = '{g}'"
    out = {}
    for g, where in groups.items():
        n, mn, mx, avg = con.execute(
            f"SELECT count({x}), min({x}), max({x}), avg({x}) FROM t WHERE {where}"
        ).fetchone()
        try:
            sd = con.execute(f"SELECT stddev_samp({x}) FROM t WHERE {where}").fetchone()[0]
        except duckdb.OutOfRangeException:
            sd = "out of range"
        out[g] = {"n": n, "min": mn, "max": mx, "mean": avg, "stddev": sd}
    con.close()
    return out


def _same(got, want, rel: float) -> bool:
    if want is None or got is None:
        return got is None and want is None
    want = float(want)
    if math.isnan(want) or math.isinf(want):
        return repr(got) == repr(want)
    return math.isclose(got, want, rel_tol=rel, abs_tol=0.0)


def _check(spark, tmp_path, rows, schema, strat="g", col="x"):
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "t.parquet")
    df.coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    got = rows_by_index(tableone(df, col_to_strat=strat, cols_to_analyze=[col]))
    oracle = _oracle(path, col, strat)
    columns = {None: "All_Patients", **{g: g for g in oracle if g is not None}}
    for g, column in columns.items():
        for offset, label in STATS:
            value = got[(round(1 + offset, 10), label)][column]
            want = oracle[g][label]
            if want == "out of range":
                assert math.isnan(value), (g, label, value)
            else:
                assert _same(value, want, 1e-9), (g, label, value, want)
    return got


def test_nan_inf_and_signed_zero(spark, tmp_path):
    rows = [
        ("a", 1.0), ("a", NAN), ("a", 2.0),       # NaN: max, mean, stddev NaN
        ("b", INF), ("b", 3.0), ("b", 3.0),       # +inf: max, mean inf
        ("c", -INF), ("c", INF),                  # mean NaN
        ("d", -INF), ("d", 5.0),                  # mean -inf
        ("e", -0.0), ("e", 0.0), ("e", -0.0),     # signed zero
        ("f", 0.1), ("f", 0.1), ("f", 0.1),       # constant: stddev 0.0
    ]
    got = _check(spark, tmp_path, rows, "g string, x double")
    stddev = got[(1.5, "stddev")]
    assert math.isnan(stddev["a"]) and math.isnan(stddev["b"])
    assert stddev["e"] == 0.0 and stddev["f"] == 0.0
    assert got[(1.4, "mean")]["f"] == 0.1
    assert got[(1.3, "max")]["a"] != got[(1.3, "max")]["a"]  # NaN is the max
    assert got[(1.2, "min")]["e"] == 0.0


def test_all_null_column_and_all_null_stratum(spark, tmp_path):
    rows = [("a", 1.0), ("a", 4.0), ("b", None), ("b", None), (None, 2.5)]
    got = _check(spark, tmp_path, rows, "g string, x double")
    assert got[(1.1, "n")]["b"] == 0.0
    assert got[(1.4, "mean")]["b"] is None
    assert got[(1.5, "stddev")]["MISSING"] is None  # one row: undefined
    _check(spark, tmp_path / "nulls", [("a", None), ("b", None)], "g string, x double")


@pytest.mark.parametrize("strat", ["g", ""], ids=["strat", "nostrat"])
def test_empty_frame(spark, tmp_path, strat):
    got = _check(spark, tmp_path, [], "g string, x double", strat=strat)
    assert got[(0.0, "ALL")]["All_Patients"] == 0.0
    assert got[(1.1, "n")]["All_Patients"] == 0.0
    assert got[(1.2, "min")]["All_Patients"] is None


def test_one_row_strata(spark, tmp_path):
    rows = [("a", 7.0), ("b", -3.5), ("b", 2.0), ("c", 1e150)]
    got = _check(spark, tmp_path, rows, "g string, x double")
    assert got[(1.5, "stddev")]["a"] is None and got[(1.5, "stddev")]["c"] is None


def test_decimal_column(spark, tmp_path):
    rows = [
        (f"{'abc'[i % 3]}", D(f"{i * 37 % 101 - 50}.{i * 13 % 100:02d}"))
        for i in range(40)
    ] + [("d", None)]
    _check(spark, tmp_path, rows, "g string, x decimal(10,2)")


def test_longs_above_2_pow_53(spark, tmp_path):
    """min and max are the values cast to double, exactly (rounding is
    monotone); mean and stddev agree to 1e-9."""
    rows = [("ab"[i % 2], i * 2**55 + i % 7 + BIG) for i in range(30)]
    rows += [("c", BIG + 1), ("c", BIG + 3)]
    got = _check(spark, tmp_path, rows, "g string, x long")
    assert got[(1.3, "max")]["All_Patients"] == float(29 * 2**55 + 29 % 7 + BIG)


@pytest.mark.parametrize("offset", [1e6, 1e8, 1e12])
def test_weighted_unit_weights_equal_unweighted_at_large_offsets(spark, tmp_path, offset):
    """Frequency weights w ≡ 1 give the unweighted table bit for bit, in
    both quantile modes, and the stddev keeps the spread at any offset:
    it equals DuckDB's stddev_samp of x − offset (exact in double) to
    1e-9, per stratum and for the whole frame."""
    rows = [(s, offset + d, 1.0) for s in "ab" for d in (0.1, 0.2, 0.3, 0.4)]
    df = spark.createDataFrame(rows, "g string, x double, w double")
    path = str(tmp_path / "t.parquet")
    df.coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    kw = dict(col_to_strat="g", cols_to_analyze=["x"])
    for mode in ("data", "interpolated"):
        cfg = TableOneConfig(quantile_mode=mode)
        plain = [repr(r) for r in tableone(df, config=cfg, **kw).collect()]
        weighted = [repr(r) for r in tableone(df, weight_col="w", config=cfg, **kw).collect()]
        assert plain == weighted, mode
    got = rows_by_index(tableone(df, weight_col="w", **kw))[(1.5, "stddev")]
    oracle = _oracle(path, "x", "g", expr=f"x - {offset!r}")
    for g, column in ((None, "All_Patients"), ("a", "a"), ("b", "b")):
        assert got[column] > 0.1
        assert _same(got[column], oracle[g]["stddev"], 1e-9), (g, got[column])
