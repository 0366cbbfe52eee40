"""Engine edge cases: empty inputs, all-null columns, degenerate strat
cardinalities, NaN poisoning — the inputs a 100 TB pipeline WILL
eventually feed it."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from tableone_pyspark_spark import tableone

from conftest import rows_by_index

#: every tableone call here runs on both routes and must agree (conftest)
pytestmark = pytest.mark.usefixtures("both_routes")


def test_empty_dataframe(spark):
    df = spark.createDataFrame([], "c string, x double")
    rows = rows_by_index(tableone(df, cols_to_analyze=["c", "x"]))
    total = rows[(0.0, "ALL")]
    assert total["All_Patients"] == 0.0
    # reference semantics: the total row carries literal 1 (:80) even
    # when empty; per-category percents (0-denominator) go null instead
    assert total["All_Patients_%"] == 1.0
    # continuous block exists with n=0 and null stats
    assert rows[(2.1, "n")]["All_Patients"] == 0.0
    assert rows[(2.4, "mean")]["All_Patients"] is None


def test_all_null_continuous(spark):
    df = spark.createDataFrame([(None,), (None,), (None,)], "x double")
    rows = rows_by_index(tableone(df, cols_to_analyze=["x"]))
    assert rows[(1.1, "n")]["All_Patients"] == 0.0
    for key in [(1.2, "min"), (1.4, "mean"), (1.7, "50th percentile")]:
        assert rows[key]["All_Patients"] is None


def test_all_null_categorical(spark):
    df = spark.createDataFrame([(None,), (None,)], "c string")
    rows = rows_by_index(tableone(df, cols_to_analyze=["c"]))
    assert rows[(1.01, "MISSING")]["All_Patients"] == 2


def test_single_strat_group_not_done(spark):
    df = spark.createDataFrame([("A", 1.0), ("A", 2.0)], "g string, x double")
    rows = rows_by_index(
        tableone(df, col_to_strat="g", cols_to_analyze=["x"], p_values=True)
    )
    anchor = rows[(1.1, "n")]
    assert anchor["test_name"] == "NOT DONE"
    assert math.isnan(anchor["p_value"])


def test_nan_poisons_continuous_test(spark):
    # float NaN is a VALUE to Spark (not null): it poisons mean/var →
    # NaN p-value, matching scipy's behavior on the same data (Q6)
    data = [("A", 1.0), ("A", float("nan")), ("B", 2.0), ("B", 3.0)]
    df = spark.createDataFrame(data, "g string, x double")
    rows = rows_by_index(
        tableone(df, col_to_strat="g", cols_to_analyze=["x"], p_values=True)
    )
    anchor = rows[(1.1, "n")]
    assert anchor["test_name"] == "t-test"
    assert math.isnan(anchor["p_value"])


def test_strat_all_null(spark):
    df = spark.createDataFrame([(None, 1.0), (None, 2.0)], "g string, x double")
    out = tableone(df, col_to_strat="g", cols_to_analyze=["x"])
    assert "MISSING" in out.columns
    rows = rows_by_index(out)
    assert rows[(0.0, "ALL")]["MISSING"] == 2.0


def test_constant_column(spark):
    df = spark.createDataFrame([(5.0,)] * 4, "x double")
    rows = rows_by_index(tableone(df, cols_to_analyze=["x"]))
    assert rows[(1.4, "mean")]["All_Patients"] == 5.0
    assert rows[(1.5, "stddev")]["All_Patients"] == 0.0
    assert rows[(1.6, "25th percentile")]["All_Patients"] == 5.0


def test_single_row(spark):
    df = spark.createDataFrame([(7.0,)], "x double")
    rows = rows_by_index(tableone(df, cols_to_analyze=["x"]))
    assert rows[(1.1, "n")]["All_Patients"] == 1.0
    assert rows[(1.5, "stddev")]["All_Patients"] is None  # var undefined at n=1


def test_duplicate_analyze_columns(spark):
    # same column twice: two blocks with distinct integer indexes
    df = spark.createDataFrame([(1.0,), (2.0,)], "x double")
    rows = rows_by_index(tableone(df, cols_to_analyze=["x", "x"]))
    assert rows[(1.1, "n")]["All_Patients"] == 2.0
    assert rows[(2.1, "n")]["All_Patients"] == 2.0


def test_duplicate_categorical_columns_count_once(spark):
    # the same categorical column twice: two blocks, each counting every
    # row once (not twice)
    df = spark.createDataFrame([("a",), ("a",), ("b",)], "c string")
    rows = rows_by_index(tableone(df, cols_to_analyze=["c", "c"]))
    assert rows[(1.01, "a")]["All_Patients"] == 2
    assert rows[(2.01, "a")]["All_Patients"] == 2
    assert rows[(2.02, "b")]["All_Patients"] == 1


def test_weighted_all_rows_excluded_degenerates_gracefully(spark):
    """Every weight null/non-positive: total row 0.0, continuous n=0,
    no category rows (nothing observed), no crash — same shape as an
    empty unweighted frame."""
    df = spark.createDataFrame(
        [("a", 1.0, 0.0), ("b", 2.0, -1.0), ("a", 3.0, None)],
        "g string, x double, w double",
    )
    rows = {
        (r["Index"], r["Values"]): r
        for r in tableone(df, cols_to_analyze=["g", "x"], weight_col="w").collect()
    }
    assert rows[(0.0, "ALL")]["All_Patients"] == 0.0
    assert rows[(2.1, "n")]["All_Patients"] == 0.0
    assert rows[(2.4, "mean")]["All_Patients"] is None
    assert not any(r["Variable_type"] == "category" for r in rows.values())


def test_weighted_fully_excluded_stratum_drops_its_columns(spark):
    """A stratum whose every row has non-positive weight is unobserved:
    its pivot columns do not appear (same as filtering those rows)."""
    df = spark.createDataFrame(
        [("A", "x", 1.0, 2.0), ("B", "y", 2.0, 0.0)],
        "s string, c string, v double, w double",
    )
    out = tableone(
        df, col_to_strat="s", cols_to_analyze=["c", "v"], weight_col="w"
    )
    assert "A" in out.columns and "B" not in out.columns
