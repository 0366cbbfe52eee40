"""Unit tests for the TableOne engine output contract on the canonical
patients fixture (reference testing.py:18-29; contract SURVEY §1.2)."""

from __future__ import annotations

import contextlib
import logging
import math
import os
import sys
import warnings

import pytest

from tableone_pyspark_spark import tableone

from conftest import _sufficient_repr, approx, cells_route, rows_by_index

#: every tableone call here runs on both routes and must agree (conftest)
pytestmark = pytest.mark.usefixtures("both_routes")


# ---------------------------------------------------------------------------
# unstratified
# ---------------------------------------------------------------------------


def test_unstratified_schema_and_total(patients):
    out = tableone(patients, cols_to_analyze=["name", "age"])
    assert out.columns == [
        "Pivoted_column", "Index", "Characteristics", "Variable_type",
        "Values", "All_Patients", "All_Patients_%",
    ]
    rows = rows_by_index(out)
    total = rows[(0.0, "ALL")]
    assert total["Characteristics"] == "Total"
    assert total["All_Patients"] == 10.0  # double: continuous var present
    assert total["All_Patients_%"] == 1.0
    assert total["Variable_type"] is None


def test_unstratified_categorical_counts_and_order(patients):
    rows = rows_by_index(tableone(patients, cols_to_analyze=["name"]))
    # name: John×3, Sally×4, Susi×1, MISSING×2; alpha order then MISSING last
    assert rows[(1.01, "John")]["All_Patients"] == 3
    assert rows[(1.02, "Sally")]["All_Patients"] == 4
    assert rows[(1.03, "Susi")]["All_Patients"] == 1
    assert rows[(1.04, "MISSING")]["All_Patients"] == 2
    assert approx(rows[(1.01, "John")]["All_Patients_%"], 0.3)
    assert rows[(1.01, "John")]["Variable_type"] == "category"
    # only categorical vars -> counts stay integral (long)
    assert dict(tableone(patients, cols_to_analyze=["name"]).dtypes)["All_Patients"] == "bigint"


def test_unstratified_continuous_stats(patients):
    rows = rows_by_index(tableone(patients, cols_to_analyze=["age"]))
    ages = [18, 25, 21, 55, 65, 70, 85, 19, 34, 28]
    n = len(ages)
    mean = sum(ages) / n
    var = sum((a - mean) ** 2 for a in ages) / (n - 1)
    assert rows[(1.1, "n")]["All_Patients"] == 10.0
    assert rows[(1.2, "min")]["All_Patients"] == 18.0
    assert rows[(1.3, "max")]["All_Patients"] == 85.0
    assert approx(rows[(1.4, "mean")]["All_Patients"], mean)
    assert approx(rows[(1.5, "stddev")]["All_Patients"], math.sqrt(var))
    # exact percentiles: value at ceil(p*n)-th element (Spark returns a
    # real data value at accuracy >= n+1)
    s = sorted(ages)
    assert rows[(1.6, "25th percentile")]["All_Patients"] == float(s[2])  # 21
    assert rows[(1.7, "50th percentile")]["All_Patients"] == float(s[4])  # 28
    assert rows[(1.8, "75th percentile")]["All_Patients"] == float(s[7])  # 65
    # continuous rows carry null percents
    assert rows[(1.4, "mean")]["All_Patients_%"] is None


def test_null_skipping_continuous_n(patients):
    # number_of_claims has 2 NaN (stored as NaN double, not null) — the
    # reference's pandas NaNs become Spark NaNs via testing.py; our
    # fixture uses real NaN doubles, which Spark count() includes but
    # avg/stddev poison. The *null* path: build variant with real nulls.
    variant = patients.selectExpr(
        "*", "CASE WHEN isnan(number_of_claims) THEN NULL ELSE number_of_claims END AS claims"
    )
    rows = rows_by_index(tableone(variant, cols_to_analyze=["claims"]))
    assert rows[(1.1, "n")]["All_Patients"] == 8.0  # nulls skipped
    vals = [10.0, 20.0, 15.0, 29.0, 55.0, 20.0, 16.0, 18.0]
    assert approx(rows[(1.4, "mean")]["All_Patients"], sum(vals) / len(vals))


# ---------------------------------------------------------------------------
# stratified
# ---------------------------------------------------------------------------


def test_stratified_pivot_columns_and_total(patients):
    out = tableone(patients, col_to_strat="plan", cols_to_analyze=["name", "age"])
    # plan: PPO×4, HMO×2, FFS×2, null×2 → FFS, HMO, PPO, MISSING
    assert out.columns == [
        "Pivoted_column", "Index", "Characteristics", "Variable_type", "Values",
        "All_Patients", "All_Patients_%", "FFS", "FFS_%", "HMO", "HMO_%",
        "PPO", "PPO_%", "MISSING", "MISSING_%",
    ]
    rows = rows_by_index(out)
    total = rows[(0.0, "ALL")]
    assert (total["FFS"], total["HMO"], total["PPO"], total["MISSING"]) == (2.0, 2.0, 4.0, 2.0)
    assert total["All_Patients"] == 10.0
    assert total["FFS_%"] == 1.0
    assert rows[(0.0, "ALL")]["Pivoted_column"] == "plan"


def test_stratified_categorical_zero_fill_and_percents(patients):
    rows = rows_by_index(
        tableone(patients, col_to_strat="plan", cols_to_analyze=["name"])
    )
    john = rows[(1.01, "John")]
    # John: PPO×2 (PID 1,7), HMO×1 (PID 3) — zero-filled FFS/MISSING
    assert (john["FFS"], john["HMO"], john["PPO"], john["MISSING"]) == (0, 1, 2, 0)
    assert approx(john["PPO_%"], 2 / 4)
    assert approx(john["FFS_%"], 0.0)
    assert approx(john["All_Patients_%"], 3 / 10)
    missing = rows[(1.04, "MISSING")]
    # name-MISSING: PID 6 (plan null→MISSING), PID 9 (HMO)
    assert (missing["HMO"], missing["MISSING"]) == (1, 1)


def test_yes_no_missing_ordering(spark):
    df = spark.createDataFrame(
        [(v,) for v in ["No", "Yes", "alpha", "Unknown", "No", None, "beta"]],
        "yn string",
    )
    rows = rows_by_index(tableone(df, cols_to_analyze=["yn"]))
    order = [rows[k]["Values"] for k in sorted(rows) if k[0] > 0]
    assert order == ["Yes", "No", "alpha", "beta", "Unknown", "MISSING"]


def test_strat_value_sanitization(spark):
    df = spark.createDataFrame(
        [("gold plan", 1.0), ("café", 2.0), (None, 3.0), ("gold plan", 4.0)],
        "strat string, x double",
    )
    out = tableone(df, col_to_strat="strat", cols_to_analyze=["x"])
    assert "gold_plan" in out.columns
    assert "caf?" in out.columns
    assert "MISSING" in out.columns


def test_stratified_continuous_per_group(patients):
    rows = rows_by_index(
        tableone(patients, col_to_strat="plan", cols_to_analyze=["age"])
    )
    # PPO ages: 18, 25, 55, 85 ; HMO: 21, 34 ; FFS: 65, 19 ; MISSING: 70, 28
    assert rows[(1.1, "n")]["PPO"] == 4.0
    assert rows[(1.2, "min")]["PPO"] == 18.0
    assert rows[(1.3, "max")]["PPO"] == 85.0
    assert approx(rows[(1.4, "mean")]["HMO"], 27.5)
    assert approx(rows[(1.4, "mean")]["MISSING"], 49.0)
    assert rows[(1.1, "n")]["All_Patients"] == 10.0


# ---------------------------------------------------------------------------
# p-values
# ---------------------------------------------------------------------------


def _f_oneway(groups):
    """Textbook one-way ANOVA, computed from raw data (independent of
    the engine's moments-based path)."""
    k = len(groups)
    n = sum(len(g) for g in groups)
    grand = sum(sum(g) for g in groups) / n
    ssb = sum(len(g) * (sum(g) / len(g) - grand) ** 2 for g in groups)
    ssw = sum(sum((x - sum(g) / len(g)) ** 2 for x in g) for g in groups)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    from tableone_pyspark_spark.core import special

    return f, special.f_sf(f, k - 1, n - k)


def test_p_values_anova_and_chisq(patients):
    out = tableone(
        patients, col_to_strat="plan", cols_to_analyze=["name", "age"], p_values=True
    )
    rows = rows_by_index(out)
    # age: 4 strat groups → ANOVA on the n row
    anchor = rows[(2.1, "n")]
    assert anchor["test_name"] == "ANOVA"
    groups = [[18, 25, 55, 85], [21, 34], [65, 19], [70, 28]]
    f, p = _f_oneway(groups)
    assert approx(anchor["test_value"], float(f), tol=1e-9)
    assert approx(anchor["p_value"], float(p), tol=1e-9)
    # name: chi-square anchored on first category row
    cat_anchor = rows[(1.01, "John")]
    assert cat_anchor["test_name"] == "Chi-Square"
    # non-anchor rows carry nulls
    assert rows[(2.4, "mean")]["test_name"] is None
    assert rows[(1.02, "Sally")]["p_value"] is None


def test_p_values_t_test_two_groups(spark):
    data = [("A", 1.0), ("A", 2.0), ("A", 4.0), ("B", 2.0), ("B", 5.0), ("B", 9.0)]
    df = spark.createDataFrame(data, "g string, x double")
    rows = rows_by_index(
        tableone(df, col_to_strat="g", cols_to_analyze=["x"], p_values=True)
    )
    anchor = rows[(1.1, "n")]
    # textbook pooled-variance t from raw data
    a, b = [1.0, 2.0, 4.0], [2.0, 5.0, 9.0]
    ma, mb = sum(a) / 3, sum(b) / 3
    va = sum((x - ma) ** 2 for x in a) / 2
    vb = sum((x - mb) ** 2 for x in b) / 2
    sp2 = (2 * va + 2 * vb) / 4
    t = (ma - mb) / math.sqrt(sp2 * (2 / 3))
    from tableone_pyspark_spark.core import special

    p = special.t_sf_two_sided(t, 4)
    assert anchor["test_name"] == "t-test"
    assert approx(abs(anchor["test_value"]), abs(t))
    assert approx(anchor["p_value"], p)


def test_chi_square_not_done_gate(spark):
    # <5 non-MISSING rows → NOT DONE (reference :503-516)
    data = [("a", "X"), ("b", "Y"), (None, "X"), (None, "Y"), ("a", "X")]
    df = spark.createDataFrame(data, "c string, g string")
    rows = rows_by_index(
        tableone(df, col_to_strat="g", cols_to_analyze=["c"], p_values=True)
    )
    anchor = rows[(1.01, "a")]
    assert anchor["test_name"] == "NOT DONE"
    assert math.isnan(anchor["p_value"])


@pytest.mark.parametrize(
    "a, b, c, d, chi2, p",
    [
        (10, 20, 30, 40, 0.4464285714, 0.5040358665),
        (12, 5, 3, 9, 4.1714577498, 0.0411104142),
        (5, 5, 5, 6, 0.0, 1.0),  # |ad - bc| < N/2: the correction clamps to 0
    ],
)
def test_chi_square_2x2_yates(a, b, c, d, chi2, p):
    from tableone_pyspark_spark.core.hypothesis import chi_square

    n = a + b + c + d
    closed = (
        n * max(0.0, abs(a * d - b * c) - n / 2) ** 2
        / ((a + b) * (c + d) * (a + c) * (b + d))
    )
    assert closed == pytest.approx(chi2, abs=1e-9)
    assert math.erfc(math.sqrt(closed / 2)) == pytest.approx(p, abs=1e-9)
    name, got_p, got_chi2 = chi_square(
        {("u", "X"): a, ("u", "Y"): b, ("v", "X"): c, ("v", "Y"): d}
    )
    assert name == "Chi-Square"
    assert got_chi2 == pytest.approx(closed, rel=1e-12, abs=1e-12)
    assert got_p == pytest.approx(math.erfc(math.sqrt(closed / 2)), rel=1e-9)


def test_p_values_forced_off_unstratified(patients):
    with pytest.warns(UserWarning, match="p_values indicator overridden to False"):
        out = tableone(patients, cols_to_analyze=["age"], p_values=True)
    assert "p_value" not in out.columns


# ---------------------------------------------------------------------------
# hardening / quirks
# ---------------------------------------------------------------------------


def test_empty_cols_raises(patients):
    with pytest.raises(ValueError):
        tableone(patients, cols_to_analyze=[])


def test_unknown_column_raises(patients):
    with pytest.raises(ValueError):
        tableone(patients, cols_to_analyze=["nope"])


def test_unsupported_dtype_skipped(spark):
    df = spark.createDataFrame(
        [(True, 1.0), (False, 2.0)], "flag boolean, x double"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = tableone(df, cols_to_analyze=["flag", "x"])
    assert any("Not supported" in str(x.message) for x in w)
    chars = {r["Characteristics"] for r in out.collect()}
    assert chars == {"Total", "x"}


def test_numeric_strat_cast(spark):
    # Q11: numeric strat works (reference silently no-ops the fillna)
    df = spark.createDataFrame([(1, 5.0), (2, 6.0), (None, 7.0)], "g int, x double")
    out = tableone(df, col_to_strat="g", cols_to_analyze=["x"])
    assert {"1", "2", "MISSING"}.issubset(set(out.columns))


def test_beautify(patients):
    out = tableone(
        patients, col_to_strat="plan", cols_to_analyze=["name", "age"], beautify=True
    )
    assert "Pivoted_column" not in out.columns
    assert "Variable_type" not in out.columns
    rows = out.collect()
    # each Characteristics appears exactly once (first row of its block)
    named = [r["Characteristics"] for r in rows if r["Characteristics"] is not None]
    assert sorted(named) == ["Total", "age", "name"]


def test_partition_invariance(patients):
    base = {
        (r["Index"], r["Values"]): r["All_Patients"]
        for r in tableone(patients, col_to_strat="plan", cols_to_analyze=["name", "age"]).collect()
    }
    for k in (1, 7):
        got = {
            (r["Index"], r["Values"]): r["All_Patients"]
            for r in tableone(
                patients.repartition(k), col_to_strat="plan", cols_to_analyze=["name", "age"]
            ).collect()
        }
        assert got.keys() == base.keys()
        for key in base:
            # float aggregation order differs across partitionings → ulp drift
            assert approx(got[key], base[key], tol=1e-12), (key, got[key], base[key])


def test_percent_sums(patients):
    rows = rows_by_index(
        tableone(patients, col_to_strat="plan", cols_to_analyze=["name"])
    )
    cat = [v for k, v in rows.items() if 1.0 < k[0] < 2.0]
    for col in ["All_Patients_%", "FFS_%", "HMO_%", "PPO_%", "MISSING_%"]:
        assert approx(sum(r[col] for r in cat), 1.0)
    for col in ["All_Patients", "FFS", "HMO", "PPO", "MISSING"]:
        assert sum(r[col] for r in cat) == rows[(0.0, "ALL")][col]


def test_compat_shim_signature(spark, patients):
    """tableone_pyspark(...) accepts the reference's exact parameter
    names/order (reference :20) and matches tableone(...) output."""
    from tableone_pyspark_spark import tableone, tableone_pyspark

    a = tableone_pyspark(
        patients, spark, col_to_strat="plan",
        cols_to_analyze_list=["name", "age"], beautify=False, p_values=False,
    )
    b = tableone(patients, col_to_strat="plan", cols_to_analyze=["name", "age"])
    assert a.columns == b.columns
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_sanitization_collision_warns(spark):
    """SURVEY Q9: distinct raw strat values merged by sanitization
    ('a b' ≡ 'a_b') must emit a warning, and counts merge."""
    df = spark.createDataFrame(
        [("a b", 1.0), ("a_b", 2.0), ("ok", 3.0)], "strat string, x double"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = tableone(df, col_to_strat="strat", cols_to_analyze=["x"]).collect()
    assert any("merged" in str(x.message) for x in w)
    total = [r for r in out if r["Characteristics"] == "Total"][0]
    assert total["a_b"] == 2.0  # the two raw values merged into one pivot


def test_strat_values_naming_duplicate_columns_raise(spark):
    """A strat value becomes two columns, ``v`` and ``v_%``; values that
    would name the same column twice fail fast instead of silently
    overwriting one column with the other."""
    df = spark.createDataFrame(
        [("x", 1.0), ("x_%", 2.0), ("y", 3.0)], "g string, v double"
    )
    with pytest.raises(ValueError, match=r"\['x', 'x_%'\].*\['x_%'\]"):
        tableone(df, col_to_strat="g", cols_to_analyze=["v"])

    for clash in ["Index", "Values", "All_Patients"]:
        df = spark.createDataFrame([(clash, 1.0), ("ok", 2.0)], "g string, v double")
        with pytest.raises(ValueError, match=rf"\['{clash}'\] of 'g'.*\['{clash}'"):
            tableone(df, col_to_strat="g", cols_to_analyze=["v"])

    # p_value is an output column only when p-values are requested
    df = spark.createDataFrame([("p_value", 1.0), ("ok", 2.0)], "g string, v double")
    assert "p_value" in tableone(df, col_to_strat="g", cols_to_analyze=["v"]).columns
    with pytest.raises(ValueError, match=r"\['p_value'\].*\['p_value'\]"):
        tableone(df, col_to_strat="g", cols_to_analyze=["v"], p_values=True)


def test_index_collision_warns(spark):
    """SURVEY Q10: >=100 categories in one variable warns (fractional
    Index would collide with the next variable): 105 and 100 warn, 99
    (Index up to idx + 0.99) does not."""

    def warns(n: int) -> bool:
        df = spark.createDataFrame([(f"cat_{i:03d}",) for i in range(n)], "c string")
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            tableone(df, cols_to_analyze=["c"]).collect()
        return any("categories" in str(x.message) for x in w)

    assert warns(105)
    assert warns(100)
    assert not warns(99)


def test_near_unique_quartiles_exact_past_100k_rows(spark, tmp_path):
    """Quartiles are exact at any size: ~120k near-unique doubles in 3
    strata give DuckDB's quantile_disc in every cell, with no warning
    (a quantile sketch of 100k accuracy would not be exact here)."""
    import duckdb
    from pyspark.sql import functions as F

    path = str(tmp_path / "near_unique.parquet")
    spark.range(120_000).select(
        F.element_at(F.array(F.lit("a"), F.lit("b"), F.lit("c")),
                     (F.col("id") % 3 + 1).cast("int")).alias("g"),
        # near-unique, unsorted relative to id, with a few duplicates
        ((F.col("id") * 7919 % 120_001) / 8.0).alias("x"),
    ).write.parquet(path)

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = rows_by_index(
            tableone(spark.read.parquet(path), col_to_strat="g", cols_to_analyze=["x"])
        )
    engine_warnings = [w for w in caught if issubclass(w.category, UserWarning)]
    assert not engine_warnings, [str(w.message) for w in engine_warnings]

    con = duckdb.connect()
    for k, p in enumerate((0.25, 0.5, 0.75)):
        row = out[(round(1.6 + k / 10, 10), ("25th", "50th", "75th")[k] + " percentile")]
        want = dict(con.execute(
            f"SELECT coalesce(g, 'All_Patients'), quantile_disc(x, {p}) "
            f"FROM '{path}/*.parquet' GROUP BY ROLLUP (g)"
        ).fetchall())
        assert {c: row[c] for c in want} == want


# ---------------------------------------------------------------------------
# weighted TableOne (weight_col; extension — reference has no weights)
# ---------------------------------------------------------------------------




def test_hybrid_mixed_cardinality_with_all_null_strat_cell(spark):
    """A low-cardinality variable whose values are all NULL within one
    stratum, alongside a near-unique variable, yields None quartiles
    for that cell and exact medians everywhere else."""
    from pyspark.sql import functions as F

    n = 400
    df = (
        spark.range(n)
        .select(
            F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("g"),
            # high-card: near-unique
            (F.col("id") * 1.0 + 0.5).alias("hx"),
            # low-card: 3 distinct values, but ALL NULL in stratum b
            F.when(
                F.col("id") % 2 == 0, (F.col("id") % 3).cast("double")
            ).alias("lx"),
        )
    )
    out = rows_by_index(
        tableone(df, col_to_strat="g", cols_to_analyze=["hx", "lx"])
    )
    # lx in stratum b: no values -> n=0, quartiles None
    assert out[(2.1, "n")]["b"] == 0.0
    assert out[(2.7, "50th percentile")]["b"] is None
    # lx in stratum a: exact disc over {0,1,2} with 67/67/66 counts
    assert out[(2.7, "50th percentile")]["a"] == 1.0
    # hx: quantile_disc over 0.5..399.5 (a: even ids, b: odd ids)
    hx = out[(1.7, "50th percentile")]
    assert (hx["All_Patients"], hx["a"], hx["b"]) == (199.5, 198.5, 199.5)



def test_weighted_tableone_equals_replicated_rows(spark):
    """THE semantic pin for frequency weights: tableone(weight_col=w)
    with integer w must reproduce tableone() on the row-replicated
    frame EXACTLY — every count, percent, moment, quartile, and
    p-value (weighted quantile_disc reduces to quantile_disc at
    integer w)."""
    from pyspark.sql import functions as F

    li = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .where(F.col("l_orderkey") % 7 == 0)
        .withColumn("w", (F.col("l_orderkey") % 4 + 1).cast("int"))
        .select(
            "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "w"
        )
    )
    cols = ["l_linestatus", "l_quantity", "l_extendedprice"]
    weighted = tableone(
        li, col_to_strat="l_returnflag", cols_to_analyze=cols,
        p_values=True, weight_col="w",
    )
    replicated = li.withColumn(
        "__r", F.explode(F.array_repeat(F.lit(1), F.col("w")))
    )
    plain = tableone(
        replicated, col_to_strat="l_returnflag", cols_to_analyze=cols,
        p_values=True,
    )
    a = rows_by_index(weighted)
    b = rows_by_index(plain)
    assert a.keys() == b.keys() and len(a) > 10
    for k in a:
        for col in a[k]:
            assert approx(a[k][col], b[k][col], tol=1e-7), (k, col, a[k][col], b[k][col])


def test_weighted_tableone_excludes_nonpositive_weights(spark):
    rows = [("a", 10.0, 2.0), ("a", 20.0, 0.0), ("b", 30.0, None), ("b", 40.0, 1.5)]
    df = spark.createDataFrame(rows, "g string, x double, w double")
    out = rows_by_index(tableone(df, cols_to_analyze=["g", "x"], weight_col="w"))
    # only the w=2.0 and w=1.5 rows survive: total Sigma-w = 3.5
    assert out[(0.0, "ALL")]["All_Patients"] == 3.5
    assert out[(1.01, "a")]["All_Patients"] == 2.0
    assert out[(1.02, "b")]["All_Patients"] == 1.5
    assert approx(out[(1.01, "a")]["All_Patients_%"], 2.0 / 3.5)
    # weighted mean of x over surviving rows: (2*10 + 1.5*40)/3.5
    assert approx(out[(2.4, "mean")]["All_Patients"], (2 * 10 + 1.5 * 40) / 3.5)
    # weighted n row
    assert out[(2.1, "n")]["All_Patients"] == 3.5


def test_weighted_quantile_disc_fractional_weights(spark):
    """Weighted quartile = min x with cumSigma-w >= p*Sigma-w, checked
    by hand with fractional weights."""
    rows = [(1.0, 0.5), (2.0, 0.25), (3.0, 0.125), (4.0, 2.0)]
    df = spark.createDataFrame(rows, "x double, w double")
    out = rows_by_index(tableone(df, cols_to_analyze=["x"], weight_col="w"))
    # total w = 2.875; p=.25 -> 0.71875: cum(1)=0.5 < .71875, cum(2)=0.75 -> 2
    assert out[(1.6, "25th percentile")]["All_Patients"] == 2.0
    # p=.5 -> 1.4375: cum(3)=0.875 < 1.4375, cum(4)=2.875 -> 4
    assert out[(1.7, "50th percentile")]["All_Patients"] == 4.0
    assert out[(1.8, "75th percentile")]["All_Patients"] == 4.0
    assert out[(1.2, "min")]["All_Patients"] == 1.0
    assert out[(1.3, "max")]["All_Patients"] == 4.0


def test_weighted_quantile_interpolated_fractional_weights(spark):
    """Interpolated weighted quartile with FRACTIONAL weights, checked
    by hand: t = p*(SUMw-1); value_at(j) = min x with cumSUMw > j;
    result = blend(value_at(floor t), value_at(floor t + 1), frac).
    x=[1,2], w=[1.5,1.5]: W=3, cum=(1.5, 3.0) ->
    p25: t=0.5 -> lo=hi=1 -> 1.0; p50: t=1.0, frac=0 -> 1.0;
    p75: t=1.5 -> lo=1 (1.5>1), hi=2 (3>2) -> 1.5."""
    from tableone_pyspark_spark import TableOneConfig

    rows = [(1.0, 1.5), (2.0, 1.5)]
    df = spark.createDataFrame(rows, "x double, w double")
    out = rows_by_index(
        tableone(
            df, cols_to_analyze=["x"], weight_col="w",
            config=TableOneConfig(quantile_mode="interpolated"),
        )
    )
    assert out[(1.6, "25th percentile")]["All_Patients"] == 1.0
    assert out[(1.7, "50th percentile")]["All_Patients"] == 1.0
    assert out[(1.8, "75th percentile")]["All_Patients"] == 1.5


def test_weighted_interpolated_matches_row_replication_at_inf_and_blend(spark):
    """Weighted interpolated quartiles at w == 1 equal the unweighted
    ones (and DuckDB quantile_cont): with lo == hi == inf the quartile
    is inf, not inf + 0*(inf - inf) = NaN, and the blend is
    (1-f)*lo + f*hi, so [26965.01, 26965.05] gives q25 = 26965.02."""
    from tableone_pyspark_spark import TableOneConfig

    inf = float("inf")
    rows = [("a", 1.0), ("a", 2.0), ("a", inf), ("a", inf), ("a", inf),
            ("b", 26965.01), ("b", 26965.05)]
    df = spark.createDataFrame(
        [(s, x, 1.0) for s, x in rows], "s string, x double, w double"
    )
    cfg = TableOneConfig(quantile_mode="interpolated")
    weighted = rows_by_index(
        tableone(df, col_to_strat="s", cols_to_analyze=["x"], weight_col="w",
                 config=cfg)
    )
    plain = rows_by_index(
        tableone(df, col_to_strat="s", cols_to_analyze=["x"], config=cfg)
    )
    q25, q50, q75 = (1.6, "25th percentile"), (1.7, "50th percentile"), (1.8, "75th percentile")
    assert [weighted[q]["a"] for q in (q25, q50, q75)] == [2.0, inf, inf]
    assert [weighted[q]["b"] for q in (q25, q50, q75)] == [
        26965.02, 26965.03, 26965.039999999997,
    ]
    for q in (q25, q50, q75):
        for col in ("All_Patients", "a", "b"):
            assert repr(weighted[q][col]) == repr(plain[q][col]), (q, col)


def _cell_x(i: int):
    # tie-prone values plus null, NaN and inf
    if i % 19 == 0:
        return None
    if i % 23 == 0:
        return float("nan")
    if i % 29 == 0:
        return float("inf")
    return float(i % 17) - 4.5


#: (strat, x, integral weight): ~17 distinct x per stratum, so the
#: quartile cells exceed a cat_cells_limit of 10
_CELL_ROWS = [
    ("abc"[i % 3] if i % 11 else None, _cell_x(i), float(i % 3 + 1))
    for i in range(60)
]


def _spread_x(i: int):
    # a few thousand rows over ~400 distinct values per stratum, plus
    # null, NaN, ±inf and -0.0 (which the cell grouping reads as 0.0)
    for k, v in ((31, None), (37, float("nan")), (41, float("inf")),
                 (43, float("-inf")), (47, -0.0)):
        if i % k == 0:
            return v
    return float(i * 7 % 401) / 4.0 - 50.0


#: (strat, x, integral weight) spread over many range partitions
_SPREAD_ROWS = [
    ("abc"[i % 3] if i % 13 else None, _spread_x(i), float(i % 4 + 1))
    for i in range(3000)
]


@pytest.mark.parametrize("stratified", [True, False], ids=["strat", "nostrat"])
@pytest.mark.parametrize(
    "mode,weighted,rows",
    [
        ("data", False, _CELL_ROWS),
        ("interpolated", False, _CELL_ROWS),
        ("data", True, _CELL_ROWS),
        ("interpolated", True, _CELL_ROWS),
        ("data", False, _SPREAD_ROWS),
        ("interpolated", False, _SPREAD_ROWS),
        ("data", True, _SPREAD_ROWS),
        ("interpolated", True, _SPREAD_ROWS),
    ],
    ids=["data", "interpolated", "weighted-data", "weighted-interpolated",
         "data-spread", "interpolated-spread", "weighted-data-spread",
         "weighted-interpolated-spread"],
)
def test_distributed_quartiles_equal_driver_kernel(
    spark, mode, weighted, rows, stratified
):
    """Past cat_cells_limit the continuous statistics run distributed
    (range partitions summarized and ranked by mapInArrow) instead of on
    the driver. Both give the same counts, n, min, max and quartiles,
    bit for bit; the mean and stddev, merged over partitions by Chan et
    al.'s update instead of summed in one pass, agree to 1e-12 relative.
    With AQE's partition coalescing off, the spread rows land in several
    range partitions, so targets fall past the first partition, the
    per-partition offsets matter and the moments merge across
    partitions."""
    from tableone_pyspark_spark import TableOneConfig

    df = spark.createDataFrame(rows, "s string, x double, w double")
    kw = dict(
        col_to_strat="s" if stratified else "",
        cols_to_analyze=["x"],
        weight_col="w" if weighted else None,
    )
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        driver = tableone(df, config=TableOneConfig(quantile_mode=mode), **kw)
        spread = tableone(
            df, config=TableOneConfig(quantile_mode=mode, cat_cells_limit=10), **kw
        )
    finally:
        spark.conf.set(key, old)
    a, b = rows_by_index(driver), rows_by_index(spread)
    assert len(a) == 9 and a.keys() == b.keys()
    for key, row in a.items():
        assert row.keys() == b[key].keys()
        for col, got in b[key].items():
            want = row[col]
            if key[1] in ("mean", "stddev") and isinstance(want, float):
                assert isinstance(got, float), (key, col, got, want)
                assert (math.isnan(want) and math.isnan(got)) or math.isclose(
                    got, want, rel_tol=1e-12, abs_tol=0.0
                ), (key, col, got, want)
            else:
                assert repr(got) == repr(want), (key, col, got, want)


def test_cat_cells_limit_raises_for_categorical_cells(spark):
    df = spark.createDataFrame(
        [(f"id{i}", float(i)) for i in range(20)], "c string, x double"
    )
    from tableone_pyspark_spark import TableOneConfig

    with pytest.raises(ValueError, match="cat_cells_limit"):
        tableone(df, cols_to_analyze=["c", "x"],
                 config=TableOneConfig(cat_cells_limit=10))


def test_strat_cardinality_limit_raises(spark):
    """The strat-count cells name every stratum: more than
    strat_cardinality_limit raises, also when the cells overflow
    cat_cells_limit (the strat error is the one that names the cause)."""
    from tableone_pyspark_spark import TableOneConfig

    df = spark.createDataFrame([(f"s{i}", float(i)) for i in range(5)], "g string, x double")
    for cfg in (TableOneConfig(strat_cardinality_limit=4),
                TableOneConfig(strat_cardinality_limit=4, cat_cells_limit=3)):
        with pytest.raises(ValueError, match="strat_cardinality_limit"):
            tableone(df, col_to_strat="g", cols_to_analyze=["x"], config=cfg)
    out = tableone(df, col_to_strat="g", cols_to_analyze=["x"],
                   config=TableOneConfig(strat_cardinality_limit=5))
    assert "s4" in out.columns


def test_weighted_tableone_rejects_bad_weight_col(spark):
    df = spark.createDataFrame([("a", "x")], "g string, w string")
    with pytest.raises(ValueError, match="must be numeric"):
        tableone(df, cols_to_analyze=["g"], weight_col="w")
    with pytest.raises(ValueError, match="not in DataFrame"):
        tableone(df, cols_to_analyze=["g"], weight_col="nope")


# ---------------------------------------------------------------------------
# output relation: exact Python types of the collected rows
# ---------------------------------------------------------------------------

NAN = float("nan")


def _assert_rows(out, dtypes, expected):
    """Collected rows equal ``expected`` cell by cell with the same Python
    type: ints stay int, floats stay float, None and NaN are distinct."""
    assert out.dtypes == dtypes
    got = [tuple(r) for r in out.collect()]
    assert len(got) == len(expected)
    for g, e in zip(got, expected):
        assert len(g) == len(e), (g, e)
        for a, b in zip(g, e):
            if isinstance(b, float) and math.isnan(b):
                ok = isinstance(a, float) and math.isnan(a)
            elif isinstance(b, float):
                ok = type(a) is float and math.isclose(a, b, rel_tol=1e-12)
            else:
                ok = type(a) is type(b) and a == b
            assert ok, (g, e)


def _dtypes(count_type, strat_vals, p_values=False):
    out = [
        ("Pivoted_column", "string"), ("Index", "double"),
        ("Characteristics", "string"), ("Variable_type", "string"),
        ("Values", "string"),
    ]
    for c in ["All_Patients"] + strat_vals:
        out += [(c, count_type), (c + "_%", "double")]
    if p_values:
        out += [("p_value", "double"), ("test_value", "double"), ("test_name", "string")]
    return out


def test_output_types_categorical_only_long_counts_nan_anchor(spark):
    # 4 rows < 5: chi-square is NOT DONE, so the anchor row carries NaN
    # while every other row carries None in the p-value triple
    df = spark.createDataFrame(
        [("u", "a"), ("v", "a"), ("u", "b"), ("u", "b")], "c string, g string"
    )
    out = tableone(df, col_to_strat="g", cols_to_analyze=["c"], p_values=True)
    _assert_rows(out, _dtypes("bigint", ["a", "b"], p_values=True), [
        ("g", 0.0, "Total", None, "ALL", 4, 1.0, 2, 1.0, 2, 1.0, None, None, None),
        ("g", 1.01, "c", "category", "u", 3, 0.75, 1, 0.5, 2, 1.0, NAN, NAN, "NOT DONE"),
        ("g", 1.02, "c", "category", "v", 1, 0.25, 1, 0.5, 0, 0.0, None, None, None),
    ])


def test_output_types_weighted_categorical_double_counts(spark):
    df = spark.createDataFrame([("u", 2), ("v", 1)], "c string, w int")
    out = tableone(df, cols_to_analyze=["c"], weight_col="w")
    _assert_rows(out, _dtypes("double", []), [
        ("", 0.0, "Total", None, "ALL", 3.0, 1.0),
        ("", 1.01, "c", "category", "u", 2.0, 2 / 3),
        ("", 1.02, "c", "category", "v", 1.0, 1 / 3),
    ])


def test_output_types_decimal_column_double_counts(spark):
    """Decimal input: every statistic comes back as a float. Stratum b
    is all-null (n 0.0, the rest None); MISSING holds one value, so its
    stddev is None. The mean is the double mean of the values cast to
    double, as DuckDB's avg of a decimal; Spark's decimal avg would keep
    only 6 fractional digits (2.666667)."""
    from decimal import Decimal as D

    df = spark.createDataFrame(
        [(D("1.50"), "a"), (D("2.50"), "a"), (D("4.00"), "a"), (None, "b"),
         (D("3.25"), None)],
        "x decimal(10,2), g string",
    )
    out = tableone(df, col_to_strat="g", cols_to_analyze=["x"])
    sd_all = math.sqrt((1.3125**2 + 0.3125**2 + 1.1875**2 + 0.4375**2) / 3)
    sd_a = math.sqrt(((1.5 - 8 / 3) ** 2 + (2.5 - 8 / 3) ** 2 + (4 - 8 / 3) ** 2) / 2)
    cont = [
        ("n", 4.0, 3.0, 0.0, 1.0),
        ("min", 1.5, 1.5, None, 3.25),
        ("max", 4.0, 4.0, None, 3.25),
        ("mean", 2.8125, 8 / 3, None, 3.25),
        ("stddev", sd_all, sd_a, None, None),
        ("25th percentile", 1.5, 1.5, None, 3.25),
        ("50th percentile", 2.5, 2.5, None, 3.25),
        ("75th percentile", 3.25, 4.0, None, 3.25),
    ]
    expected = [("g", 0.0, "Total", None, "ALL", 5.0, 1.0, 3.0, 1.0, 1.0, 1.0, 1.0, 1.0)]
    for i, (label, all_v, a, b, m) in enumerate(cont, start=1):
        expected.append(
            ("g", 1 + i / 10, "x", "continuous", label, all_v, None, a, None, b, None, m, None)
        )
    _assert_rows(out, _dtypes("double", ["a", "b", "MISSING"]), expected)


@pytest.mark.parametrize("n_strata", [2, 3], ids=["t-test", "anova"])
def test_decimal_column_p_values(spark, n_strata):
    """p-values on a decimal column equal those of the same column cast
    to double, exactly: every moment comes from the values cast to
    double (the t-test for 2 strata, the ANOVA for 3)."""
    from decimal import Decimal as D

    from pyspark.sql import functions as F

    rows = [
        (D(f"{i * 37 % 101 + 10 * (i % n_strata)}.{i * 13 % 100:02d}"), "abc"[i % n_strata])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "x decimal(10,2), g string")
    kw = dict(col_to_strat="g", cols_to_analyze=["x"], p_values=True)
    got = rows_by_index(tableone(df, **kw))[(1.1, "n")]
    want = rows_by_index(
        tableone(df.withColumn("x", F.col("x").cast("double")), **kw)
    )[(1.1, "n")]
    assert got["test_name"] == want["test_name"] == ("t-test", "ANOVA")[n_strata - 2]
    assert 0.0 < got["p_value"] < 1.0
    assert got["p_value"] == want["p_value"]
    assert got["test_value"] == want["test_value"]


def test_output_types_beautify_layout(spark):
    """beautify drops Pivoted_column/Variable_type and names each block
    on its first row only ("_" -> " "). A NaN value is a value: it is
    counted, and it is the max, mean and stddev, sorted after 3.0."""
    df = spark.createDataFrame(
        [("A", 1.0), ("B", 2.0), ("A", NAN), (None, 3.0)],
        "blood_type string, x_val double",
    )
    out = tableone(df, cols_to_analyze=["blood_type", "x_val"], beautify=True)
    dtypes = [
        ("Index", "double"), ("Characteristics", "string"), ("Values", "string"),
        ("All_Patients", "double"), ("All_Patients_%", "double"),
    ]
    _assert_rows(out, dtypes, [
        (0.0, "Total", "ALL", 4.0, 1.0),
        (1.01, "blood type", "A", 2.0, 0.5),
        (1.02, None, "B", 1.0, 0.25),
        (1.03, None, "MISSING", 1.0, 0.25),
        (2.1, "x val", "n", 4.0, None),
        (2.2, None, "min", 1.0, None),
        (2.3, None, "max", NAN, None),
        (2.4, None, "mean", NAN, None),
        (2.5, None, "stddev", NAN, None),
        (2.6, None, "25th percentile", 1.0, None),
        (2.7, None, "50th percentile", 2.0, None),
        (2.8, None, "75th percentile", 3.0, None),
    ])


# ---------------------------------------------------------------------------
# the two routes to the cells: rows grouped on the driver, or the job
# ---------------------------------------------------------------------------

_SUFFICIENT_LOG = "tableone_pyspark_spark.core.sufficient"


def _edge_x(i: int):
    for k, v in ((7, None), (11, NAN), (13, float("inf")), (17, float("-inf")),
                 (19, -0.0), (23, 0.0)):
        if i % k == 0:
            return v
    return float(i % 9) - 3.5


def _edge_table():
    """200 rows of edge values: nulls, NaN, ±inf, -0.0 and 0.0 in one
    double column (and -0.0 as the minimum of another), a decimal(10,2)
    column, a 1e8 + {0.1…0.4} column, an all-null double column, a
    categorical column with nulls, null strat values and frequency
    weights that include 0."""
    import pyarrow as pa
    from decimal import Decimal

    n = 200
    return pa.table({
        "s": pa.array([None if i % 10 == 0 else "ab c"[i % 4] for i in range(n)]),
        "x": pa.array([_edge_x(i) for i in range(n)], pa.float64()),
        "z": pa.array([(-0.0, 0.0, None, 2.5)[i % 4] for i in range(n)], pa.float64()),
        "d": pa.array([None if i % 9 == 0 else Decimal(i % 37) / 4 for i in range(n)],
                      pa.decimal128(10, 2)),
        "big": pa.array([1e8 + (i % 4 + 1) / 10 for i in range(n)], pa.float64()),
        "nul": pa.nulls(n, pa.float64()),
        "c": pa.array([None if i % 6 == 0 else "uvw"[i % 3] for i in range(n)]),
        "w": pa.array([float(i % 4) for i in range(n)], pa.float64()),
    })


@pytest.mark.one_route
@pytest.mark.parametrize("stratified", [True, False], ids=["strat", "nostrat"])
@pytest.mark.parametrize("weighted", [False, True], ids=["unweighted", "weighted"])
@pytest.mark.parametrize("mode", ["data", "interpolated"])
def test_rows_route_equals_cells_route(spark, caplog, mode, weighted, stratified):
    """An input under the rows route's gate is collected as rows and
    grouped on the driver; the same input above it is grouped by the
    Spark job. Both give the same table, repr for repr: -0.0 groups as 0.0,
    every NaN is one value, a null strat value is a stratum of its own,
    and Σw is a count unweighted and a double weighted. The empty frame
    too."""
    from tableone_pyspark_spark import TableOneConfig

    caplog.set_level(logging.DEBUG, logger=_SUFFICIENT_LOG)
    df = spark.createDataFrame(_edge_table())
    kw = dict(
        col_to_strat="s" if stratified else "",
        cols_to_analyze=["x", "z", "d", "big", "nul", "c"],
        p_values=stratified,
        weight_col="w" if weighted else None,
        config=TableOneConfig(quantile_mode=mode),
    )

    def table(frame):
        return repr(tableone(frame, **kw).collect())

    for frame in (df, df.limit(0)):
        rows = table(frame)
        with cells_route():
            cells = table(frame)
        assert rows == cells
    recs = [(r.route, r.cells) for r in caplog.records if r.name == _SUFFICIENT_LOG]
    assert [route for route, _n in recs] == ["rows", "cells"] * 2
    # as many cells on both routes: the NaNs, and -0.0 with 0.0, merge
    # into one cell per group
    assert recs[0][1] == recs[1][1] > 0 and recs[2][1] == recs[3][1] == 0


@pytest.mark.one_route
def test_collect_sufficient_reports_its_route(spark, caplog, tmp_path):
    """Every call logs one DEBUG record naming its route (rows, cells or
    spread), Spark's size estimate of the projection, the rows route's
    gate and the rows or cells it collected. Parquet and local frames
    under the gate take rows; a gate of -1 and an RDD-backed frame (its
    estimate is Long.MaxValue) take cells; past cat_cells_limit the rows
    probe overflows and the call takes spread, also when the rows fit
    but their cells do not; a wide input under the gate whose rows hold
    more values than cat_cells_limit cells takes cells. The record also
    times the collect (collect_s) and the driver's grouping and kernel
    (group_s), and names the kernel's thread pool: one thread per
    continuous variable, at most one per CPU, none when the continuous
    cells stay distributed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tableone_pyspark_spark import TableOneConfig
    from tableone_pyspark_spark.core.sufficient import ROWS_ROUTE_BYTES

    caplog.set_level(logging.DEBUG, logger=_SUFFICIENT_LOG)
    path = str(tmp_path / "edge.parquet")
    pq.write_table(_edge_table(), path)
    kw = dict(col_to_strat="s", cols_to_analyze=["x", "c"])

    def records(frame, **extra):
        caplog.clear()
        tableone(frame, **{**kw, **extra})
        return [r for r in caplog.records if r.name == _SUFFICIENT_LOG]

    for frame in (spark.read.parquet(path), spark.createDataFrame(_edge_table())):
        [rec] = records(frame)
        assert (rec.route, rec.threshold, rec.rows) == ("rows", ROWS_ROUTE_BYTES, 200)
        assert 0 < rec.size_estimate <= ROWS_ROUTE_BYTES and rec.cells > 0
        assert "route=rows" in rec.getMessage()
        assert rec.threads == 1 and rec.collect_s > 0 and rec.group_s > 0
    with cells_route():
        [rec] = records(spark.read.parquet(path))
    assert (rec.route, rec.threshold, rec.rows) == ("cells", -1, None)
    assert rec.size_estimate > 0
    assert rec.threads == 1 and rec.collect_s > 0 and rec.group_s > 0
    rdd = spark.createDataFrame(_edge_table().to_pylist(), "s string, x double, c string")
    [rec] = records(rdd)
    assert (rec.route, rec.rows) == ("cells", None)
    assert rec.size_estimate > ROWS_ROUTE_BYTES
    limit = TableOneConfig(cat_cells_limit=10)
    spread = spark.createDataFrame(pa.Table.from_pylist(
        [dict(zip("sxw", r)) for r in _SPREAD_ROWS]
    ))
    [rec] = records(spread, cols_to_analyze=["x"], config=limit)
    assert (rec.route, rec.rows) == ("spread", 11)
    assert (rec.threads, rec.group_s) == (0, 0.0) and rec.collect_s > 0
    few = pa.table({"a": [float(i) for i in range(8)], "b": [float(-i) for i in range(8)]})
    [rec] = records(spark.createDataFrame(few), col_to_strat="",
                    cols_to_analyze=["a", "b"], config=limit)
    assert (rec.route, rec.rows) == ("spread", 8)
    # the rows fit but their cells do not: grouped on the driver, then
    # handed to the job
    assert rec.threads == 0 and rec.group_s > 0
    # a wide input of repeated values is small as parquet, yet its rows
    # hold far more values than its cells: the probe stops at the rows
    # that hold limit cells' worth of values (5 columns per cell), here
    # 5 · 100 // 41 projected columns = 12, and the job builds the cells
    names = [f"v{j}" for j in range(40)]
    wide = {c: [float((i + j) % 2) for i in range(60)] for j, c in enumerate(names)}
    wide_path = str(tmp_path / "wide.parquet")
    pq.write_table(pa.table({**wide, "s": ["ab"[i % 2] for i in range(60)]}), wide_path)
    [rec] = records(spark.read.parquet(wide_path), cols_to_analyze=names,
                    config=TableOneConfig(cat_cells_limit=100))
    assert (rec.route, rec.rows) == ("cells", 13)
    assert rec.size_estimate <= rec.threshold and rec.cells == 40 * 2 + 2
    assert rec.threads == min(40, len(os.sched_getaffinity(0)))


def test_kernel_pool_size_does_not_change_the_statistics(spark, caplog, monkeypatch):
    """The continuous variables are grouped on a pool of driver threads.
    Forced to one thread, the pool returns the same statistics, repr for
    repr, on both routes, weighted and unweighted, in both quantile
    modes: five continuous variables with nulls, NaN, ±inf and -0.0,
    and null strat values. The pooled calls switch threads every
    microsecond, so that workers sharing any state they write would
    show it."""
    from tableone_pyspark_spark.core import sufficient

    caplog.set_level(logging.DEBUG, logger=_SUFFICIENT_LOG)
    df = spark.createDataFrame(_edge_table())
    cont = ["x", "z", "d", "big", "nul"]

    def collect(**kw):
        caplog.clear()
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            out = sufficient.collect_sufficient(df, "s", ["c"], cont, **kw)
        [rec] = [r for r in caplog.records if r.name == _SUFFICIENT_LOG]
        return _sufficient_repr(out), rec.threads

    for weight_col in (None, "w"):
        for mode in ("data", "interpolated"):
            kw = dict(weight_col=weight_col, quantile_mode=mode)
            for route in (contextlib.nullcontext, cells_route):
                with route():
                    switch = sys.getswitchinterval()
                    sys.setswitchinterval(1e-6)
                    try:
                        pooled, threads = collect(**kw)
                    finally:
                        sys.setswitchinterval(switch)
                    with monkeypatch.context() as mp:
                        mp.setattr(sufficient, "_workers", lambda n: min(n, 1))
                        serial, one = collect(**kw)
                assert (threads, one) == (min(5, len(os.sched_getaffinity(0))), 1)
                assert serial == pooled

