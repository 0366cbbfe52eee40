"""TableOne engine — builds the output table from sufficient statistics.

Output contract is byte-compatible with the reference
(``/root/reference/tableone_pyspark.py:20-261``): one long-format
DataFrame

    Pivoted_column | Index | Characteristics | Variable_type | Values
    | All_Patients | All_Patients_% [| <strat_v> | <strat_v>_% ...]
    [| p_value | test_value | test_name]

where the ``Index`` double encodes row order (total=0; continuous stats
``idx + 0.1 .. 0.8`` for n, min, max, mean, stddev, q25, q50, q75
— reference :331,:343,:354,:365,:377,:403,:418,:434; categorical levels
``idx + rank*0.01`` — reference :300), percents are fractions in [0,1]
(reference :80,:137,:187), and the p-value triple attaches to exactly
one anchor row per variable (reference :193,:210,:483,:522).

Execution model (the Spark-first rewrite): ``collect_sufficient`` makes
one pass over a pruned projection of the input and reduces it to
distinct-value cells (see core/sufficient.py). A small projection (Spark's
size estimate of it is at most ``core.sufficient.ROWS_ROUTE_BYTES``) is
collected once as Arrow rows, read by one task, and grouped on the
driver, each continuous variable once, on a pool of driver threads
that runs numpy only: 1 Spark job, no shuffle — the ``perfbench``
``cohort_wide`` call. A larger one is melted into cells by one
map-side-combined shuffle and the cells are collected once as Arrow: 2
Spark jobs and 1 input-scanning stage; the same kernel groups each
variable's cells on the same pool. Every count, moment and quartile is
computed on the driver, and every Spark job runs in the caller's
thread. The output table (a few hundred rows at most) is then built on
the driver as one Arrow table and returned as a ``LocalTableScan``
DataFrame: collecting it runs no Spark job. What grows with the input: the scan on every route; the one
shuffle of the cells route, which carries distinct-value cells, not
rows; and, past ``cat_cells_limit``, the spread route's range shuffle of
the continuous cells and its two ``mapInArrow`` passes over them.
Contrast: the reference
scans the input ~16× per continuous variable (:325-437) and pulls
whole columns to the driver for p-values (:453, :500).
"""

from __future__ import annotations

import warnings
from collections import Counter
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from tableone_pyspark_spark.core.hypothesis import (
    GroupMoments,
    chi_square,
    continuous_test,
)
from tableone_pyspark_spark.core.sanitize import (
    MISSING,
    category_order_key,
    order_strat_values,
)
from tableone_pyspark_spark.core.sufficient import Sufficient, _num, collect_sufficient

#: continuous stat rows: (Values label, Index offset, ContStat attribute)
#: order/offsets per reference :325-434
CONT_ROWS = [
    ("n", 0.1, "n"),
    ("min", 0.2, "min"),
    ("max", 0.3, "max"),
    ("mean", 0.4, "mean"),
    ("stddev", 0.5, "stddev"),
    ("25th percentile", 0.6, "q25"),
    ("50th percentile", 0.7, "q50"),
    ("75th percentile", 0.8, "q75"),
]

_NUMERIC = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,  # deviation: reference dtype-string match misses decimal
)

#: category rows sit at Index idx + rank·0.01, so a variable's 100th
#: category reaches the next variable's Index; warn from there (Q10)
INDEX_COLLISION_CATEGORIES = 100


@dataclass(frozen=True)
class TableOneConfig:
    """Engine knobs: the quartile semantics and two scale guards."""

    #: driver-collect guard on the one cell frame, and on the rows a
    #: small input brings to the driver to build it: at most this many
    #: rows, holding at most as many values (rows × projected columns)
    #: as this many 5-column cells (past either, the cells are built by
    #: the Spark job instead). Past it, the
    #: categorical and strat-count cells — Σ (category cardinality ×
    #: strat values) — must still stay under it (else ValueError), and
    #: the distinct (value × strat) cells of the continuous variables
    #: are summarized and ranked distributed instead of on the driver
    #: (the same counts and quartiles, moments to ~1e-12, a range
    #: shuffle and more Spark jobs).
    cat_cells_limit: int = 1_000_000
    #: output schema grows 2 columns per distinct strat value; fail fast
    #: beyond this rather than building a 100k-column table.
    strat_cardinality_limit: int = 1_000
    #: quartile semantics, exact in both modes and for every variable,
    #: from the distinct-value cells: "data" = an actual data value
    #: (quantile_disc — what the reference's exactness-tuned quantile
    #: sketch returns, :384-388); "interpolated" = linear
    #: interpolation (R type-7 / duckdb quantile_cont).
    quantile_mode: str = "data"


def tableone(
    df: DataFrame,
    col_to_strat: str = "",
    cols_to_analyze: list[str] | None = None,
    beautify: bool = False,
    p_values: bool = False,
    config: TableOneConfig | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Compute the "Table 1" descriptive-statistics summary.

    Same semantics as reference ``tableone_pyspark(...)`` (:20), with
    the documented fixes: unsupported dtypes warn-and-skip instead of
    NameError (:216, Q1), empty column list raises instead of
    IndexError (:76, Q2), numeric strat columns are cast to string so
    null→MISSING applies (Q11), unions are by-name (Q13), and strat
    values that would name two output columns alike (``x`` and ``x_%``,
    or a value such as ``Index``) raise ValueError instead of one
    column silently overwriting the other.

    Scale note: quartiles are exact at any input size. Their cost
    grows with the distinct values per group; past
    ``config.cat_cells_limit`` distinct (value × strat) cells they are
    ranked distributed instead of on the driver, by Python code on the
    executors (``mapInArrow``), which must be able to import this
    package.

    ``weight_col``: sample-weighted Table 1 (survey-weighted cohorts —
    an extension; the reference has no weights). Weights are FREQUENCY
    weights: every count becomes Σw, means/stddevs are the
    frequency-weight mean and sample variance Σw(x − mean)²/(Σw − 1),
    computed from the same distinct-value cells by the same code as the
    unweighted ones, category percents are
    Σw-fractions, quartiles honor ``quantile_mode`` and come from the
    distinct-value cells with their Σw, for every variable (the
    exact-quartile kernel of core/sufficient.py): the default
    ``"data"`` is exact weighted ``quantile_disc`` (min x with
    cumΣw ≥ p·Σw); ``"interpolated"`` blends at continuous index
    p·(Σw−1) of the weight-expanded multiset, exactly as the
    unweighted mode does. Hypothesis tests consume the weighted
    moments/counts (valid for frequency weights; probability-survey
    designs need design-effect corrections that are out of scope).
    Defined behavior: integer weights reproduce the unweighted table
    on a row-replicated frame exactly in BOTH quantile modes (pinned
    by test + oracle). Rows with null/non-positive weight are
    excluded; min/max describe the surviving rows. Count columns are
    typed double (Σw is fractional in general).
    """
    cfg = config or TableOneConfig()
    if not cols_to_analyze:
        raise ValueError("cols_to_analyze must name at least one column")
    missing_cols = [c for c in cols_to_analyze if c not in df.columns]
    if col_to_strat and col_to_strat not in df.columns:
        missing_cols.append(col_to_strat)
    if weight_col is not None:
        if weight_col not in df.columns:
            missing_cols.append(weight_col)
        elif not isinstance(df.schema[weight_col].dataType, _NUMERIC):
            raise ValueError(
                f"weight_col {weight_col!r} must be numeric, got "
                f"{df.schema[weight_col].dataType.simpleString()}"
            )
    if missing_cols:
        raise ValueError(f"columns not in DataFrame: {missing_cols}")

    if col_to_strat == "" and p_values:
        p_values = False
        warnings.warn(
            "p_values indicator overridden to False because no stratification variable",
            stacklevel=2,
        )

    # ---- dtype dispatch (reference :164-217) ----------------------------
    cat_vars: list[str] = []
    cont_vars: list[str] = []
    analyzed: list[tuple[str, str]] = []  # (col, kind) in caller order
    for c in cols_to_analyze:
        dt = df.schema[c].dataType
        if isinstance(dt, T.StringType):
            cat_vars.append(c)
            analyzed.append((c, "cat"))
        elif isinstance(dt, _NUMERIC):
            cont_vars.append(c)
            analyzed.append((c, "cont"))
        else:
            warnings.warn(
                f"Not supported column type {c}:{dt.simpleString()} — skipped",
                stacklevel=2,
            )

    if not analyzed:
        raise ValueError("no analyzable (string or numeric) columns given")

    suff = collect_sufficient(
        df,
        col_to_strat,
        cat_vars,
        cont_vars,
        strat_cardinality_limit=cfg.strat_cardinality_limit,
        quantile_mode=cfg.quantile_mode,
        cat_cells_limit=cfg.cat_cells_limit,
        weight_col=weight_col,
    )

    return _assemble(
        df.sparkSession,
        suff,
        col_to_strat,
        analyzed,
        beautify=beautify,
        p_values=p_values,
        weighted=weight_col is not None,
    )


# --------------------------------------------------------------------------
# output assembly (driver-side; operates on O(V·k) scalars only)
# --------------------------------------------------------------------------


def _assemble(
    spark: SparkSession,
    suff: Sufficient,
    col_to_strat: str,
    analyzed: list[tuple[str, str]],
    beautify: bool,
    p_values: bool,
    weighted: bool = False,
) -> DataFrame:
    stratified = col_to_strat != ""
    # pivot column order: Yes, No, <sorted>, MISSING (reference :100-115)
    strat_vals = order_strat_values(suff.strat_counts.keys()) if stratified else []
    count_cols = ["All_Patients"] + strat_vals
    # denominators for percents (reference :158 counts_dict)
    denom = {"All_Patients": suff.total, **suff.strat_counts}

    has_cont = any(k == "cont" for _, k in analyzed)
    # union type coercion in the reference makes the count columns
    # double as soon as any continuous stat row is stacked (:230/:382);
    # long when only categorical counts exist.
    # (weighted counts are Σw — double always)
    count_type = T.DoubleType() if (has_cont or weighted) else T.LongType()
    cast_count = _num if (has_cont or weighted) else (lambda x: x)

    schema = _schema(count_cols, count_type, p_values)
    _check_unique_columns(schema, strat_vals, col_to_strat)

    rows: list[dict] = []

    def blank_row() -> dict:
        r = dict.fromkeys(schema.names)
        r["Pivoted_column"] = col_to_strat
        return r

    # ---- total row (reference :76-137) ----------------------------------
    r = blank_row()
    r.update(Index=0.0, Characteristics="Total", Values="ALL", Variable_type=None)
    for c in count_cols:
        r[c] = cast_count(denom[c])
        r[c + "_%"] = 1.0
    rows.append(r)

    # ---- per-variable blocks --------------------------------------------
    idx = 0
    for col_i, kind in analyzed:
        idx += 1
        if kind == "cat":
            rows.extend(
                _cat_rows(
                    col_i, idx, suff, strat_vals, denom, col_to_strat,
                    p_values, cast_count,
                )
            )
        else:
            rows.extend(
                _cont_rows(col_i, idx, suff, strat_vals, col_to_strat, p_values)
            )

    if beautify:
        rows, schema = _beautify(rows, schema)
    # an Arrow table makes the plan a LocalTableScan: collecting it runs
    # no Spark job and starts no Python worker (a list of rows would be
    # an RDD-backed Scan ExistingRDD). No Arrow session config is needed.
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def _schema(count_cols: list[str], count_type, p_values: bool) -> T.StructType:
    fields = [
        T.StructField("Pivoted_column", T.StringType()),
        T.StructField("Index", T.DoubleType()),
        T.StructField("Characteristics", T.StringType()),
        T.StructField("Variable_type", T.StringType()),
        T.StructField("Values", T.StringType()),
    ]
    for c in count_cols:
        fields.append(T.StructField(c, count_type))
        fields.append(T.StructField(c + "_%", T.DoubleType()))
    if p_values:
        fields += [
            T.StructField("p_value", T.DoubleType()),
            T.StructField("test_value", T.DoubleType()),
            T.StructField("test_name", T.StringType()),
        ]
    return T.StructType(fields)


def _check_unique_columns(
    schema: T.StructType, strat_vals: list[str], col_to_strat: str
) -> None:
    """Sanitized strat values become column names (``v`` and ``v_%``),
    so ``x`` next to ``x_%``, or a value equal to a fixed column such as
    ``Index``, would name two columns alike and one would silently
    overwrite the other."""
    dup = sorted(n for n, k in Counter(schema.names).items() if k > 1)
    if dup:
        clashing = sorted(s for s in strat_vals if s in dup or s + "_%" in dup)
        raise ValueError(
            f"stratification values {clashing} of {col_to_strat!r} produce "
            f"duplicate output columns {dup}; recode them before calling tableone"
        )


def _cat_rows(
    col_i: str,
    idx: int,
    suff: Sufficient,
    strat_vals: list[str],
    denom: dict[str, int],
    col_to_strat: str,
    p_values: bool,
    cast_count,
) -> list[dict]:
    counts = suff.cat[col_i]  # (value, strat|None) -> count
    values = sorted(
        {v for (v, _s) in counts}, key=lambda v: (category_order_key(v), v)
    )
    if len(values) >= INDEX_COLLISION_CATEGORIES:
        warnings.warn(
            f"{col_i!r} has {len(values)} categories; Index encoding "
            f"collides with the next variable at ≥{INDEX_COLLISION_CATEGORIES} "
            "(reference :300)",
            stacklevel=3,
        )

    test = None
    if p_values:
        # chi-square over non-MISSING analysis values (reference :492-528)
        contingency = {
            (v, s): n for (v, s), n in counts.items() if v != MISSING and s is not None
        }
        name, p, stat = chi_square(contingency)
        test = {"p_value": p, "test_value": stat, "test_name": name}

    out = []
    for rank, v in enumerate(values, start=1):
        r = {
            "Pivoted_column": col_to_strat,
            # round: idx + rank*0.01 must equal the decimal literal
            # (1.01, 1.02, …) bit-for-bit for oracle comparison
            "Index": round(idx + rank * 0.01, 10),
            "Characteristics": col_i,
            "Variable_type": "category",
            "Values": v,
        }
        if strat_vals:
            per_strat = {s: counts.get((v, s), 0) for s in strat_vals}
            all_ct = sum(per_strat.values())
        else:
            per_strat = {}
            all_ct = counts.get((v, None), 0)
        r["All_Patients"] = cast_count(all_ct)
        r["All_Patients_%"] = all_ct / denom["All_Patients"] if denom["All_Patients"] else None
        for s in strat_vals:
            r[s] = cast_count(per_strat[s])
            r[s + "_%"] = per_strat[s] / denom[s] if denom[s] else None
        if p_values:
            # anchor = first category row, Index == idx + 0.01 (:522)
            anchored = test if rank == 1 else None
            r["p_value"] = anchored["p_value"] if anchored else None
            r["test_value"] = anchored["test_value"] if anchored else None
            r["test_name"] = anchored["test_name"] if anchored else None
        out.append(r)
    return out


def _cont_rows(
    col_i: str,
    idx: int,
    suff: Sufficient,
    strat_vals: list[str],
    col_to_strat: str,
    p_values: bool,
) -> list[dict]:
    stats = suff.cont[col_i]  # strat|None -> ContStat ; None == global
    glob = stats.get(None)

    test = None
    if p_values:
        # one moments entry per observed strat group, MISSING included
        # (reference :456-473, Q8); deterministic sorted group order
        # (deviation: reference uses pandas appearance order, which
        # flips the t sign arbitrarily — documented in hypothesis.py)
        groups = [
            GroupMoments(n=st.n, mean=st.mean, var=st.var)
            for s, st in sorted(stats.items(), key=lambda kv: str(kv[0]))
            if s is not None
        ]
        name, p, stat = continuous_test(groups)
        test = {"p_value": p, "test_value": stat, "test_name": name}

    out = []
    for label, offset, attr in CONT_ROWS:
        r = {
            "Pivoted_column": col_to_strat,
            "Index": round(idx + offset, 10),
            "Characteristics": col_i,
            "Variable_type": "continuous",
            "Values": label,
            "All_Patients": _num(getattr(glob, attr)) if glob else None,
            "All_Patients_%": None,
        }
        for s in strat_vals:
            st = stats.get(s)
            r[s] = _num(getattr(st, attr)) if st else None
            r[s + "_%"] = None
        if p_values:
            # anchor = the n row, Index == idx + 0.1 (:483)
            anchored = test if attr == "n" else None
            r["p_value"] = anchored["p_value"] if anchored else None
            r["test_value"] = anchored["test_value"] if anchored else None
            r["test_name"] = anchored["test_name"] if anchored else None
        out.append(r)
    return out


def _beautify(rows: list[dict], schema: T.StructType) -> tuple[list[dict], T.StructType]:
    """Reference :245-257: drop Pivoted_column/Variable_type, blank
    repeated Characteristics, "_"→" " on each group's first row."""
    first_of_group: dict[str, tuple] = {}
    for r in rows:
        key = r["Characteristics"]
        rank_key = (r["Index"], r["Values"] or "")
        if key not in first_of_group or rank_key < first_of_group[key]:
            first_of_group[key] = rank_key

    out_schema = T.StructType(
        [f for f in schema.fields if f.name not in ("Pivoted_column", "Variable_type")]
    )
    out_rows = []
    for r in rows:
        rr = {name: r[name] for name in out_schema.names}
        if first_of_group[r["Characteristics"]] == (r["Index"], r["Values"] or ""):
            rr["Characteristics"] = (r["Characteristics"] or "").replace("_", " ")
        else:
            rr["Characteristics"] = None
        out_rows.append(rr)
    return out_rows, out_schema
