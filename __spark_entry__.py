"""Table 1 driver contract: twelve queries and their DuckDB oracles.

``entry(spark)`` runs the stratified Table 1 at sf0.001.
``queries()`` maps each of the twelve Table 1 queries (batch
``tableone`` in its modes, and ``streaming_tableone`` weighted and not)
to a ``(spark, sf_dir) -> DataFrame`` function; ``oracle_sql(sf_dir)``
gives, under the same names, DuckDB SQL over views of that directory's
parquet tables that must return the same rows.
``scripts/check_oracles.py`` and ``tests/test_entry_oracles.py`` run
both sides and compare them cell by cell. ``perfbench/oracle.py``
builds its expected tables from ``tableone_oracle_sql`` and the nested
``_stream_t1_oracle``.

Conventions for oracle comparability:
  * every float aggregate is ROUND(x, 6) on BOTH sides (Spark and
    DuckDB agree to ~1e-12; rounding removes last-ulp noise);
  * quartiles use interpolated semantics (DuckDB ``quantile_cont``);
    the engine's default mode ("data", exact ``quantile_disc``) is
    graded by ``tableone_strat_dataq``;
  * Index literals match bit-for-bit (engine rounds to 10 decimals,
    DuckDB casts exact decimals to double).
"""

from __future__ import annotations

import math
import os
import sys
import threading
from collections.abc import Callable
from contextlib import contextmanager
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tableone_pyspark_spark import TableOneConfig, tableone
from tableone_pyspark_spark.sources.testdata import load_table


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


#: serializes overlapping stream starts: the width scope mutates the
#: session-global spark.sql.shuffle.partitions, and this lock keeps two
#: stream starts from clobbering each other's restore
_STREAM_WIDTH_LOCK = threading.Lock()

#: target micro-batch input per state partition. Below ~256 KiB of
#: batch input, the fixed per-partition state-store cost per
#: micro-batch (open/commit/snapshot) dominates the partition's own
#: work.
_STREAM_BYTES_PER_PARTITION = 256 * 1024


@contextmanager
def _stream_width(spark: SparkSession, src_bytes: int | None = None):
    """Shuffle width for the streaming queries: one state partition per
    ~256 KiB of micro-batch source bytes, floored at 2 and capped at the
    session's shuffle width (8 when no size is known), so a tiny
    availableNow batch does not pay a state-store open per session
    partition. The state partition count is not observable in any
    result. SPARK_GRAFT_STREAM_SHUFFLE overrides it. Scoped to the
    streaming start so batch paths keep the session's width; the module
    lock serializes overlapping scopes."""
    import logging

    key = "spark.sql.shuffle.partitions"
    with _STREAM_WIDTH_LOCK:
        old = spark.conf.get(key)
        width = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE")
        if width is None:
            if src_bytes and src_bytes > 0:
                cap = int(old) if str(old).isdigit() else 200
                width = str(
                    max(2, min(cap, math.ceil(src_bytes / _STREAM_BYTES_PER_PARTITION)))
                )
            else:
                width = "8"
            logging.getLogger(__name__).info(
                "stream state width %s (src_bytes=%s, session width %s)",
                width, src_bytes, old,
            )
        spark.conf.set(key, width)
        try:
            yield
        finally:
            spark.conf.set(key, old)


def _src_file_bytes(path: str) -> int:
    """Size of a stream's source file, 0 when absent (the micro-batch
    volume hint for _stream_width)."""
    return os.path.getsize(path) if os.path.isfile(path) else 0


def _round6(df: DataFrame) -> DataFrame:
    """Round every double column except Index to 6 decimals."""
    return df.select(
        *[
            F.round(F.col(f"`{c}`"), 6).alias(c) if t == "double" and c != "Index" else F.col(f"`{c}`")
            for c, t in df.dtypes
        ]
    )


_INTERP = TableOneConfig(quantile_mode="interpolated")


def _tableone_q(table: str, strat: str, cols: list[str], config=_INTERP, **kw):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _load(spark, sf_dir, table)
        return _round6(
            tableone(df, col_to_strat=strat, cols_to_analyze=cols, config=config, **kw)
        )

    return run


# ---------------------------------------------------------------------------
# DuckDB oracle SQL generator for the full TableOne output
# ---------------------------------------------------------------------------

_CONT_STATS = [
    # (Values label, Index offset ×10, SQL aggregate template; {f} is
    # the FILTER clause — it must sit on the aggregate, inside any CAST)
    ("n", 1, "CAST(count({c}){f} AS DOUBLE)"),
    ("min", 2, "CAST(min({c}){f} AS DOUBLE)"),
    ("max", 3, "CAST(max({c}){f} AS DOUBLE)"),
    ("mean", 4, "avg({c}){f}"),
    ("stddev", 5, "stddev_samp({c}){f}"),
    ("25th percentile", 6, "quantile_cont({c}, 0.25){f}"),
    ("50th percentile", 7, "quantile_cont({c}, 0.50){f}"),
    ("75th percentile", 8, "quantile_cont({c}, 0.75){f}"),
]

_ORDER_KEY = (
    "CASE WHEN val = 'Yes' THEN 1 WHEN val = 'No' THEN 2 "
    "WHEN val = 'MISSING' THEN 6 "
    "WHEN regexp_matches(lower(val), 'missing|unknown|other') THEN 5 ELSE 3 END"
)


def _weighted_stat_sql(
    si: int, col: str, w: str, strat: str, sval: str | None, src: str
) -> str:
    """DuckDB SQL for one weighted continuous stat (frequency-weight
    semantics, mirrors core/sufficient.py): weighted n = Σw over
    non-null values, mean = Σwx/Σw, sample variance with (Σw − 1)
    denominator, quartiles = weighted quantile_disc via an uncorrelated
    running-Σw scalar subquery (RANGE window frame ties match Spark)."""
    sc = "" if sval is None else f" AND {strat} = '{sval}'"
    f = "" if sval is None else f" FILTER (WHERE {strat} = '{sval}')"
    wn = f"CAST(sum({w}) FILTER (WHERE {col} IS NOT NULL{sc}) AS DOUBLE)"
    if si == 0:
        return wn
    if si == 1:
        return f"CAST(min({col}){f} AS DOUBLE)"
    if si == 2:
        return f"CAST(max({col}){f} AS DOUBLE)"
    swx = f"sum({w} * {col}){f}"
    if si == 3:
        return f"({swx} / {wn})"
    if si == 4:
        swxx = f"sum({w} * {col} * {col}){f}"
        # GREATEST(...,0): float cancellation on a near-constant column
        # can drive the variance a sliver negative; DuckDB's sqrt raises
        # on negatives while the engine clamps to 0.0 — mirror the clamp
        return f"sqrt(GREATEST(({swxx} - {swx} * {swx} / {wn}) / ({wn} - 1), 0))"
    p = {5: "0.25", 6: "0.5", 7: "0.75"}[si]
    return (
        f"(SELECT min(x) FROM (SELECT {col} AS x, "
        f"sum({w}) OVER (ORDER BY {col}) AS cw, sum({w}) OVER () AS tw "
        f"FROM {src} WHERE {col} IS NOT NULL{sc}) WHERE cw >= {p} * tw)"
    )


def tableone_oracle_sql(
    table: str,
    strat: str,
    strat_vals: list[str],
    cols: list[tuple[str, str]],
    pv: dict[str, tuple[float, float, str]] | None = None,
    quantile_fn: str = "quantile_cont",
    weight: str | None = None,
) -> str:
    """DuckDB SQL reproducing ``tableone(...)`` (interpolated quartiles,
    floats rounded to 6) for a table whose strat column has no nulls and
    already-clean values (true for the TPC-H-ish testdata).

    ``quantile_fn="quantile_disc"`` pins the engine's DEFAULT
    ``quantile_mode="data"`` semantics instead: an actual data value,
    DuckDB's ``quantile_disc`` exactly (what the reference's
    exactness-tuned ``percentile_approx`` returns, tableone_pyspark.py
    :384-388).

    ``cols`` = [(name, 'cat'|'cont'), ...] in call order. ``pv`` maps a
    column to its precomputed (p_value, test_value, test_name) fixture
    (see :func:`_pvalues_fixture`); when given, the three p-value
    columns are emitted — values on each variable's anchor row (the
    x.01 category row / the x.1 "n" row), NULL elsewhere, matching the
    engine's literal-anchor attach.
    """
    count_cols = ["All_Patients"] + strat_vals

    def pv_cols(col: str | None, anchored: str = "TRUE") -> str:
        """The three p-value columns for one SELECT part."""
        if pv is None:
            return ""
        if col is None or col not in pv:
            return (
                ', CAST(NULL AS DOUBLE) AS "p_value", '
                'CAST(NULL AS DOUBLE) AS "test_value", '
                'CAST(NULL AS VARCHAR) AS "test_name"'
            )
        p, t, name = pv[col]

        def dlit(x: float) -> str:
            # full-precision literal, rounded BY DUCKDB so the rounding
            # rule matches every other ROUND(x, 6) comparison
            if x != x:
                return "CAST('NaN' AS DOUBLE)"
            return f"ROUND(CAST({x!r} AS DOUBLE), 6)"

        return (
            f', CASE WHEN {anchored} THEN {dlit(p)} END AS "p_value"'
            f', CASE WHEN {anchored} THEN {dlit(t)} END AS "test_value"'
            f", CASE WHEN {anchored} THEN '{name}' END AS \"test_name\""
        )

    def flt(v: str | None) -> str:
        return "" if v is None else f" FILTER (WHERE {strat} = '{v}')"

    def group_of(c: str) -> str | None:
        return None if c == "All_Patients" else c

    # weighted mode reads from the w-filtered source everywhere and
    # swaps count(*) -> sum(w) (frequency weights; engine parity)
    src = (
        f"(SELECT * FROM {table} WHERE {weight} IS NOT NULL AND {weight} > 0)"
        if weight
        else table
    )
    ct_agg = f"sum({weight})" if weight else "count(*)"

    # denominators
    d_fields = ", ".join(
        f"{ct_agg}{flt(group_of(c))} AS d_{i}" for i, c in enumerate(count_cols)
    )
    sql = [f"WITH d AS (SELECT {d_fields} FROM {src})"]

    def sel(pieces: list[str]) -> str:
        return ", ".join(pieces)

    header = [
        f"'{strat}' AS \"Pivoted_column\"",
    ]

    parts: list[str] = []
    # ---- total row ------------------------------------------------------
    total_counts = []
    for i, c in enumerate(count_cols):
        total_counts.append(f'ROUND(CAST(d_{i} AS DOUBLE), 6) AS "{c}"')
        total_counts.append(f'1.0::DOUBLE AS "{c}_%"')
    parts.append(
        f"SELECT {sel(header)}, CAST(0 AS DOUBLE) AS \"Index\", "
        f"'Total' AS \"Characteristics\", CAST(NULL AS VARCHAR) AS \"Variable_type\", "
        f"'ALL' AS \"Values\", {sel(total_counts)}{pv_cols(None)} FROM d"
    )

    idx = 0
    for col, kind in cols:
        idx += 1
        if kind == "cat":
            g_fields = [f"coalesce({col}, 'MISSING') AS val"]
            for i, c in enumerate(count_cols):
                # weighted: sum(w) FILTER over an EMPTY stratum×category
                # cell is NULL, but the engine emits 0.0 (counts.get
                # default) — coalesce to keep the oracle cell-exact on
                # sparse data (count(*) FILTER already yields 0)
                cell = f"{ct_agg}{flt(group_of(c))}"
                if weight:
                    cell = f"COALESCE({cell}, 0)"
                g_fields.append(f"{cell} AS ct_{i}")
            counts = []
            for i, c in enumerate(count_cols):
                counts.append(f'ROUND(CAST(ct_{i} AS DOUBLE), 6) AS "{c}"')
                counts.append(f'ROUND(CAST(ct_{i} AS DOUBLE) / d_{i}, 6) AS "{c}_%"')
            anchor = f"row_number() OVER (ORDER BY {_ORDER_KEY}, val) = 1"
            parts.append(
                f"SELECT {sel(header)}, "
                f"CAST({idx} + 0.01 * row_number() OVER (ORDER BY {_ORDER_KEY}, val) AS DOUBLE) AS \"Index\", "
                f"'{col}' AS \"Characteristics\", 'category' AS \"Variable_type\", "
                f'val AS "Values", {sel(counts)}{pv_cols(col, anchor)} '
                f"FROM (SELECT {sel(g_fields)} FROM {src} GROUP BY 1) CROSS JOIN d"
            )
        else:
            s_fields = []
            for si, (_label, _off, tmpl) in enumerate(_CONT_STATS):
                tmpl = tmpl.replace("quantile_cont", quantile_fn)
                for i, c in enumerate(count_cols):
                    if weight:
                        expr = _weighted_stat_sql(
                            si, col, weight, strat, group_of(c), src
                        )
                    else:
                        expr = tmpl.format(c=col, f=flt(group_of(c)))
                    s_fields.append(expr + f" AS s_{si}_{i}")
            stat_src = f"(SELECT {sel(s_fields)} FROM {src})"
            for si, (label, off, _tmpl) in enumerate(_CONT_STATS):
                vals = []
                for i, c in enumerate(count_cols):
                    vals.append(f'ROUND(CAST(s_{si}_{i} AS DOUBLE), 6) AS "{c}"')
                    vals.append(f'CAST(NULL AS DOUBLE) AS "{c}_%"')
                parts.append(
                    f"SELECT {sel(header)}, CAST({idx}.{off} AS DOUBLE) AS \"Index\", "
                    f"'{col}' AS \"Characteristics\", 'continuous' AS \"Variable_type\", "
                    f"'{label}' AS \"Values\", {sel(vals)}"
                    f"{pv_cols(col, 'TRUE') if off == 1 else pv_cols(None)} FROM {stat_src}"
                )

    return sql[0] + "\n" + "\nUNION ALL\n".join(parts)


def _unstrat_oracle(table: str, cols: list[tuple[str, str]]) -> str:
    sql = tableone_oracle_sql(table, "__none__", [], cols)
    return sql.replace("'__none__' AS \"Pivoted_column\"", "'' AS \"Pivoted_column\"")


def _pvalues_fixture(sf_dir: str) -> dict[str, tuple[float, float, str]]:
    """(p_value, test_value, test_name) per analyzed column of the
    tableone_pvalues query, computed INDEPENDENTLY of Spark: sufficient
    statistics come from DuckDB over ``sf_dir``'s lineitem parquet (the
    one the query reads), tail probabilities from the package's own
    scipy-free ``core.special`` (pinned against published tables in
    tests/test_special.py). This closes the oracle loop on the p-value
    attach path — the one piece plain SQL cannot express."""
    import duckdb

    from tableone_pyspark_spark.core.hypothesis import (
        GroupMoments,
        chi_square,
        continuous_test,
    )

    con = duckdb.connect()
    li = f"read_parquet('{sf_dir}/lineitem.parquet')"
    out: dict[str, tuple[float, float, str]] = {}
    cnt = con.execute(
        f"SELECT l_linestatus, l_returnflag, count(*) FROM {li} GROUP BY 1, 2"
    ).fetchall()
    name, p, stat = chi_square({(r[0], r[1]): r[2] for r in cnt})
    out["l_linestatus"] = (p, stat, name)
    for col in ("l_quantity", "l_extendedprice"):
        g = con.execute(
            f"SELECT l_returnflag, count({col}), avg({col}), var_samp({col}) "
            f"FROM {li} GROUP BY 1 ORDER BY 1"
        ).fetchall()
        name, p, stat = continuous_test(
            [GroupMoments(n=r[1], mean=r[2], var=r[3]) for r in g]
        )
        out[col] = (p, stat, name)
    return out


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return queries()["tableone_strat"](spark, "/root/testdata/sf0.001")


def _stream_tableone_q(sink: str, weighted: bool):
    """``streaming_tableone`` over the events table in 1-day windows by
    event_type (seg = user_id % 3 as a declared categorical), drained
    once with availableNow into a memory sink. Weighted: w = user_id % 4
    + 1 as a frequency weight (quartiles are refused with weights);
    unweighted: quartiles from the mergeable sketch, exact at this
    size."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from tableone_pyspark_spark.sources.testdata import events_stream
        from tableone_pyspark_spark.streaming.stream_stats import streaming_tableone

        stream = events_stream(spark, sf_dir).select(
            "ts", "event_type", "user_id", "value"
        ).withColumn("seg", (F.col("user_id") % 3).cast("string"))
        if weighted:
            stream = stream.withColumn("w", (F.col("user_id") % 4 + 1).cast("double"))
        out = streaming_tableone(
            stream,
            "event_type",
            cont_vars=["value"],
            cat_vars={"seg": ["0", "1", "2"]},
            window="1 day",
            **({"weight_col": "w"} if weighted else {"quartiles": True}),
        )
        with _stream_width(spark, _src_file_bytes(f"{sf_dir}/events.parquet")):
            query = (
                out.writeStream.format("memory")
                .queryName(sink)
                .outputMode("complete")
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()
        return spark.table(sink).select(
            F.col("window_start").cast("long").alias("window_start_epoch"),
            "event_type",
            "Index",
            "Characteristics",
            "Variable_type",
            "Values",
            F.round("value", 6).alias("value"),
            "frac",
        )

    return run


def _weighted_quantiles_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated weighted quartiles only: the engine blends at index
    p·(Σw−1) of the weight-expanded multiset, and the oracle expands the
    rows by weight and asks DuckDB's own ``quantile_cont``."""
    out = tableone(
        _load(spark, sf_dir, "lineitem"),
        col_to_strat="l_returnflag",
        cols_to_analyze=["l_extendedprice", "l_discount"],
        weight_col="l_quantity",
        config=_INTERP,
    )
    return out.where(
        F.col("Values").isin("25th percentile", "50th percentile", "75th percentile")
    ).select(
        "Index",
        "Values",
        *[F.round(c, 6).alias(c) for c in ("All_Patients", "A", "N", "R")],
    )


def _tableone_joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table 1 over lineitem ⋈ orders ⋈ customer."""
    from tableone_pyspark_spark.operators.relational import analysis_table

    at = analysis_table(
        _load(spark, sf_dir, "lineitem"),
        _load(spark, sf_dir, "orders"),
        _load(spark, sf_dir, "customer"),
    )
    return _round6(
        tableone(
            at,
            col_to_strat="o_orderstatus",
            cols_to_analyze=["c_mktsegment", "l_quantity", "o_totalprice"],
            config=_INTERP,
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    strat_cols = ["l_linestatus", "l_quantity", "l_extendedprice", "l_discount"]
    return {
        "tableone_unstrat": _tableone_q(
            "lineitem",
            "",
            ["l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount"],
        ),
        "tableone_strat": _tableone_q("lineitem", "l_returnflag", strat_cols),
        "tableone_orders": _tableone_q(
            "orders", "o_orderstatus", ["o_orderpriority", "o_totalprice"]
        ),
        # l_quantity as a frequency weight: integral-valued, so every Σw
        # is exact in double; quartiles are exact weighted quantile_disc
        "tableone_weighted": _tableone_q(
            "lineitem",
            "l_returnflag",
            ["l_linestatus", "l_extendedprice", "l_discount"],
            config=TableOneConfig(quantile_mode="data"),
            weight_col="l_quantity",
        ),
        "weighted_quantiles_cont": _weighted_quantiles_cont,
        # the engine's default quartile mode, graded as exact quantile_disc
        "tableone_strat_dataq": _tableone_q(
            "customer",
            "c_mktsegment",
            ["c_nationkey", "c_acctbal"],
            config=TableOneConfig(),
        ),
        # p-values are graded against core.hypothesis fed with DuckDB's
        # per-group moments (see _pvalues_fixture)
        "tableone_pvalues": _tableone_q(
            "lineitem",
            "l_returnflag",
            ["l_linestatus", "l_quantity", "l_extendedprice"],
            p_values=True,
        ),
        "tableone_supplier": _tableone_q("supplier", "", ["s_name", "s_acctbal"]),
        "tableone_beautify": _tableone_q(
            "lineitem", "l_returnflag", strat_cols, beautify=True
        ),
        "tableone_joined": _tableone_joined,
        "stream_tableone": _stream_tableone_q("stream_tableone_sink", weighted=False),
        "stream_tableone_weighted": _stream_tableone_q(
            "stream_tableone_w_sink", weighted=True
        ),
    }


def oracle_sql(sf_dir: str = "/root/testdata/sf0.01") -> dict[str, str]:
    """DuckDB SQL per query name, over views named after the parquet
    tables. ``sf_dir`` is read only by the ``tableone_pvalues`` fixture
    (its p-values are computed ahead of the SQL); without the lineitem
    parquet there that entry is left out and the query is checked for
    rows only."""
    import duckdb

    o: dict[str, str] = {}
    mixed = [
        ("l_returnflag", "cat"),
        ("l_linestatus", "cat"),
        ("l_quantity", "cont"),
        ("l_extendedprice", "cont"),
        ("l_discount", "cont"),
    ]
    strat_cols = [
        ("l_linestatus", "cat"),
        ("l_quantity", "cont"),
        ("l_extendedprice", "cont"),
        ("l_discount", "cont"),
    ]
    o["tableone_unstrat"] = _unstrat_oracle("lineitem", mixed)
    o["tableone_weighted"] = tableone_oracle_sql(
        "lineitem",
        "l_returnflag",
        ["A", "N", "R"],
        [
            ("l_linestatus", "cat"),
            ("l_extendedprice", "cont"),
            ("l_discount", "cont"),
        ],
        weight="l_quantity",
    )

    # interpolated weighted quartiles: the oracle EXPANDS each row by
    # its integral weight (unnest(range(w)) fans a row out w times) and
    # uses DuckDB's own quantile_cont on the expanded multiset — an
    # independent implementation of linear interpolation, so agreement
    # is evidence of semantics, not shared arithmetic
    wq_parts = []
    for vi, col in ((1, "l_extendedprice"), (2, "l_discount")):
        for off, p, lbl in (
            (6, 0.25, "25th percentile"),
            (7, 0.5, "50th percentile"),
            (8, 0.75, "75th percentile"),
        ):
            by_strat = ", ".join(
                f"ROUND(quantile_cont({col}, {p}) "
                f"FILTER (WHERE s = '{sv}'), 6) AS \"{sv}\""
                for sv in ("A", "N", "R")
            )
            wq_parts.append(
                f'SELECT CAST({vi}.{off} AS DOUBLE) AS "Index", '
                f"'{lbl}' AS \"Values\", "
                f'ROUND(quantile_cont({col}, {p}), 6) AS "All_Patients", '
                f"{by_strat} FROM exp"
            )
    o["weighted_quantiles_cont"] = (
        "WITH exp AS (SELECT l_returnflag AS s, l_extendedprice, "
        "l_discount, unnest(range(CAST(l_quantity AS BIGINT))) "
        "FROM lineitem WHERE l_quantity >= 1) "
        + " UNION ALL ".join(wq_parts)
    )

    o["tableone_strat"] = tableone_oracle_sql(
        "lineitem", "l_returnflag", ["A", "N", "R"], strat_cols
    )
    o["tableone_strat_dataq"] = tableone_oracle_sql(
        "customer",
        "c_mktsegment",
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
        [
            ("c_nationkey", "cont"),
            ("c_acctbal", "cont"),
        ],
        quantile_fn="quantile_disc",
    )
    o["tableone_orders"] = tableone_oracle_sql(
        "orders",
        "o_orderstatus",
        ["F", "O", "P"],
        [("o_orderpriority", "cat"), ("o_totalprice", "cont")],
    )
    try:
        o["tableone_pvalues"] = tableone_oracle_sql(
            "lineitem",
            "l_returnflag",
            ["A", "N", "R"],
            strat_cols[:3],
            pv=_pvalues_fixture(sf_dir),
        )
    except duckdb.IOException:
        pass  # no lineitem parquet under sf_dir: rows-only check
    o["tableone_supplier"] = _unstrat_oracle(
        "supplier", [("s_name", "cat"), ("s_acctbal", "cont")]
    )
    o["tableone_joined"] = tableone_oracle_sql(
        "(SELECT c_mktsegment, l_quantity, o_totalprice, o_orderstatus "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey) jt",
        "o_orderstatus",
        ["F", "O", "P"],
        [("c_mktsegment", "cat"), ("l_quantity", "cont"), ("o_totalprice", "cont")],
    )
    # beautify (reference :245-257): drop Pivoted_column/Variable_type,
    # blank repeated Characteristics, "_"→" " on each group's first row
    o["tableone_beautify"] = (
        "WITH base AS (" + o["tableone_strat"] + "), "
        'r AS (SELECT *, row_number() OVER (PARTITION BY "Characteristics" '
        'ORDER BY "Index", "Values") AS rn FROM base) '
        'SELECT "Index", CASE WHEN rn = 1 THEN replace("Characteristics", \'_\', \' \') '
        'END AS "Characteristics", "Values", '
        + ", ".join(
            f'"{c}", "{c}_%"' for c in ["All_Patients", "A", "N", "R"]
        )
        + " FROM r"
    )

    # streaming TableOne: batch SQL twin of the one-agg long table
    # (1-day windows x event_type; seg = user_id % 3 declared cats)
    def _stream_t1_oracle() -> str:
        base = (
            "WITH b AS (SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) "
            "* 86400 AS w, event_type, "
            "CAST(user_id % 3 AS VARCHAR) AS seg, "
            "CAST(value AS DOUBLE) AS v FROM events), "
            "g AS (SELECT w, event_type, count(*) AS rws, "
            "count(v) AS n0, min(v) AS mn0, max(v) AS mx0, "
            "avg(v) AS me0, stddev_samp(v) AS sd0, "
            "quantile_disc(v, 0.25) AS q25, quantile_disc(v, 0.5) AS q50, "
            "quantile_disc(v, 0.75) AS q75, "
            + ", ".join(
                f"count(*) FILTER (WHERE seg = '{s}') AS c0{k}"
                for k, s in enumerate("012")
            )
            + " FROM b GROUP BY 1, 2)"
        )
        parts = []
        for k, s in enumerate("012"):
            parts.append(
                f"SELECT w AS window_start_epoch, event_type, "
                f'CAST({round(1 + 0.01 * (k + 1), 2)!r} AS DOUBLE) AS "Index", '
                f"'seg' AS \"Characteristics\", 'category' AS \"Variable_type\", "
                f"'{s}' AS \"Values\", CAST(c0{k} AS DOUBLE) AS value, "
                f"CASE WHEN rws > 0 THEN ROUND(CAST(c0{k} AS DOUBLE) / rws, 6) "
                f"END AS frac FROM g"
            )
        cont = [
            ("n", 2.1, "CAST(n0 AS DOUBLE)"),
            ("min", 2.2, "ROUND(mn0, 6)"),
            ("max", 2.3, "ROUND(mx0, 6)"),
            ("mean", 2.4, "CASE WHEN n0 > 0 THEN ROUND(me0, 6) END"),
            ("stddev", 2.5, "CASE WHEN n0 > 1 THEN ROUND(sd0, 6) END"),
            ("25th percentile", 2.6, "ROUND(q25, 6)"),
            ("50th percentile", 2.7, "ROUND(q50, 6)"),
            ("75th percentile", 2.8, "ROUND(q75, 6)"),
        ]
        for label, idx, expr in cont:
            parts.append(
                f"SELECT w AS window_start_epoch, event_type, "
                f'CAST({idx!r} AS DOUBLE) AS "Index", '
                f"'value' AS \"Characteristics\", "
                f"'continuous' AS \"Variable_type\", '{label}' AS \"Values\", "
                f'CAST({expr} AS DOUBLE) AS value, '
                f'CAST(NULL AS DOUBLE) AS frac FROM g'
            )
        return base + " " + " UNION ALL ".join(parts)

    o["stream_tableone"] = _stream_t1_oracle()

    def _stream_t1_weighted_oracle() -> str:
        # frequency-weighted twin: counts -> Σw (integral, exact in
        # double), moments from Σwv/Σwv² with the (Σw−1) variance; no
        # quartile rows (refused with weights)
        base = (
            "WITH b AS (SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) "
            "* 86400 AS w, event_type, "
            "CAST(user_id % 3 AS VARCHAR) AS seg, "
            "CAST(value AS DOUBLE) AS v, "
            "CAST(user_id % 4 + 1 AS DOUBLE) AS wt FROM events), "
            "g AS (SELECT w, event_type, sum(wt) AS rws, "
            "sum(wt) FILTER (WHERE v IS NOT NULL) AS n0, "
            "min(v) AS mn0, max(v) AS mx0, "
            "sum(wt * v) AS s1, sum(wt * v * v) AS s2, "
            + ", ".join(
                f"sum(wt) FILTER (WHERE seg = '{s}') AS c0{k}"
                for k, s in enumerate("012")
            )
            + " FROM b GROUP BY 1, 2)"
        )
        parts = []
        for k, s in enumerate("012"):
            parts.append(
                f"SELECT w AS window_start_epoch, event_type, "
                f'CAST({round(1 + 0.01 * (k + 1), 2)!r} AS DOUBLE) AS "Index", '
                f"'seg' AS \"Characteristics\", 'category' AS \"Variable_type\", "
                f"'{s}' AS \"Values\", "
                f"ROUND(CAST(COALESCE(c0{k}, 0) AS DOUBLE), 6) AS value, "
                f"CASE WHEN rws > 0 THEN "
                f"ROUND(CAST(COALESCE(c0{k}, 0) AS DOUBLE) / rws, 6) "
                f"END AS frac FROM g"
            )
        cont = [
            ("n", 2.1, "CAST(n0 AS DOUBLE)"),
            ("min", 2.2, "ROUND(mn0, 6)"),
            ("max", 2.3, "ROUND(mx0, 6)"),
            ("mean", 2.4, "CASE WHEN n0 > 0 THEN ROUND(s1 / n0, 6) END"),
            (
                "stddev", 2.5,
                # negative-sliver clamp mirrors the engine (see
                # _weighted_stat_sql): DuckDB sqrt raises on negatives
                "CASE WHEN n0 > 1 THEN "
                "ROUND(sqrt(GREATEST((s2 - s1 * s1 / n0) / (n0 - 1), 0)), 6) END",
            ),
        ]
        for label, idx, expr in cont:
            parts.append(
                f"SELECT w AS window_start_epoch, event_type, "
                f'CAST({idx!r} AS DOUBLE) AS "Index", '
                f"'value' AS \"Characteristics\", "
                f"'continuous' AS \"Variable_type\", '{label}' AS \"Values\", "
                f'CAST({expr} AS DOUBLE) AS value, '
                f'CAST(NULL AS DOUBLE) AS frac FROM g'
            )
        return base + " " + " UNION ALL ".join(parts)

    o["stream_tableone_weighted"] = _stream_t1_weighted_oracle()

    return o
