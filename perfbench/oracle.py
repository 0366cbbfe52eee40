"""Output checks against DuckDB, run after every timed region.

The expected tables come from the project's own oracle generators in
``__spark_entry__.py`` (``tableone_oracle_sql`` and the nested
``_stream_t1_oracle``), evaluated by DuckDB over the same parquet files
the engine read. The generators round floats to 6 decimals; for batch
tables a ``noround`` macro replaces ``ROUND`` so counts and moments are
compared unrounded, to 1e-9 relative.

Quartiles must equal DuckDB's ``quantile_disc`` — except cells the engine
serves from its capped sketch (a near-unique column over more rows than
``exact_percentile_cap``), which are held to the sketch's documented rank
bound instead. p-values must lie in [0, 1] and equal ``core.hypothesis``
recomputed from DuckDB's per-group moments and counts.
"""

from __future__ import annotations

import math
import types

import duckdb
import numpy as np

import __spark_entry__ as entry
from tableone_pyspark_spark import TableOneConfig
from tableone_pyspark_spark.core.hypothesis import (
    GroupMoments,
    chi_square,
    continuous_test,
)
from tableone_pyspark_spark.core.sanitize import MISSING, sanitize_value

REL_TOL = 1e-9
P_REL_TOL = 1e-6
QUARTILES = {"25th percentile": 0.25, "50th percentile": 0.5, "75th percentile": 0.75}
#: the workloads call the engine with its default config
ENGINE = TableOneConfig()


def stream_oracle_sql() -> str:
    """``_stream_t1_oracle`` lives inside ``oracle_sql()``, whose other
    entries read fixture directories; rebuild just this closure-free
    nested function from its code object."""
    for const in entry.oracle_sql.__code__.co_consts:
        if isinstance(const, types.CodeType) and const.co_name == "_stream_t1_oracle":
            if const.co_freevars:
                raise RuntimeError("_stream_t1_oracle now captures variables")
            return types.FunctionType(const, vars(entry))()
    raise RuntimeError("_stream_t1_oracle not found in oracle_sql()")


def close(a, b, rel: float = REL_TOL) -> bool:
    if a is None or b is None:
        return a is None and b is None
    a, b = float(a), float(b)
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= rel * max(abs(a), abs(b), 1e-300) or a == b


class Oracle:
    """One DuckDB connection with the run's tables as views. Expected
    results are cached per view: a Table 1's rows for one variable do not
    depend on the other variables of the call (only its ``Index`` offset
    does), so each (strat, variable) is evaluated once per run."""

    def __init__(self, data_dir: str, tables: list[str]) -> None:
        self.con = duckdb.connect()
        self.con.execute("CREATE MACRO noround(x, d) AS x")
        self._cache: dict[tuple, object] = {}
        for t in tables:
            self.view(t, f"SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")

    def view(self, name: str, select: str) -> None:
        self.con.execute(f"CREATE OR REPLACE VIEW {name} AS {select}")
        self._cache.clear()

    def _cached(self, key: tuple, compute):
        if key not in self._cache:
            self._cache[key] = compute()
        return self._cache[key]

    def rows(self, sql: str) -> list[dict]:
        cur = self.con.execute(sql)
        names = [d[0] for d in cur.description]
        return [dict(zip(names, r)) for r in cur.fetchall()]

    # ---- batch Table 1 ---------------------------------------------------

    def expected_tableone(self, table: str, strat: str, cols: list[tuple[str, str]]):
        """(raw strat values, expected rows) for ``tableone(...)`` with
        data-mode quartiles, assembled from per-variable oracle tables."""
        raw_strats = self._cached(
            (table, strat),
            lambda: [r[0] for r in self.con.execute(
                f"SELECT DISTINCT {strat} FROM {table} ORDER BY 1").fetchall()],
        )
        rows: list[dict] = []
        for i, (col, kind) in enumerate(cols):
            part = self._cached(
                (table, strat, col),
                lambda: self.rows(
                    entry.tableone_oracle_sql(
                        table, strat, raw_strats, [(col, kind)],
                        quantile_fn="quantile_disc",
                    ).replace("ROUND(", "noround(")
                ),
            )
            if i == 0:
                rows.append(next(r for r in part if r["Index"] == 0.0))
            rows += [dict(r, Index=r["Index"] + i) for r in part if r["Index"] != 0.0]
        return raw_strats, rows

    def check_tableone(
        self,
        table: str,
        strat: str,
        cols: list[tuple[str, str]],
        got: list[dict],
        beautify: bool,
        p_values: bool,
    ) -> list[str]:
        """Mismatches between the engine's collected rows and DuckDB."""
        raw_strats, exp = self.expected_tableone(table, strat, cols)
        rename = {s: sanitize_value(s) for s in raw_strats}
        count_cols = ["All_Patients"] + [rename[s] for s in raw_strats]
        total = exp[0]["All_Patients"]
        errors: list[str] = []

        def key(r):
            return (round(r["Index"], 6), r["Values"])

        got_by = {key(r): r for r in got}
        if len(got_by) != len(got) or set(got_by) != {key(r) for r in exp}:
            return [f"row keys differ: {sorted(got_by)} vs {sorted(key(r) for r in exp)}"]
        first_of_group: dict[str, tuple] = {}
        for r in sorted(exp, key=key):
            first_of_group.setdefault(r["Characteristics"], key(r))
        for e in exp:
            g = got_by[key(e)]
            for raw, name in [("All_Patients", "All_Patients")] + list(rename.items()):
                for suffix in ("", "_%"):
                    ev, gv = e[raw + suffix], g.get(name + suffix)
                    if e["Values"] in QUARTILES and suffix == "":
                        if not self._quartile_ok(
                            table, strat, raw if raw != "All_Patients" else None,
                            e["Characteristics"], QUARTILES[e["Values"]], gv, ev, total,
                        ):
                            errors.append(f"{key(e)} {name}: {gv!r} vs {ev!r}")
                    elif not close(gv, ev):
                        errors.append(f"{key(e)} {name}{suffix}: {gv!r} vs {ev!r}")
            want_char = e["Characteristics"]
            if beautify:
                want_char = (
                    want_char.replace("_", " ")
                    if first_of_group[want_char] == key(e)
                    else None
                )
            if g["Characteristics"] != want_char:
                errors.append(f"{key(e)} Characteristics: {g['Characteristics']!r}")
        want_cols = {"Index", "Characteristics", "Values", *count_cols}
        want_cols |= {c + "_%" for c in count_cols}
        if not beautify:
            want_cols |= {"Pivoted_column", "Variable_type"}
        if p_values:
            want_cols |= {"p_value", "test_value", "test_name"}
        if set(got[0]) != want_cols:
            errors.append(f"columns {sorted(got[0])} vs {sorted(want_cols)}")
        if p_values:
            errors += self._check_pvalues(table, strat, cols, got_by, exp)
        return errors

    def _quartile_ok(self, table, strat, sval, col, p, got, exp, total) -> bool:
        if close(got, exp):
            return True
        # sketch-routed cell: allowed rank error n/accuracy (+1 for the
        # boundary rank), only where the engine uses the capped sketch
        accuracy = min(max(total + 1, 10_000), ENGINE.exact_percentile_cap)
        if got is None or total + 1 <= accuracy:
            return False
        distinct = self._cached(
            ("distinct", table, col),
            lambda: self.con.execute(f"SELECT count(DISTINCT {col}) FROM {table}").fetchone()[0],
        )
        if distinct <= ENGINE.lowcard_quartile_max // 2:
            return False
        where = f"{col} IS NOT NULL" + ("" if sval is None else f" AND {strat} = '{sval}'")
        xs = self._cached(
            ("sorted", table, strat, sval, col),
            lambda: np.sort(
                self.con.execute(f"SELECT {col} AS x FROM {table} WHERE {where}")
                .fetchnumpy()["x"].astype("float64")
            ),
        )
        n = len(xs)
        lo = int(np.searchsorted(xs, float(got), "left"))
        hi = int(np.searchsorted(xs, float(got), "right"))
        target = math.ceil(p * n)
        slack = math.ceil(n / accuracy) + 1
        return lo + 1 <= target + slack and hi >= target - slack

    def _expected_test(self, table: str, strat: str, name: str, kind: str):
        if kind == "cat":
            cnt = self.con.execute(
                f"SELECT {name}, {strat}, count(*) FROM {table} "
                f"WHERE {name} IS NOT NULL GROUP BY 1, 2"
            ).fetchall()
            return chi_square(
                {(v, sanitize_value(s)): c for v, s, c in cnt if v != MISSING}
            )
        grp = self.con.execute(
            f"SELECT {strat}, count({name}), avg({name}), var_samp({name}) "
            f"FROM {table} GROUP BY 1"
        ).fetchall()
        grp.sort(key=lambda r: sanitize_value(r[0]))
        return continuous_test([GroupMoments(n=r[1], mean=r[2], var=r[3]) for r in grp])

    def _check_pvalues(self, table, strat, cols, got_by, exp) -> list[str]:
        """The p-value triple sits on each variable's anchor row: its first
        category (Index x.01) or its ``n`` row."""
        kinds = dict(cols)
        anchors = {}
        for e in exp:
            name = e["Characteristics"]
            kind = kinds.get(name)  # None on the Total row
            first_cat = round(e["Index"] - math.floor(e["Index"]), 6) == 0.01
            if (kind == "cat" and first_cat) or (kind == "cont" and e["Values"] == "n"):
                anchors[name] = got_by[(round(e["Index"], 6), e["Values"])]
        errors = []
        for name, kind in cols:
            g = anchors[name]
            w_name, w_p, w_stat = self._cached(
                ("test", table, strat, name),
                lambda: self._expected_test(table, strat, name, kind),
            )
            p = g.get("p_value")
            in_range = p is not None and (0.0 <= p <= 1.0 or (math.isnan(p) and math.isnan(w_p)))
            if not in_range or g.get("test_name") != w_name or not (
                close(p, w_p, P_REL_TOL) and close(g.get("test_value"), w_stat, P_REL_TOL)
            ):
                errors.append(
                    f"{name} p-value: {(g.get('test_name'), p, g.get('test_value'))} "
                    f"vs {(w_name, w_p, w_stat)}"
                )
        return errors

    # ---- streaming Table 1 -------------------------------------------------

    def check_stream(self, got: list[tuple]) -> list[str]:
        """``got``: sink rows (window epoch s, strat, Index, Values, value,
        frac) in emission order; update mode re-emits a cell whenever it
        changes, so the last emission per cell is its final value."""
        final = {(r[0], r[1], round(r[2], 6)): r for r in got}
        exp = {
            (r["window_start_epoch"], r["event_type"], round(r["Index"], 6)): r
            for r in self.rows(stream_oracle_sql())
        }
        if set(final) != set(exp):
            return [f"cells differ: {len(final)} emitted vs {len(exp)} expected"]
        errors = []
        for k, e in exp.items():
            g = final[k]
            if g[3] != e["Values"] or not close(g[4], e["value"]) or not close(g[5], e["frac"]):
                errors.append(f"{k}: {g} vs {e}")
        return errors
