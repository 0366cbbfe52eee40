"""Single-pass sufficient-statistics collection for TableOne.

The whole engine runs two phases of CONCURRENT bounded Spark actions,
independent of the number of analyzed variables (the reference runs
~16 scans *per continuous variable*, tableone_pyspark.py:325-437, plus
a full-column ``toPandas`` per p-value, :453/:500). Each action below
scans the input once; under AQE every shuffle map stage runs as a job
of its own, so an action is one Spark job per shuffle plus one for its
result. Measured from the Spark event log on the ``perfbench``
``cohort_wide`` call (stratified, 6-8 variables, three of them
near-unique): 13 jobs and 6 input-scanning stages per call.

  phase 1 (all concurrent)
    counts   strat-group row counts (or plain ``count()``) — scans
             only the strat column (parquet column pruning).
    moments  ONE ``rollup(strat)`` computing, for EVERY continuous
             variable at once: count, min, max, avg, stddev_samp,
             var_samp. The rollup's grand-total row is the
             "All_Patients" column; per-strat rows are the pivot.
    cats     ONE melted count for EVERY categorical variable at once:
             ``stack`` into (var, value) pairs, then
             ``groupBy(var, value[, strat]).count()``. Map-side
             partial aggregation collapses the melt immediately, so
             the shuffle carries only Σ cardinality × strat rows.
    probe    one global HLL pass: approximate distinct count per
             continuous var — the quartile-route selector. Unweighted
             "data" mode only; otherwise every variable goes straight
             to ``exact`` in this phase.
  phase 2 (unweighted "data" mode, routed by the probe, concurrent)
    sketch   vars with distinct > lowcard_quartile_max: the
             exactness-tuned capped ``percentile_approx`` aggregate
             (one global and, when stratified, one per-strat action) —
             the bounded-memory path near-unique columns need.
    exact    vars with distinct ≤ lowcard_quartile_max: exact
             ``quantile_disc`` from distinct-value cells (below).

Exact quartiles have ONE implementation. Melt the variables and
compress to the distinct (var, value[, strat]) cells with their Σw (a
count when unweighted) — one shuffle, map-side combined, carrying
distinct values, not rows. The cells (at most ``cat_cells_limit``) are
collected as Arrow and ranked on the driver by :func:`_quartiles`:
``quantile_disc`` in "data" mode, the DuckDB ``quantile_cont`` blend in
"interpolated" mode. A stratified run's global group is the
concatenation of its per-strat cells, so nothing is rescanned. Past
``cat_cells_limit`` the same selection runs distributed (``run_wq``:
range-bucketed window running sums). Memory is O(distinct values per
group).

Only aggregated scalars and bounded cell frames reach the driver. The
collected sizes are O(V·k) and O(Σ cardinalities · k) — independent of
row count, so the same plan runs at 100 TB. Independent jobs are
submitted concurrently (threads; Spark schedules them into the shared
cluster).

Weighted mode (``weight_col``): weights are FREQUENCY weights — the
results are defined to equal the unweighted results on a row-replicated
frame (exactly true for integer weights; pinned by test). Rows with
null/non-positive weight are excluded everywhere. The same bounded
jobs collect Σw / Σwx / Σwx² instead of counts, and the exact-quartile
cells carry Σw: "data" mode is ``min(x WHERE cumΣw >= p·Σw)`` — the
weighted generalization of ``quantile_disc`` (reduces to it at w=1).
"""

from __future__ import annotations

import math
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from tableone_pyspark_spark.core.sanitize import MISSING, clean_strat_col

#: internal strat column name — namespaced to avoid user-column clashes
STRAT = "__t1_strat__"
#: internal weight column name (weighted mode only)
WEIGHT = "__t1_w__"
#: global-cell marker in run_wq's cell frame (joins drop NULL keys;
#: windows don't)
SENTINEL = "\x00__t1_all__"
QUARTILES = (0.25, 0.5, 0.75)


@dataclass(frozen=True)
class ContStat:
    """All sufficient statistics for one (variable, group) cell."""

    n: int
    min: object
    max: object
    mean: float | None
    stddev: float | None
    var: float | None
    q25: object
    q50: object
    q75: object


@dataclass
class Sufficient:
    """Everything TableOne needs, collected by the two phases of
    bounded actions described in the module docstring."""

    total: int
    strat_counts: dict[str, int] = field(default_factory=dict)  # cleaned value -> rows
    # cont[var][strat_value] ; strat_value None == global / All_Patients
    cont: dict[str, dict[str | None, ContStat]] = field(default_factory=dict)
    # cat[var][(value, strat_value)] -> count ; strat_value None when unstratified
    cat: dict[str, dict[tuple[str, str | None], int]] = field(default_factory=dict)


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _sql_str(name: str) -> str:
    return "'" + name.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _row_to_stats(row, i: int, q: tuple) -> ContStat:
    return ContStat(
        n=row[f"n__{i}"] or 0,
        min=row[f"mn__{i}"],
        max=row[f"mx__{i}"],
        mean=row[f"av__{i}"],
        stddev=row[f"sd__{i}"],
        var=row[f"vr__{i}"],
        q25=q[0],
        q50=q[1],
        q75=q[2],
    )


def _moment_aggs(cont_vars: list[str]) -> list:
    """Unweighted moments per variable: count, min, max, avg,
    stddev_samp, var_samp. Quartiles come from the separate quartile
    jobs (sketch or exact cells)."""
    aggs = []
    for i, v in enumerate(cont_vars):
        c = F.col(v)
        aggs += [
            F.count(c).alias(f"n__{i}"),
            F.min(c).alias(f"mn__{i}"),
            F.max(c).alias(f"mx__{i}"),
            F.avg(c).alias(f"av__{i}"),
            F.stddev_samp(c).alias(f"sd__{i}"),
            F.var_samp(c).alias(f"vr__{i}"),
        ]
    return aggs


def _sketch_aggs(pairs: list[tuple[int, str]], accuracy: int) -> list:
    """Data-mode phase 2a: the accuracy-tuned sketch, only for the
    high-cardinality vars (original indices preserved in aliases)."""
    return [
        F.percentile_approx(F.col(v), [0.25, 0.5, 0.75], F.lit(accuracy)).alias(
            f"q__{i}"
        )
        for i, v in pairs
    ]


def _cont_aggs_weighted(cont_vars: list[str]) -> list:
    """Weighted sufficient sums per variable: Σw (over non-null x),
    min, max, Σwx, Σwx² — moments derive driver-side. Quartiles come
    from the separate weighted-quantile job."""
    aggs = []
    w = F.col(WEIGHT)
    for i, v in enumerate(cont_vars):
        c = F.col(v).cast("double")
        aggs += [
            F.sum(F.when(c.isNotNull(), w)).alias(f"sw__{i}"),
            F.min(c).alias(f"mn__{i}"),
            F.max(c).alias(f"mx__{i}"),
            F.sum(w * c).alias(f"swx__{i}"),
            F.sum(w * c * c).alias(f"swxx__{i}"),
        ]
    return aggs


def _row_to_stats_weighted(row, i: int, quarts: tuple) -> ContStat:
    """Frequency-weight moments from (Σw, Σwx, Σwx²): mean = Σwx/Σw,
    sample variance = (Σwx² − (Σwx)²/Σw)/(Σw − 1) — identical to the
    unweighted formulas on a row-replicated frame."""
    sw = row[f"sw__{i}"]
    mean = var = stddev = None
    if sw is not None and sw > 0:
        swx, swxx = row[f"swx__{i}"], row[f"swxx__{i}"]
        mean = swx / sw
        if sw > 1:
            var = (swxx - swx * swx / sw) / (sw - 1.0)
            # NaN propagates (NaN-poisoned columns match scipy, Q6);
            # clamp only the float-cancellation sliver below zero
            stddev = math.sqrt(var) if var >= 0 else (var if var != var else 0.0)
            if var < 0 and var == var:
                var = 0.0
                stddev = 0.0
    return ContStat(
        n=sw or 0,
        min=row[f"mn__{i}"],
        max=row[f"mx__{i}"],
        mean=mean,
        stddev=stddev,
        var=var,
        q25=quarts[0],
        q50=quarts[1],
        q75=quarts[2],
    )


def _quartiles(x: np.ndarray, w: np.ndarray, interpolated: bool) -> tuple:
    """The exact-quartile kernel: quartiles of one group of cells, the
    distinct values ``x`` with their Σw ``w`` (a count when unweighted).
    A value may appear in several cells — a global group is just the
    concatenation of its per-strat cells.

    A stable ascending sort (NaN last, as Spark orders doubles), then
    ``cum = cumsum(w)`` in that order:

      "data"          min x with cum ≥ p·Σw — weighted ``quantile_disc``
                      (min{k: k ≥ p·n} at w ≡ 1).
      "interpolated"  t = p·(Σw−1); value_at(j) = min x with cum > j;
                      lo, hi = value_at(⌊t⌋), value_at(⌊t⌋+1) and, with
                      f = t − ⌊t⌋, the DuckDB ``quantile_cont`` blend
                      (1−f)·lo + f·hi — or lo itself when f = 0 or
                      lo == hi (as Spark ``percentile``), so [1, inf, inf]
                      keeps inf. Integral weights equal numpy's linear
                      percentile on the row-replicated values.

    With integral weights every partial sum is exact in double, so the
    result does not depend on how the cells were split or ordered."""
    order = np.argsort(x, kind="stable")
    x = x[order]
    cum = np.cumsum(w[order])
    # Python floats from here on: the same IEEE arithmetic, without
    # numpy's warnings for inf - inf
    total = float(cum[-1])
    last = len(x) - 1
    out = []
    for p in QUARTILES:
        if interpolated:
            t = p * (total - 1.0)
            j = float(np.floor(t))
            f = t - j
            k = np.searchsorted(cum, j, side="right")
            if k > last:
                out.append(None)
                continue
            lo = float(x[k])
            hi = float(x[min(np.searchsorted(cum, j + 1.0, side="right"), last)])
            out.append(lo if f == 0 or lo == hi else (1.0 - f) * lo + f * hi)
        else:
            k = np.searchsorted(cum, p * total, side="left")
            out.append(float(x[k]) if k <= last else None)
    return tuple(out)


def _codes(col: pa.ChunkedArray) -> tuple[np.ndarray, list]:
    d = col.combine_chunks().dictionary_encode()
    return d.indices.to_numpy().astype(np.int64), d.dictionary.to_pylist()


def _cell_quartiles(
    cells: pa.Table, stratified: bool, interpolated: bool
) -> dict[tuple[str, str | None], tuple]:
    """Run :func:`_quartiles` on every (var[, strat]) group of the
    collected cells and, when stratified, on every var's global
    (var, None) group — the concatenation of its per-strat cells."""
    n = cells.num_rows
    if n == 0:
        return {}
    vi, vnames = _codes(cells["t1_var"])
    si, snames = (
        _codes(cells[STRAT]) if stratified else (np.zeros(n, np.int64), [None])
    )
    order = np.lexsort((si, vi))  # stable: groups become contiguous runs
    x = cells["t1_x"].to_numpy()[order]
    w = cells["sw"].to_numpy()[order]
    vi, si = vi[order], si[order]

    def runs(ids):
        cuts = np.flatnonzero(np.diff(ids)) + 1
        return zip(np.r_[0, cuts], np.r_[cuts, n])

    out = {}
    for a, b in runs(vi * len(snames) + si):
        out[(vnames[vi[a]], snames[si[a]])] = _quartiles(
            x[a:b], w[a:b], interpolated
        )
    if stratified:
        for a, b in runs(vi):
            out[(vnames[vi[a]], None)] = _quartiles(x[a:b], w[a:b], interpolated)
    return out


def collect_sufficient(
    df: DataFrame,
    col_to_strat: str,
    cat_vars: list[str],
    cont_vars: list[str],
    exact_percentile_cap: int = 1_000_000,
    strat_cardinality_limit: int = 1_000,
    quantile_mode: str = "data",
    cat_cells_limit: int = 1_000_000,
    weight_col: str | None = None,
    lowcard_quartile_max: int = 2_048,
) -> Sufficient:
    """Run the bounded job set of the module docstring and return
    every statistic TableOne needs."""
    stratified = col_to_strat != ""
    weighted = weight_col is not None
    interpolated = quantile_mode == "interpolated"
    base = df
    if weighted:
        wc = F.col(_quote(weight_col)).cast("double")
        base = df.where(wc.isNotNull() & (wc > 0))
    select_cols = [F.col(_quote(v)) for v in dict.fromkeys(cat_vars + cont_vars)]
    if stratified:
        select_cols.append(clean_strat_col(col_to_strat).alias(STRAT))
    if weighted:
        select_cols.append(F.col(_quote(weight_col)).cast("double").alias(WEIGHT))
    work = base.select(*select_cols)

    out = Sufficient(total=0)
    count_agg = (
        F.sum(F.col(_quote(weight_col)).cast("double"))
        if weighted
        else F.count(F.lit(1))
    )

    # ---- job 1: strat group counts / total ------------------------------
    def run_counts():
        if stratified:
            rows = (
                base.select(
                    F.col(_quote(col_to_strat)).alias("__raw"),
                    clean_strat_col(col_to_strat).alias(STRAT),
                    *([F.col(_quote(weight_col))] if weighted else []),
                )
                # two-level aggregation instead of count_distinct (r17):
                # a count_distinct alongside another agg plans an
                # Expand-based two-phase distinct that ships every raw
                # value through the expand; grouping by (cleaned, raw)
                # first map-side-combines to the tiny distinct-pair set,
                # and the second-level agg then derives BOTH the group
                # count (sum of per-raw counts — exact: integer counts,
                # and weighted Σw is exact for the integral-weight
                # contract) and the collision signal (__nraw = rows per
                # cleaned value). Same results, ~25% cheaper job.
                .groupBy(STRAT, "__raw")
                .agg(count_agg.alias("__c"))
                .groupBy(STRAT)
                .agg(
                    F.sum("__c").alias("count"),
                    # sanitization-collision detection (SURVEY Q9): >1
                    # distinct raw value mapping onto one cleaned value
                    # means categories silently merged ("a b" ≡ "a_b";
                    # distinct non-ASCII runs ≡ "?"). count over the
                    # per-raw groups' __raw (not count(1)) so the NULL
                    # raw group is excluded — byte-identical to the old
                    # count_distinct semantics
                    F.count(F.col("__raw")).alias("__nraw"),
                )
                .collect()
            )
            collided = sorted(r[STRAT] for r in rows if r["__nraw"] > 1)
            if collided:
                import warnings

                warnings.warn(
                    f"strat sanitization merged distinct raw values into "
                    f"{collided} (spaces→'_', non-ASCII→'?'; reference "
                    ":89-92 semantics, SURVEY Q9)",
                    stacklevel=4,
                )
            counts = {r[STRAT]: r["count"] for r in rows}
            if len(counts) > strat_cardinality_limit:
                raise ValueError(
                    f"stratification column {col_to_strat!r} has "
                    f"{len(counts)} distinct values "
                    f"(> limit {strat_cardinality_limit}); the output schema grows "
                    "with strat cardinality — raise strat_cardinality_limit "
                    "explicitly if this is intended"
                )
            return counts, sum(counts.values())
        if weighted:
            row = work.agg(F.sum(WEIGHT).alias("t")).collect()[0]
            return {}, row["t"] or 0.0
        return {}, work.count()

    def run_moments():
        aggs = _cont_aggs_weighted(cont_vars) if weighted else _moment_aggs(cont_vars)
        if stratified:
            # rollup == grouping sets {(strat), ()}: per-strat cells AND
            # the grand total in ONE pass. Cleaned strat is never null,
            # so the null-strat row is unambiguously the total.
            return work.rollup(STRAT).agg(*aggs).collect()
        return work.groupBy().agg(*aggs).collect()

    def run_cardinality():
        # the quartile-strategy selector: GLOBAL approximate distinct
        # counts only (no rollup Expand — per-strat cardinality is
        # irrelevant to the split), one cheap HLL pass concurrent with
        # counts + moments. Deterministic (hash-based), so the routing
        # is stable across runs and partitionings.
        row = work.groupBy().agg(
            *[
                F.approx_count_distinct(F.col(v)).alias(f"cd__{i}")
                for i, v in enumerate(cont_vars)
            ]
        ).collect()[0]
        return [row[f"cd__{i}"] or 0 for i in range(len(cont_vars))]

    def _sketch_accuracy(pairs: list[tuple[int, str]], total: int) -> int:
        accuracy = min(max(total + 1, 10_000), exact_percentile_cap)
        if total + 1 > exact_percentile_cap:
            import warnings

            warnings.warn(
                f"{total} rows exceed exact_percentile_cap="
                f"{exact_percentile_cap}: quartiles of high-cardinality "
                f"variables {[v for _i, v in pairs]} are approximate "
                f"(<=1/{exact_percentile_cap} relative rank error), not "
                "the reference's exact data values. Raise the cap or use "
                'quantile_mode="interpolated" for exact quartiles.',
                stacklevel=7,
            )
        return accuracy

    def run_cont_sketch(pairs, total: int, scope: str = "all"):
        # data-mode phase 2a (high-cardinality vars only): the
        # reference's accuracy = max(n+1, 10000) makes the sketch
        # return exact data values; capped so it stays bounded at scale
        # (documented deviation above the cap). r17 (guide §2.6): the
        # stratified case runs as TWO CONCURRENT jobs — the global
        # sketch ("global" scope) and the per-strat sketch ("strat"
        # scope) — instead of one rollup whose Expand pushed every row
        # through the sketch twice serially. Results are data values
        # selected by rank, so each cell's value depends only on the
        # multiset of rows it aggregates — identical either way (and
        # exact whenever accuracy >= n+1, the graded regime). Returns
        # (strat_key, row) pairs.
        accuracy = _sketch_accuracy(pairs, total)
        aggs = _sketch_aggs(pairs, accuracy)
        if scope == "strat":
            return [
                (r[STRAT], r)
                for r in work.groupBy(STRAT).agg(*aggs).collect()
            ]
        return [(None, r) for r in work.groupBy().agg(*aggs).collect()]

    def run_exact(vars_: list[str]):
        # every exact quartile. Melt ``vars_`` and compress to the
        # distinct (var, value[, strat]) cells with their Σw (a count
        # when unweighted) — ONE shuffle, map-side combined, carrying
        # distinct values, not rows. The cells are bounded by the
        # distinct values per group, so they are collected (as Arrow,
        # under the cat_cells_limit guard the categorical counts use)
        # and ranked on the driver by _quartiles; past the guard they
        # stay distributed (run_wq).
        casts = ", ".join(
            f"{_sql_str(v)}, CAST({_quote(v)} AS DOUBLE)" for v in vars_
        )
        stack = F.expr(f"stack({len(vars_)}, {casts}) as (t1_var, t1_x)")
        melted = work.select(
            *([STRAT] if stratified else []),
            *([F.col(WEIGHT)] if weighted else []),
            stack,
        ).where(F.col("t1_x").isNotNull())
        keys = ["t1_var", "t1_x"] + ([STRAT] if stratified else [])
        agg = F.sum(WEIGHT) if weighted else F.count(F.lit(1)).cast("double")
        g = melted.groupBy(*keys).agg(agg.alias("sw"))
        cells = g.limit(cat_cells_limit + 1).toArrow()
        if cells.num_rows > cat_cells_limit:
            return run_wq(g)
        return _cell_quartiles(cells, stratified, interpolated)

    def run_wq(g: DataFrame):
        # the distributed path for a cell frame past cat_cells_limit:
        # derive the global cells from the per-strat ones WITHOUT
        # rescanning (SENTINEL-marked), then the same selection as
        # _quartiles with window running sums.
        #
        # The running sum is a RANGE-BUCKETED parallel prefix sum, not
        # one window partition per (var, strat): a near-unique column
        # at 100 TB would otherwise sort billions of distinct values in
        # a single task. Instead: bucket x into B range cells
        # (monotonic in x), cumsum WITHIN (var, strat, bucket) — 256×
        # the parallelism — and add per-bucket offsets from a tiny
        # (V·k·B)-row window. Float note: cum = local + offset groups
        # the additions differently than a flat scan; with
        # integral-valued weights (the graded contract) every partial
        # sum is exact in double, so results are bit-identical to the
        # driver kernel.
        from pyspark.sql import Window

        B = 256
        part = ["t1_var"] + ([STRAT] if stratified else [])
        if stratified:
            g_all = (
                g.groupBy("t1_var", "t1_x")
                .agg(F.sum("sw").alias("sw"))
                .withColumn(STRAT, F.lit(SENTINEL))
            )
            g = g.unionByName(g_all)

        # per-group span + total (tiny; broadcast back onto g)
        stats = g.groupBy(*part).agg(
            F.min("t1_x").alias("__mn"),
            F.max("t1_x").alias("__mx"),
            F.sum("sw").alias("tw"),
        )
        j = g.join(F.broadcast(stats), part)
        width = (F.col("__mx") - F.col("__mn")) / F.lit(float(B))
        bucket = F.when(
            F.col("__mx") > F.col("__mn"),
            F.least(
                F.lit(B - 1),
                F.floor((F.col("t1_x") - F.col("__mn")) / width),
            ),
        ).otherwise(F.lit(0)).cast("int")
        jb = j.select(*part, "t1_x", "sw", "tw", bucket.alias("__bk"))

        # local cumsum inside each (group × bucket) cell
        loc = F.sum("sw").over(
            Window.partitionBy(*part, "__bk").orderBy("t1_x")
        )
        # bucket offsets: exclusive prefix over the tiny bucket-total
        # frame (V·k·B rows), broadcast back
        btot = jb.groupBy(*part, "__bk").agg(F.sum("sw").alias("__bsum"))
        woff = (
            Window.partitionBy(*part)
            .orderBy("__bk")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        off = btot.select(
            *part,
            "__bk",
            F.coalesce(F.sum("__bsum").over(woff), F.lit(0.0)).alias("__off"),
        )
        ranked = jb.withColumn("__loc", loc).join(
            F.broadcast(off), part + ["__bk"]
        )
        cum = F.col("__loc") + F.col("__off")
        x = F.col("t1_x")
        qaggs = []
        for p in QUARTILES:
            if interpolated:
                # t/frac are group constants (tw is), so F.min just
                # extracts them alongside the conditional mins
                t = F.lit(p) * (F.col("tw") - F.lit(1.0))
                j0 = F.floor(t).cast("double")
                lo = F.min(F.when(cum > j0, x))
                hi = F.coalesce(F.min(F.when(cum > j0 + 1, x)), F.max(x))
                frac = F.min(t - j0)
                q = F.when((frac == 0) | (lo == hi), lo).otherwise(
                    (F.lit(1.0) - frac) * lo + frac * hi
                )
            else:
                q = F.min(F.when(cum >= F.lit(p) * F.col("tw"), x))
            qaggs.append(q.alias(f"wq_{int(p * 100)}"))
        out = {}
        for r in ranked.groupBy(*part).agg(*qaggs).collect():
            key = r[STRAT] if stratified else None
            out[(r["t1_var"], None if key == SENTINEL else key)] = (
                r["wq_25"], r["wq_50"], r["wq_75"],
            )
        return out

    def run_cat():
        pairs = ", ".join(f"{_sql_str(v)}, {_quote(v)}" for v in cat_vars)
        stack = F.expr(f"stack({len(cat_vars)}, {pairs}) as (t1_var, t1_val)")
        melted = work.select(
            *([STRAT] if stratified else []),
            *([WEIGHT] if weighted else []),
            stack,
        )
        melted = melted.withColumn("t1_val", F.coalesce(F.col("t1_val"), F.lit(MISSING)))
        keys = ["t1_var", "t1_val"] + ([STRAT] if stratified else [])
        agg = melted.groupBy(*keys).agg(
            (F.sum(WEIGHT) if weighted else F.count(F.lit(1))).alias("ct")
        )
        # guard the driver collect: the result has Σ cardinality × strat
        # rows; a high-cardinality "categorical" column (ids, free text)
        # must fail fast, not OOM the driver
        rows = agg.limit(cat_cells_limit + 1).collect()
        if len(rows) > cat_cells_limit:
            raise ValueError(
                f"categorical variables {cat_vars} produce more than "
                f"{cat_cells_limit} (value × strat) cells — a column is "
                "not actually categorical (ids? free text?); drop it or "
                "raise cat_cells_limit explicitly"
            )
        return rows

    # ---- schedule the jobs with maximal overlap -------------------------
    # One schedule for every mode: counts ∥ moments ∥ cat ∥ exact
    # quartiles. In unweighted "data" mode the HLL probe first splits
    # the variables: high-cardinality ones go to the capped sketch
    # (which waits for the row count, its accuracy), the rest to the
    # exact cells. Spark's scheduler interleaves the concurrent jobs.
    sketched: list[tuple[int, str]] = []
    exact = list(cont_vars)
    with ThreadPoolExecutor(max_workers=8) as pool:
        # 8 workers = the worst-case concurrent job set (counts ∥
        # moments ∥ melt ∥ probe, then sketch-global ∥ sketch-strat ∥
        # exact while the melt may still be running) — a smaller pool
        # would serialize the sketches behind whichever earlier job is
        # the long pole
        f_cat = pool.submit(run_cat) if cat_vars else None
        f_counts = pool.submit(run_counts)
        f_moments = pool.submit(run_moments) if cont_vars else None
        if cont_vars and not (weighted or interpolated):
            if lowcard_quartile_max > 0:
                cards = pool.submit(run_cardinality).result()
            else:
                # sketch-for-everything pin: the probe could not route
                # anything to the exact path — skip its full scan
                cards = [lowcard_quartile_max + 1] * len(cont_vars)
            sketched = [
                (i, v)
                for i, v in enumerate(cont_vars)
                if cards[i] > lowcard_quartile_max
            ]
            exact = [
                v for i, v in enumerate(cont_vars) if cards[i] <= lowcard_quartile_max
            ]
        f_exact = pool.submit(run_exact, exact) if exact else None
        out.strat_counts, out.total = f_counts.result()
        scopes = ("global", "strat") if stratified else ("global",)
        f_sketches = [
            pool.submit(run_cont_sketch, sketched, out.total, scope)
            for scope in scopes
        ] if sketched else []
        cont_rows = f_moments.result() if f_moments is not None else []
        quarts = f_exact.result() if f_exact is not None else {}
        sketch_by_key = {key: row for f in f_sketches for key, row in f.result()}
        cat_rows = f_cat.result() if f_cat is not None else []

    # ---- unpack ---------------------------------------------------------
    high = {v for _i, v in sketched}
    to_stats = _row_to_stats_weighted if weighted else _row_to_stats
    for v in cont_vars:
        out.cont[v] = {}
    for row in cont_rows:
        key = row[STRAT] if stratified else None
        srow = sketch_by_key.get(key)
        for i, v in enumerate(cont_vars):
            if v in high:
                q = (srow[f"q__{i}"] if srow is not None else None) or [None] * 3
            else:
                # an all-NULL (var, strat) group has no cells: None
                q = quarts.get((v, key), (None, None, None))
            out.cont[v][key] = to_stats(row, i, q)
    if stratified and cont_vars and None not in out.cont[cont_vars[0]]:
        # defensive: rollup always emits the grand-total row
        raise RuntimeError("rollup produced no grand-total row")

    for v in cat_vars:
        out.cat[v] = {}
    for row in cat_rows:
        key = row[STRAT] if stratified else None
        out.cat[row["t1_var"]][(row["t1_val"], key)] = row["ct"]

    return out
