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
             continuous var — the quartile-strategy selector.
  phase 2 (data mode, quartiles only, both concurrent)
    sketch   vars with distinct > lowcard_quartile_max: the
             exactness-tuned capped ``percentile_approx`` aggregate
             (one global and, when stratified, one per-strat action) —
             the bounded-memory path near-unique columns need.
    disc     vars with distinct ≤ lowcard_quartile_max: EXACT
             ``quantile_disc`` from distinct-value running counts
             (bounded per-group windows; no sketch cost, no
             accuracy==n+1 rank quirk).
  (interpolated mode replaces phase 2 with exact ``percentile`` inside
  the moments rollup — one pass, O(distinct-per-group) memory.)

Only aggregated scalars ever reach the driver. The collected sizes are
O(V·k) and O(Σ cardinalities · k) — independent of row count, so the
same plan runs at 100 TB. Independent jobs are submitted
concurrently (threads; Spark schedules them into the shared cluster).

Weighted mode (``weight_col``): weights are FREQUENCY weights — the
results are defined to equal the unweighted results on a row-replicated
frame (exactly true for integer weights; pinned by test). Rows with
null/non-positive weight are excluded everywhere. The same bounded
jobs collect Σw / Σwx / Σwx² instead of counts, plus ONE extra job
for weighted quartiles: melt the continuous vars, compress to distinct
(var, value[, strat]) with their Σw (map-side combined — the shuffle
carries distinct values, not rows), one running-sum window per
(var, strat) partition, then ``min(x WHERE cumΣw >= p·Σw)`` — the
weighted generalization of ``quantile_disc`` (reduces to it at w=1).
Memory is O(distinct values per group), the interpolated-mode regime.
"""

from __future__ import annotations

import math
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from tableone_pyspark_spark.core.sanitize import MISSING, clean_strat_col

#: internal strat column name — namespaced to avoid user-column clashes
STRAT = "__t1_strat__"
#: internal weight column name (weighted mode only)
WEIGHT = "__t1_w__"
#: global-cell marker in melted quantile frames (joins drop NULL keys;
#: windows don't — run_wq and run_lowcard_disc share this)
SENTINEL = "\x00__t1_all__"


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


def _cont_aggs(cont_vars: list[str], accuracy: int, quantile_mode: str) -> list:
    aggs = []
    for i, v in enumerate(cont_vars):
        c = F.col(v)
        if quantile_mode == "interpolated":
            # exact linear-interpolated quartiles (R type-7, same rule as
            # duckdb quantile_cont / numpy percentile). Memory is
            # O(distinct values per group) — prefer "data" at extreme
            # scale.
            q = F.expr(f"percentile({_quote(v)}, array(0.25D, 0.5D, 0.75D))")
        else:
            # "data": accuracy-tuned percentile_approx (reference
            # :384-388): returns an actual data value; one call returns
            # all three quartiles from one sketch. Measured boundary
            # semantics: while the 10k accuracy floor dominates
            # (n < 10000) the result matches DuckDB quantile_disc
            # rank-for-rank; at accuracy == n+1 the sketch's error
            # budget n/(n+1) lets the returned rank sit exactly one
            # below quantile_disc (deterministic, partitioning-
            # independent — oracle-pinned in tableone_strat_dataq).
            q = F.percentile_approx(c, [0.25, 0.5, 0.75], F.lit(accuracy))
        aggs += [
            F.count(c).alias(f"n__{i}"),
            F.min(c).alias(f"mn__{i}"),
            F.max(c).alias(f"mx__{i}"),
            F.avg(c).alias(f"av__{i}"),
            F.stddev_samp(c).alias(f"sd__{i}"),
            F.var_samp(c).alias(f"vr__{i}"),
            q.alias(f"q__{i}"),
        ]
    return aggs


def _row_to_stats(row, i: int, q_override: tuple | None = None) -> ContStat:
    if q_override is not None:
        q = list(q_override)
    else:
        q = row[f"q__{i}"] or [None, None, None]
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
    """Data-mode phase 1: moments only — NO quartile sketch (quartiles
    come from phase 2, routed by the concurrent cardinality probe)."""
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
    """Run the bounded job set (two concurrent phases in data mode;
    +1 weighted-quantile job in weighted mode) and return every
    statistic TableOne needs."""
    stratified = col_to_strat != ""
    weighted = weight_col is not None
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

    def run_cont(total: int):
        # weighted / interpolated modes: one pass, unchanged shape.
        aggs = (
            _cont_aggs_weighted(cont_vars)
            if weighted
            else _cont_aggs(cont_vars, 0, quantile_mode)
        )
        if stratified:
            # rollup == grouping sets {(strat), ()}: per-strat cells AND
            # the grand total in ONE pass. Cleaned strat is never null,
            # so the null-strat row is unambiguously the total.
            return work.rollup(STRAT).agg(*aggs).collect()
        return work.groupBy().agg(*aggs).collect()

    def run_cont_moments():
        # data-mode phase 1: moments; quartiles come from phase 2.
        aggs = _moment_aggs(cont_vars)
        if stratified:
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

    def run_lowcard_disc(pairs: list[tuple[int, str]]):
        # data-mode phase 2b: EXACT quantile_disc for low-cardinality
        # vars via distinct-value running counts. Each (var, strat)
        # group holds <= lowcard_quartile_max distinct values (that is
        # what classified it low), so the distinct-cell frame is
        # BOUNDED BY CONSTRUCTION — independent of row count. r17
        # (guide §1.2/§5): the previous shape ran FOUR sequential
        # shuffle stages (melt-groupBy, global-cell union, window
        # sort, final agg) of which only the first touches data; the
        # rank selection over the tiny cell frame now happens on the
        # driver (one shuffle + one bounded collect — the same class
        # of driver work as the categorical-counts collect), with the
        # float running sum accumulated in the SAME ascending-x order
        # the window used (counts are integers-in-double, and NaN
        # sorts last, Spark's ordering), so the selected data values
        # are identical. Guarded by cat_cells_limit: a frame larger
        # than the guard falls back to the distributed window path.
        vars_ = [v for _i, v in pairs]
        g, part = melt_distinct_counts(
            vars_, use_weight=False, with_global=False
        )
        cells = g.limit(cat_cells_limit + 1).collect()
        if len(cells) > cat_cells_limit:
            return _run_lowcard_disc_windowed(vars_)
        import math

        per_group: dict[tuple, dict] = {}
        for r in cells:
            key = (r["t1_var"], r[STRAT] if stratified else None)
            per_group.setdefault(key, {})[r["t1_x"]] = r["sw"]
        if stratified:
            # global cells derive from the per-strat ones without
            # rescanning — integer counts, exact in any order
            for (v, _s), d in list(per_group.items()):
                glob = per_group.setdefault((v, None), {})
                if _s is not None:
                    for x, w in d.items():
                        glob[x] = glob.get(x, 0.0) + w
        out_rows = []
        for (v, s), d in per_group.items():
            xs = sorted(d, key=lambda x: (math.isnan(x), x))
            tw = 0.0
            for x in xs:
                tw += d[x]
            qs = []
            for p in (0.25, 0.5, 0.75):
                thr = p * tw
                cum = 0.0
                pick = None
                for x in xs:
                    cum += d[x]
                    if cum >= thr:
                        pick = x
                        break
                qs.append(pick)
            row = {"t1_var": v, "wq_25": qs[0], "wq_50": qs[1],
                   "wq_75": qs[2]}
            if stratified:
                row[STRAT] = s
            out_rows.append(row)
        return out_rows

    def _run_lowcard_disc_windowed(vars_: list[str]):
        # the distributed fallback (pre-r17 shape) for a cell frame
        # past the driver guard: per-group windows, still bounded
        from pyspark.sql import Window

        g, part = melt_distinct_counts(vars_, use_weight=False)
        cum = F.sum("sw").over(Window.partitionBy(*part).orderBy("t1_x"))
        tw = F.sum("sw").over(Window.partitionBy(*part))
        ranked = g.select(*part, "t1_x", cum.alias("cum"), tw.alias("tw"))
        qaggs = [
            F.min(
                F.when(F.col("cum") >= F.lit(p) * F.col("tw"), F.col("t1_x"))
            ).alias(f"wq_{int(p * 100)}")
            for p in (0.25, 0.5, 0.75)
        ]
        rows = ranked.groupBy(*part).agg(*qaggs).collect()
        out_rows = []
        for row in rows:
            d = row.asDict()
            if stratified and d[STRAT] == SENTINEL:
                d[STRAT] = None
            out_rows.append(d)
        return out_rows

    def melt_distinct_counts(vars_, use_weight: bool, with_global=True):
        """Shared by run_wq / run_lowcard_disc: melt ``vars_`` and
        compress to distinct (var, value[, strat]) cells carrying the
        Σweight (weighted) or count (w≡1) — ONE shuffle, map-side
        combined, carrying distinct values, not rows — then (unless
        ``with_global=False``: the disc path derives them driver-side)
        derive the global cells from the per-strat ones WITHOUT
        rescanning (SENTINEL-marked). Returns (g, part)."""
        casts = ", ".join(
            f"{_sql_str(v)}, CAST({_quote(v)} AS DOUBLE)" for v in vars_
        )
        stack = F.expr(f"stack({len(vars_)}, {casts}) as (t1_var, t1_x)")
        melted = work.select(
            *([STRAT] if stratified else []),
            *([F.col(WEIGHT)] if use_weight else []),
            stack,
        ).where(F.col("t1_x").isNotNull())
        keys = ["t1_var", "t1_x"] + ([STRAT] if stratified else [])
        agg = F.sum(WEIGHT) if use_weight else F.count(F.lit(1)).cast("double")
        g = melted.groupBy(*keys).agg(agg.alias("sw"))
        if stratified and with_global:
            g_all = (
                g.groupBy("t1_var", "t1_x")
                .agg(F.sum("sw").alias("sw"))
                .withColumn(STRAT, F.lit(SENTINEL))
            )
            g = g.unionByName(g_all)
        return g, ["t1_var"] + ([STRAT] if stratified else [])

    def run_wq():
        # weighted quartiles: compress to distinct (var, value[, strat])
        # with Σw (ONE shuffle, map-side combined — carries distinct
        # values, not rows), derive the global cells from the per-strat
        # ones WITHOUT rescanning, then pick min(x | cumΣw >= p·Σw) —
        # weighted quantile_disc (== quantile_disc at w=1:
        # min{k: k >= p·n} is ceil(p·n)).
        #
        # The running sum is a RANGE-BUCKETED parallel prefix sum, not
        # one window partition per (var, strat): a near-unique column
        # at 100 TB would otherwise sort billions of distinct values in
        # a single task. Instead: bucket x into _WQ_BUCKETS range cells
        # (monotonic in x), cumsum WITHIN (var, strat, bucket) — 256×
        # the parallelism — and add per-bucket offsets from a tiny
        # (V·k·B)-row window. Float note: cum = local + offset groups
        # the additions differently than a flat scan; with
        # integral-valued weights (the graded contract) every partial
        # sum is exact in double, so results are bit-identical.
        from pyspark.sql import Window

        B = 256
        g, part = melt_distinct_counts(cont_vars, use_weight=True)

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
        if quantile_mode == "interpolated":
            # expanded-index interpolation: with W = Σw, the quantile
            # sits at continuous index t = p·(W−1) of the
            # weight-expanded sorted multiset; value_at(j) =
            # min{x : cum > j} (inclusive cumΣw), linearly blended
            # between floor(t) and floor(t)+1. Integral weights
            # reproduce numpy.percentile(linear) on the row-replicated
            # array exactly (pinned by test + row-expansion oracle);
            # fractional weights generalize by treating cumΣw as the
            # continuous index. t/frac are group constants (tw is), so
            # F.min just extracts them alongside the conditional mins.
            qaggs = []
            for p in (0.25, 0.5, 0.75):
                t = F.lit(p) * (F.col("tw") - F.lit(1.0))
                j0 = F.floor(t).cast("double")
                lo = F.min(F.when(cum > j0, F.col("t1_x")))
                hi = F.coalesce(
                    F.min(F.when(cum > j0 + 1, F.col("t1_x"))),
                    F.max("t1_x"),
                )
                frac = F.min(t - j0)
                qaggs.append(
                    (lo + frac * (hi - lo)).alias(f"wq_{int(p * 100)}")
                )
        else:
            # "data" mode: weighted quantile_disc — min x with
            # cumΣw ≥ p·Σw (== quantile_disc at w=1: min{k: k ≥ p·n}
            # is ceil(p·n))
            qaggs = [
                F.min(
                    F.when(cum >= F.lit(p) * F.col("tw"), F.col("t1_x"))
                ).alias(f"wq_{int(p * 100)}")
                for p in (0.25, 0.5, 0.75)
            ]
        rows = ranked.groupBy(*part).agg(*qaggs).collect()
        if stratified:
            remap = []
            for row in rows:
                d = row.asDict()
                if d[STRAT] == SENTINEL:
                    d[STRAT] = None
                remap.append(d)
            return remap
        return [r.asDict() for r in rows]

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
    # The categorical melt never depends on anything else. In "data"
    # mode the flow is two phases: {counts ∥ moments+HLL ∥ melt}, then
    # the HLL estimates split the quartile work into {sketch for
    # high-cardinality vars ∥ exact disc for low-cardinality vars} —
    # both bounded, both concurrent. Weighted/interpolated keep their
    # one-pass shapes. Spark's scheduler interleaves the concurrent
    # jobs across the cluster.
    cont_rows: list = []
    cat_rows: list = []
    wq_rows: list = []
    sketch_rows: list = []
    lowcard_vars: set[str] = set()
    data_mode = (not weighted) and quantile_mode != "interpolated" and cont_vars
    with ThreadPoolExecutor(max_workers=8) as pool:
        # 8 workers = the worst-case concurrent job set (counts ∥
        # moments ∥ melt ∥ probe, then sketch-global ∥ sketch-strat ∥
        # disc while the melt may still be running) — a smaller pool
        # would serialize phase 2 behind whichever phase-1 job is the
        # long pole
        f_cat = pool.submit(run_cat) if cat_vars else None
        if weighted and cont_vars:
            # weighted moments need no accuracy tuning -> all 4 jobs
            # are independent; run everything concurrently
            f_counts = pool.submit(run_counts)
            f_cont = pool.submit(run_cont, 0)
            f_wq = pool.submit(run_wq)
            out.strat_counts, out.total = f_counts.result()
            cont_rows = f_cont.result()
            wq_rows = f_wq.result()
        elif cont_vars and quantile_mode == "interpolated":
            f_counts = pool.submit(run_counts)
            f_cont = pool.submit(run_cont, 0)
            out.strat_counts, out.total = f_counts.result()
            cont_rows = f_cont.result()
        elif cont_vars:
            f_counts = pool.submit(run_counts)
            f_cont = pool.submit(run_cont_moments)
            if lowcard_quartile_max > 0:
                f_card = pool.submit(run_cardinality)
                cards = f_card.result()
            else:
                # sketch-for-everything pin: the probe could not route
                # anything to the disc path — skip its full scan
                cards = [lowcard_quartile_max + 1] * len(cont_vars)
            out.strat_counts, out.total = f_counts.result()
            high = []
            low = []
            for i, v in enumerate(cont_vars):
                (low if cards[i] <= lowcard_quartile_max else high).append(
                    (i, v)
                )
            lowcard_vars = {v for _i, v in low}
            f_sketches = []
            if high:
                f_sketches.append(
                    pool.submit(run_cont_sketch, high, out.total, "global")
                )
                if stratified:
                    f_sketches.append(
                        pool.submit(
                            run_cont_sketch, high, out.total, "strat"
                        )
                    )
            f_low = pool.submit(run_lowcard_disc, low) if low else None
            cont_rows = f_cont.result()
            sketch_rows = [kr for f in f_sketches for kr in f.result()]
            wq_rows = f_low.result() if f_low is not None else []
        else:
            out.strat_counts, out.total = run_counts()
        if f_cat is not None:
            cat_rows = f_cat.result()

    # ---- unpack ---------------------------------------------------------
    quarts: dict[tuple[str, str | None], tuple] = {}
    for row in wq_rows:  # dict rows from run_wq / run_lowcard_disc
        key = row[STRAT] if stratified else None
        quarts[(row["t1_var"], key)] = (
            row["wq_25"], row["wq_50"], row["wq_75"],
        )
    sketch_by_key: dict[str | None, object] = {}
    for key, row in sketch_rows:  # (strat_key, Row) pairs; None = global
        sketch_by_key[key] = row
    for i, v in enumerate(cont_vars):
        out.cont[v] = {}
    for row in cont_rows:
        key = row[STRAT] if stratified else None
        for i, v in enumerate(cont_vars):
            if weighted:
                q = quarts.get((v, key), (None, None, None))
                out.cont[v][key] = _row_to_stats_weighted(row, i, q)
            elif data_mode:
                if v in lowcard_vars:
                    # an all-NULL (var, strat) cell has no disc row —
                    # its quartiles are None, never a sketch lookup
                    # (the sketch rows only alias high-card vars)
                    q = quarts.get((v, key), (None, None, None))
                else:
                    srow = sketch_by_key.get(key)
                    qv = (srow[f"q__{i}"] if srow is not None else None) or [
                        None, None, None,
                    ]
                    q = (qv[0], qv[1], qv[2])
                out.cont[v][key] = _row_to_stats(row, i, q_override=q)
            else:
                out.cont[v][key] = _row_to_stats(row, i)
    if stratified and cont_vars and None not in out.cont[cont_vars[0]]:
        # defensive: rollup always emits the grand-total row
        raise RuntimeError("rollup produced no grand-total row")

    for v in cat_vars:
        out.cat[v] = {}
    for row in cat_rows:
        key = row[STRAT] if stratified else None
        out.cat[row["t1_var"]][(row["t1_val"], key)] = row["ct"]

    return out
