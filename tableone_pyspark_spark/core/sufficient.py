"""Single-pass sufficient-statistics collection for TableOne.

The engine runs ONE set of four CONCURRENT bounded Spark actions,
independent of the number of analyzed variables (the reference runs
~16 scans *per continuous variable*, tableone_pyspark.py:325-437, plus
a full-column ``toPandas`` per p-value, :453/:500). Each action scans
the input once; under AQE every shuffle map stage runs as a job of its
own, so an action is one Spark job per shuffle plus one for its
result. Measured from the Spark event log on the ``perfbench``
``cohort_wide`` call (stratified, 6-8 variables, three of them
near-unique): 7 jobs and 3 input-scanning stages per call.

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
    cells    every quartile, exact, from distinct-value cells (below).

Quartiles have ONE implementation. Melt the continuous variables (by
position) and compress to the distinct (var, value[, strat]) cells
with their Σw (a count when unweighted) — one shuffle, map-side
combined, carrying distinct values, not rows. Up to ``cat_cells_limit``
cells are collected as Arrow and ranked on the driver by
:func:`_quartiles`: ``quantile_disc`` in "data" mode, the DuckDB
``quantile_cont`` blend in "interpolated" mode. A stratified run's
global group is the concatenation of its per-strat cells, so nothing
is rescanned. Past ``cat_cells_limit`` the same kernel runs
distributed (``run_spread``): the cells are range-partitioned by
(var, value), one tiny collect of Σw per partition places each
quartile target in one partition, and one ``mapInArrow`` pass picks it
there with the driver kernel's target, pick and blend helpers. Memory
is O(distinct values per group) on the driver, O(distinct values per
partition) on an executor.

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
from functools import partial

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from tableone_pyspark_spark.core.sanitize import MISSING, clean_strat_col

#: internal strat column name — namespaced to avoid user-column clashes
STRAT = "__t1_strat__"
#: internal weight column name (weighted mode only)
WEIGHT = "__t1_w__"
QUARTILES = (0.25, 0.5, 0.75)
_MOVED = (
    "the range partitions of the quartile cells changed between two passes "
    "over them; retry the call"
)


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
    """Everything TableOne needs, collected by the concurrent bounded
    actions described in the module docstring."""

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


def _num(x) -> float | None:
    return None if x is None else float(x)


def _row_to_stats(row, i: int, q: tuple) -> ContStat:
    # a decimal column's avg is a Decimal: moments are floats from here
    # on, so the t-test and ANOVA can mix them with float arithmetic
    return ContStat(
        n=row[f"n__{i}"] or 0,
        min=row[f"mn__{i}"],
        max=row[f"mx__{i}"],
        mean=_num(row[f"av__{i}"]),
        stddev=_num(row[f"sd__{i}"]),
        var=_num(row[f"vr__{i}"]),
        q25=q[0],
        q50=q[1],
        q75=q[2],
    )


def _moment_aggs(cont_vars: list[str]) -> list:
    """Unweighted moments per variable: count, min, max, avg,
    stddev_samp, var_samp. Quartiles come from the separate quartile
    cells job."""
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


def _cont_aggs_weighted(cont_vars: list[str]) -> list:
    """Weighted sufficient sums per variable: Σw (over non-null x),
    min, max, Σwx, Σwx² — moments derive driver-side. Quartiles come
    from the separate quartile cells job."""
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


def _targets(total: float, interpolated: bool) -> list[tuple[tuple, float]]:
    """Per quartile, the cumulative-Σw targets to pick and the blend
    fraction f, for a group of total weight ``total``:

      "data"          (p·Σw,), f = 0 — weighted ``quantile_disc``
                      (min{k: k ≥ p·n} at w ≡ 1).
      "interpolated"  (⌊t⌋, ⌊t⌋+1) at t = p·(Σw−1), f = t − ⌊t⌋ — the
                      DuckDB ``quantile_cont`` neighbours.
    """
    if not interpolated:
        return [((p * total,), 0.0) for p in QUARTILES]
    out = []
    for p in QUARTILES:
        t = p * (total - 1.0)
        j = float(np.floor(t))
        out.append(((j, j + 1.0), t - j))
    return out


def _pick(cum: np.ndarray, target: float, interpolated: bool) -> int:
    """Index of the first cell whose running Σw reaches ``target``:
    cum ≥ target ("data"), cum > target ("interpolated"); the last cell
    when none does."""
    side = "right" if interpolated else "left"
    return min(int(np.searchsorted(cum, target, side=side)), len(cum) - 1)


def _blend(vals: list, f: float):
    """(1−f)·lo + f·hi — or lo itself when f = 0 or lo == hi (as Spark
    ``percentile``), so [1, inf, inf] keeps inf. Python floats: the
    same IEEE arithmetic, without numpy's warnings for inf - inf."""
    lo, hi = vals[0], vals[-1]
    return lo if f == 0 or lo == hi else (1.0 - f) * lo + f * hi


def _sorted_cum(x: np.ndarray, w: np.ndarray, offset: float = 0.0):
    """A stable ascending sort (NaN last, as Spark orders doubles) and
    the running Σw in that order, starting from ``offset``."""
    order = np.argsort(x, kind="stable")
    return x[order], np.cumsum(np.r_[offset, w[order]])[1:]


def _quartiles(x: np.ndarray, w: np.ndarray, interpolated: bool) -> tuple:
    """The exact-quartile kernel: quartiles of one group of cells, the
    distinct values ``x`` with their Σw ``w`` (a count when unweighted).
    A value may appear in several cells — a global group is just the
    concatenation of its per-strat cells. Each quartile blends the
    values picked at its :func:`_targets`; integral weights equal
    numpy's linear percentile on the row-replicated values.

    With integral weights every partial sum is exact in double, so the
    result does not depend on how the cells were split or ordered."""
    xs, cum = _sorted_cum(x, w)
    return tuple(
        _blend([float(xs[_pick(cum, t, interpolated)]) for t in ts], f)
        for ts, f in _targets(float(cum[-1]), interpolated)
    )


def _groups(cells: pa.Table, stratified: bool):
    """Yield ``((var position, strat), x, w)`` for every (var, strat)
    group of ``cells`` and, when stratified, every var's global
    ``(var, None)`` group — the concatenation of its per-strat cells."""
    n = cells.num_rows
    if n == 0:
        return
    vi = cells["t1_var"].to_numpy().astype(np.int64)
    if stratified:
        d = cells[STRAT].combine_chunks().dictionary_encode()
        si, snames = d.indices.to_numpy().astype(np.int64), d.dictionary.to_pylist()
    else:
        si, snames = np.zeros(n, np.int64), [None]
    order = np.lexsort((si, vi))  # stable: groups become contiguous runs
    x = cells["t1_x"].to_numpy()[order]
    w = cells["sw"].to_numpy()[order]
    vi, si = vi[order], si[order]

    def runs(ids):
        cuts = np.flatnonzero(np.diff(ids)) + 1
        return zip(np.r_[0, cuts], np.r_[cuts, n])

    for a, b in runs(vi * len(snames) + si):
        yield (int(vi[a]), snames[si[a]]), x[a:b], w[a:b]
    if stratified:
        for a, b in runs(vi):
            yield (int(vi[a]), None), x[a:b], w[a:b]


def _place_targets(part_sw: dict, interpolated: bool) -> tuple[dict, dict]:
    """Driver half of the distributed kernel. ``part_sw[key][pid]`` is
    the Σw of group ``key`` = (var, strat) in range partition ``pid``;
    partitions ascend in x, so the running Σw over them locates every
    :func:`_targets` target in one partition, by :func:`_pick`.

    Returns ``requests[pid][key] = (Σw of key before pid, Σw of key in
    pid, [(request id, target), ...])`` for :func:`_partition_picks`,
    and ``blends[key] = [(request ids, f) per quartile]`` for
    :func:`_blend`."""
    requests: dict[int, dict] = {}
    blends: dict[tuple, list] = {}
    rid = 0
    for key, by_pid in part_sw.items():
        pids = sorted(by_pid)
        pcum = np.cumsum([by_pid[p] for p in pids])
        blends[key] = []
        for ts, f in _targets(float(pcum[-1]), interpolated):
            rids = []
            for t in ts:
                i = _pick(pcum, t, interpolated)
                offset = float(pcum[i - 1]) if i else 0.0
                group = requests.setdefault(pids[i], {}).setdefault(
                    key, (offset, by_pid[pids[i]], [])
                )
                group[2].append((rid, t))
                rids.append(rid)
                rid += 1
            blends[key].append((rids, f))
    return requests, blends


def _partition_picks(requests: dict, stratified: bool, interpolated: bool, batches):
    """``mapInArrow`` body of the distributed kernel: the cells of one
    range partition, ranked with the driver kernel's arithmetic.
    ``requests[pid][(var, strat)]`` is the group's Σw before and in this
    partition and its ``(request id, target)`` pairs; yields the picked
    value of every request this partition holds.

    The Σw in the partition is checked: the partitioning is fixed by
    persist(), but a concurrent call that persisted the same plan can
    unpersist it in between, and a recomputed range partitioning may
    cut elsewhere."""
    batches = [b for b in batches if b.num_rows]
    wanted = requests.get(batches[0]["pid"][0].as_py()) if batches else None
    if not wanted:
        return
    cells = pa.Table.from_batches(batches)
    rids, vals = [], []
    for key, x, w in _groups(cells, stratified):
        if key in wanted:
            offset, part_w, picks = wanted[key]
            xs, cum = _sorted_cum(x, w, offset)
            if not np.isclose(cum[-1] - offset, part_w, rtol=1e-9, equal_nan=True):
                raise RuntimeError(_MOVED)
            for rid, t in picks:
                rids.append(rid)
                vals.append(float(xs[_pick(cum, t, interpolated)]))
    yield pa.RecordBatch.from_arrays(
        [pa.array(rids, pa.int64()), pa.array(vals, pa.float64())], ["rid", "x"]
    )


def collect_sufficient(
    df: DataFrame,
    col_to_strat: str,
    cat_vars: list[str],
    cont_vars: list[str],
    strat_cardinality_limit: int = 1_000,
    quantile_mode: str = "data",
    cat_cells_limit: int = 1_000_000,
    weight_col: str | None = None,
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

    def run_exact():
        # every quartile. Melt the variables by position and compress to
        # the distinct (var, value[, strat]) cells with their Σw (a count
        # when unweighted) — ONE shuffle, map-side combined, carrying
        # distinct values, not rows. Up to cat_cells_limit cells are
        # collected as Arrow and ranked on the driver; past it they stay
        # distributed (run_spread). Var positions map back to names last.
        casts = ", ".join(
            f"{i}, CAST({_quote(v)} AS DOUBLE)" for i, v in enumerate(cont_vars)
        )
        stack = F.expr(f"stack({len(cont_vars)}, {casts}) as (t1_var, t1_x)")
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
            quarts = run_spread(g)
        else:
            quarts = {
                key: _quartiles(x, w, interpolated)
                for key, x, w in _groups(cells, stratified)
            }
        return {(cont_vars[v], s): q for (v, s), q in quarts.items()}

    def run_spread(g: DataFrame):
        # the distributed form of the same kernel. Range-partition the
        # cells by (var, x), so each partition holds a contiguous x range
        # of its vars, every stratum included; persist() freezes that
        # partitioning across the two actions below (a lost block is
        # recomputed from the range shuffle's files, unlike a
        # localCheckpoint). One tiny collect of Σw per (partition,
        # var[, strat]) places every quartile target in one partition,
        # with the group's Σw before it; one mapInArrow pass then picks
        # the targets inside those partitions (_partition_picks), and
        # the driver blends them as _quartiles does.
        ranged = g.repartitionByRange("t1_var", "t1_x").persist()
        try:
            cells = ranged.withColumn("pid", F.spark_partition_id())
            part_sw: dict[tuple, dict[int, float]] = {}
            for r in (
                cells.groupBy("pid", "t1_var", *([STRAT] if stratified else []))
                .agg(F.sum("sw").alias("sw"))
                .collect()
            ):
                strata = (r[STRAT], None) if stratified else (None,)
                for s in strata:
                    by_pid = part_sw.setdefault((r["t1_var"], s), {})
                    by_pid[r["pid"]] = by_pid.get(r["pid"], 0.0) + r["sw"]
            requests, blends = _place_targets(part_sw, interpolated)
            picked = dict(
                cells.mapInArrow(
                    partial(_partition_picks, requests, stratified, interpolated),
                    "rid long, x double",
                ).collect()
            )
        finally:
            ranged.unpersist()
        if len(picked) != sum(len(rids) for qs in blends.values() for rids, _f in qs):
            raise RuntimeError(_MOVED)
        return {
            key: tuple(_blend([picked[r] for r in rids], f) for rids, f in qs)
            for key, qs in blends.items()
        }

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
    # One schedule for every mode: counts ∥ moments ∥ cat ∥ quartile
    # cells; Spark's scheduler interleaves the concurrent jobs.
    with ThreadPoolExecutor(max_workers=4) as pool:
        # 4 workers = the whole job set, so none waits behind another
        f_cat = pool.submit(run_cat) if cat_vars else None
        f_counts = pool.submit(run_counts)
        f_moments = pool.submit(run_moments) if cont_vars else None
        f_exact = pool.submit(run_exact) if cont_vars else None
        out.strat_counts, out.total = f_counts.result()
        cont_rows = f_moments.result() if f_moments is not None else []
        quarts = f_exact.result() if f_exact is not None else {}
        cat_rows = f_cat.result() if f_cat is not None else []

    # ---- unpack ---------------------------------------------------------
    to_stats = _row_to_stats_weighted if weighted else _row_to_stats
    for v in cont_vars:
        out.cont[v] = {}
    for row in cont_rows:
        key = row[STRAT] if stratified else None
        for i, v in enumerate(cont_vars):
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
