"""Sufficient-statistics collection for TableOne: one pass over the input.

Every statistic comes from the distinct-value cells of one projection
(the reference runs ~16 scans *per continuous variable*,
tableone_pyspark.py:325-437, plus a full-column ``toPandas`` per
p-value, :453/:500). The projection holds, per input row that survives
the weight filter, ``CAST(v AS DOUBLE)`` of each continuous variable,
``COALESCE(v, 'MISSING')`` of each categorical one, the raw strat value
cast to string and the weight. Its cells are (var, x, s[, raw strat])
with Σw (a count when unweighted):

    continuous   (var, x), null values dropped
    categorical  (var, s)
    strat count  one pseudo-variable: its cells give the strat row
                 counts, the total, and the sanitization-collision check
                 (a cleaned strat value with more than one raw value)

Two routes build the same cells, chosen by Spark's own size estimate of
the pruned, filtered projection (the optimized plan's ``sizeInBytes``,
read without running a job) against the engine's ``ROWS_ROUTE_BYTES``:

    rows   the estimate is at most ``ROWS_ROUTE_BYTES``: the projection
           comes back once as Arrow, read by one task (``coalesce(1)``,
           so no exchange however many partitions the input has), and
           the cells are grouped on the driver (:func:`_driver_cells`) as
           Spark groups them — -0.0 is 0.0, every NaN is one value, a
           null strat value is a stratum. One Spark job, one task, no
           shuffle. The rows it brings back are bounded twice: at most
           ``cat_cells_limit`` of them, and at most as many values
           (rows × projected columns) as ``cat_cells_limit`` cells of 5
           columns hold.
    cells  otherwise (no estimate on Spark Connect; an RDD-backed input,
           whose estimate is ``Long.MaxValue``), or when the rows or
           their cells pass those bounds: one ``stack`` melts the
           projection into one row per analyzed variable plus one for
           the strat counts, and one ``groupBy`` compresses the melt
           map-side, so the one shuffle carries distinct values, not
           rows. Under AQE the shuffle's map stage runs as a Spark job of
           its own: 2 jobs, 1 input scan. The cells come back once as
           Arrow, guarded by ``cat_cells_limit``.

The strat value enters raw and is cleaned on the driver, once per
distinct value (:func:`sanitize_value`). Each call logs one DEBUG record
naming its route (rows, cells or spread), the size estimate, the
threshold and the rows or cells it collected.

Every continuous statistic comes from one numpy pass over the cells on
the driver, weighted and unweighted alike (:func:`_groups`): sort once
by (var, x, strat), NaN last as Spark orders doubles; a var's run is its
global group and each stratum's cells are a stable subsequence of that
run. Per group, n = Σw, min and max are the run's ends, the mean is
Σwx/Σw, the variance is Σw(x − mean)²/(Σw − 1) by the corrected
two-pass sum (:func:`_summary`), so a large common offset does not
cancel it away, and the quartiles are picked from the running Σw (:func:`_ranked`):
``quantile_disc`` in "data" mode, the DuckDB ``quantile_cont`` blend in
"interpolated" mode. Global order statistics are not mergeable from
per-group results, which is why the global group is ranked from the
concatenation of its per-strat cells.

Past ``cat_cells_limit`` (the spread route) the categorical and count
cells are still collected under the guard (a ValueError when they
exceed it), and the continuous cells stay distributed
(:func:`run_spread`): they are
range-partitioned by (var, x); one ``mapInArrow`` pass summarizes every
(partition, var, strat) with the same numpy function (Σw, min, max,
mean, M2), the driver merges the partitions with Chan et al.'s pairwise
update and places each quartile target in one partition; a second
``mapInArrow`` pass picks the targets there with the driver kernel's
target, pick and blend helpers. Memory is O(distinct values per group)
on the driver, O(distinct values per partition) on an executor.

Weighted mode (``weight_col``): weights are FREQUENCY weights — the
results are defined to equal the unweighted results on a row-replicated
frame (exactly true for integer weights; pinned by test). Rows with
null/non-positive weight are excluded everywhere. The cells carry Σw
instead of a count, and every statistic above reads Σw where the
unweighted one reads the count: "data" mode is
``min(x WHERE cumΣw >= p·Σw)`` — the weighted generalization of
``quantile_disc`` (reduces to it at w=1).
"""

from __future__ import annotations

import logging
import math
import warnings
from dataclasses import dataclass, field
from functools import partial, reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from tableone_pyspark_spark.core.sanitize import MISSING, sanitize_value

#: internal strat column name — namespaced to avoid user-column clashes
STRAT = "__t1_strat__"
#: internal weight column name (weighted mode only)
WEIGHT = "__t1_w__"
QUARTILES = (0.25, 0.5, 0.75)
#: the rows route's gate: the largest projection, by Spark's size
#: estimate of its optimized plan, that comes to the driver as rows.
#: The rows route groups on one driver thread, the cells job in one
#: task per input partition, so the gate is where the rows route stops
#: winning on a parallel scan. Measured with ``scripts/route_crossover.py``
#: (lineitem, 9 columns, local[4] on a 4-vCPU host): over 4 files it won
#: up to 5.1 MB, tied at 6.1 MB and lost from 8.8 MB (by 17% at 17 MB);
#: over one file (one scan task) it won by a third up to 16 MB.
ROWS_ROUTE_BYTES = 6 * 1024 * 1024
#: the columns of one cell (var, x, s, strat, Σw): the rows route
#: brings back no more values than ``cat_cells_limit`` cells hold
_CELL_COLUMNS = 5
log = logging.getLogger(__name__)
_MOVED = (
    "the range partitions of the quartile cells changed between two passes "
    "over them; retry the call"
)
#: one row per (range partition, var, strat) of the distributed path;
#: s is null for a var's global group
_SUMMARY = "pid int, t1_var int, s string, n double, mn double, mx double, mean double, m2 double"


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


_EMPTY = ContStat(0, None, None, None, None, None, None, None, None)


@dataclass
class Sufficient:
    """Everything TableOne needs, from the cells of the module
    docstring."""

    total: int
    strat_counts: dict[str, int] = field(default_factory=dict)  # cleaned value -> rows
    # cont[var][strat_value] ; strat_value None == global / All_Patients
    cont: dict[str, dict[str | None, ContStat]] = field(default_factory=dict)
    # cat[var][(value, strat_value)] -> count ; strat_value None when unstratified
    cat: dict[str, dict[tuple[str, str | None], int]] = field(default_factory=dict)


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _num(x) -> float | None:
    return None if x is None else float(x)


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


def _cum(w: np.ndarray, offset: float = 0.0) -> np.ndarray:
    """The running Σw of x-sorted cells, starting from ``offset``."""
    return np.cumsum(np.r_[offset, w])[1:]


def _ranked(xs: np.ndarray, cum: np.ndarray, interpolated: bool) -> tuple:
    """The quartiles of one group of x-sorted cells with running Σw
    ``cum``: each blends the values picked at its :func:`_targets`."""
    return tuple(
        _blend([float(xs[_pick(cum, t, interpolated)]) for t in ts], f)
        for ts, f in _targets(float(cum[-1]), interpolated)
    )


def _summary(xs: np.ndarray, w: np.ndarray) -> tuple:
    """(Σw, min, max, mean, M2) of one group of x-sorted cells. NaN sorts
    last, so it is the max, as in Spark. The mean is Σwx/Σw, summed as
    offsets from the (finite) min, so a constant group's mean is its
    value. M2 = Σw(x − mean)² is the corrected two-pass sum (Chan,
    Golub and LeVeque): minus (Σw(x − mean))²/Σw, which takes back the
    rounding of the mean, so a large common offset does not cancel the
    spread away. Any NaN or ±inf value makes M2 NaN, as Spark's
    ``stddev_samp``."""
    lo = float(xs[0])
    shift = lo if math.isfinite(lo) else 0.0
    with np.errstate(all="ignore"):
        n = float(w.sum())
        mean = shift + float((w * (xs - shift)).sum()) / n
        d = w * (xs - mean)
        sd = float(d.sum())
        m2 = float((d * (xs - mean)).sum()) - sd * sd / n
    return n, lo, float(xs[-1]), mean, 0.0 if m2 < 0 else m2


def _merge(a: tuple, b: tuple) -> tuple:
    """Chan et al.'s pairwise update of two :func:`_summary` tuples whose
    cells are disjoint, ``b``'s all above ``a``'s (a later range
    partition). The mean is the Σw-weighted mean of the two, so a ±inf
    one stays ±inf."""
    na, mn, _mx, ma, m2a = a
    nb, _mn, mx, mb, m2b = b
    n = na + nb
    d = mb - ma
    return n, mn, mx, (na * ma + nb * mb) / n, m2a + m2b + d * d * na * nb / n


def _cont_stat(summary: tuple, quarts: tuple, weighted: bool) -> ContStat:
    n, mn, mx, mean, m2 = summary
    var = m2 / (n - 1.0) if n > 1 else None
    return ContStat(
        n=n if weighted else int(n),
        min=mn,
        max=mx,
        mean=mean,
        stddev=None if var is None else math.sqrt(var),
        var=var,
        q25=quarts[0],
        q50=quarts[1],
        q75=quarts[2],
    )


def _groups(cells: pa.Table, stratified: bool):
    """Yield ``((var position, strat), x, w)`` for every (var, strat)
    group of ``cells`` and, when stratified, every var's global
    ``(var, None)`` group — the concatenation of its per-strat cells.
    ``x`` ascends (NaN last) and ``w`` is float. ``cells[STRAT]`` holds
    raw strat values; a stratum is their cleaned value
    (:func:`sanitize_value`).

    One sort by (var, x, strat) orders everything: a var's run is its
    global group, and a stable sort by (var, strat) on top keeps each
    stratum's cells in x order. The key is unique per cell (unless two
    raw values clean alike), so the order, and every sum over it, does
    not depend on the order the cells arrived in."""
    n = cells.num_rows
    if n == 0:
        return
    vi = cells["t1_var"].to_numpy().astype(np.int64)
    x = cells["t1_x"].to_numpy()
    w = cells["sw"].to_numpy().astype(np.float64)
    if stratified:
        # the strata are the cleaned raw values, in name order
        d = pc.dictionary_encode(cells[STRAT].combine_chunks(), null_encoding="encode")
        names = [sanitize_value(r) for r in d.dictionary.to_pylist()]
        snames = sorted(set(names))
        rank = {s: i for i, s in enumerate(snames)}
        si = np.array([rank[s] for s in names], np.int64)[d.indices.to_numpy()]
        order = np.lexsort((si, x, vi))
    else:
        si, snames = np.zeros(n, np.int64), [None]
        order = np.lexsort((x, vi))
    x, w, vi, si = x[order], w[order], vi[order], si[order]

    def runs(ids):
        cuts = np.flatnonzero(np.diff(ids)) + 1
        return zip(np.r_[0, cuts], np.r_[cuts, n])

    if stratified:
        gid = vi * len(snames) + si
        sub = np.argsort(gid, kind="stable")
        xg, wg, gid = x[sub], w[sub], gid[sub]
        for a, b in runs(gid):
            v, s = divmod(int(gid[a]), len(snames))
            yield (v, snames[s]), xg[a:b], wg[a:b]
    for a, b in runs(vi):
        yield (int(vi[a]), None), x[a:b], w[a:b]


def _partition_summaries(stratified: bool, batches):
    """``mapInArrow`` body of the distributed path: the :func:`_summary`
    of every (var, strat) group in one range partition, and of every
    var's global group there."""
    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    cells = pa.Table.from_batches(batches)
    pid = cells["pid"][0].as_py()
    rows = [(pid, v, s, *_summary(x, w)) for (v, s), x, w in _groups(cells, stratified)]
    types = [pa.int32(), pa.int32(), pa.string()] + [pa.float64()] * 5
    yield pa.RecordBatch.from_arrays(
        [pa.array(col, t) for col, t in zip(zip(*rows), types)],
        ["pid", "t1_var", "s", "n", "mn", "mx", "mean", "m2"],
    )


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
    for key, xs, w in _groups(cells, stratified):
        if key in wanted:
            offset, part_w, picks = wanted[key]
            cum = _cum(w, offset)
            if not np.isclose(cum[-1] - offset, part_w, rtol=1e-9, equal_nan=True):
                raise RuntimeError(_MOVED)
            for rid, t in picks:
                rids.append(rid)
                vals.append(float(xs[_pick(cum, t, interpolated)]))
    yield pa.RecordBatch.from_arrays(
        [pa.array(rids, pa.int64()), pa.array(vals, pa.float64())], ["rid", "x"]
    )


def run_spread(g: DataFrame, stratified: bool, interpolated: bool, weighted: bool) -> dict:
    """Every continuous statistic from the cell frame ``g``, without
    collecting it. Range-partition the cells by (var, x), so each
    partition holds a contiguous x range of its vars, every stratum
    included; persist() freezes that partitioning across the two passes
    below (a lost block is recomputed from the range shuffle's files,
    unlike a localCheckpoint). One ``mapInArrow`` pass returns the
    :func:`_summary` of every (partition, var, strat); the driver merges
    them in partition order and places every quartile target in one
    partition, with the group's Σw before it; a second pass picks the
    targets inside those partitions (:func:`_partition_picks`), and the
    driver blends them as :func:`_ranked` does."""
    ranged = g.repartitionByRange("t1_var", "t1_x").persist()
    try:
        cells = ranged.withColumn("pid", F.spark_partition_id())
        parts: dict[tuple, dict[int, tuple]] = {}
        for r in cells.mapInArrow(partial(_partition_summaries, stratified), _SUMMARY).collect():
            parts.setdefault((r["t1_var"], r["s"]), {})[r["pid"]] = (
                r["n"], r["mn"], r["mx"], r["mean"], r["m2"]
            )
        requests, blends = _place_targets(
            {key: {p: s[0] for p, s in by_pid.items()} for key, by_pid in parts.items()},
            interpolated,
        )
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
        key: _cont_stat(
            reduce(_merge, (by_pid[p] for p in sorted(by_pid))),
            tuple(_blend([picked[r] for r in rids], f) for rids, f in blends[key]),
            weighted,
        )
        for key, by_pid in parts.items()
    }


def _size_estimate(proj: DataFrame) -> int | None:
    """Spark's own size estimate of ``proj``'s optimized plan, in bytes
    (the figure ``JoinSelection`` compares with the broadcast threshold).
    Reading it plans ``proj`` but runs no job. None where there is no
    JVM plan to read (Spark Connect)."""
    try:
        jdf = proj._jdf
    except AttributeError:
        return None
    return int(jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _tally(key: np.ndarray, w: np.ndarray | None) -> tuple[np.ndarray, np.ndarray]:
    """The distinct values of the integer ``key`` and, per value, its Σw
    (a count when ``w`` is None)."""
    uk, inv = np.unique(key, return_inverse=True)
    return uk, np.bincount(inv) if w is None else np.bincount(inv, weights=w)


def _x_cells(x: np.ndarray, si: np.ndarray, w: np.ndarray | None) -> tuple:
    """The distinct (x, strat code) cells of one continuous variable and
    their Σw, grouped as Spark groups doubles: -0.0 is 0.0 and every NaN
    is one value."""
    if not len(x):
        return x, si, np.zeros(0, np.int64 if w is None else np.float64)
    x = x + 0.0
    order = np.lexsort((si, x))
    x, si = x[order], si[order]
    nan = np.isnan(x)
    new = np.r_[True, (si[1:] != si[:-1]) | ((x[1:] != x[:-1]) & ~(nan[1:] & nan[:-1]))]
    starts = np.flatnonzero(new)
    sw = np.diff(np.r_[starts, len(x)]) if w is None else np.add.reduceat(w[order], starts)
    return x[starts], si[starts], sw


def _driver_cells(
    rows: pa.Table, n_cont: int, n_cat: int, stratified: bool, weighted: bool
) -> pa.Table:
    """The cells the melt/``groupBy`` job returns, built on the driver
    from the collected projection ``rows``: the same columns, types and
    cells, in another order."""
    n = rows.num_rows
    if stratified:
        d = pc.dictionary_encode(rows[STRAT].combine_chunks(), null_encoding="encode")
        sdict, si = d.dictionary.cast(pa.string()), d.indices.to_numpy().astype(np.int64)
        k = len(sdict)
    else:
        sdict, si, k = None, np.zeros(n, np.int64), 1
    w = rows[WEIGHT].to_numpy() if weighted else None
    cols: dict[str, list] = {"t1_var": [], "t1_x": [], "t1_s": [], STRAT: [], "sw": []}
    if not stratified:
        del cols[STRAT]

    def add(var: int, x, s, strat: np.ndarray, sw: np.ndarray) -> None:
        m = len(sw)
        cols["t1_var"].append(pa.array(np.full(m, var, np.int32)))
        cols["t1_x"].append(pa.nulls(m, pa.float64()) if x is None else pa.array(x, pa.float64()))
        cols["t1_s"].append(pa.nulls(m, pa.string()) if s is None else s)
        if stratified:
            cols[STRAT].append(sdict.take(pa.array(strat)))
        cols["sw"].append(pa.array(sw, pa.float64() if weighted else pa.int64()))

    for i in range(n_cont):
        col = rows[f"__t1_{i}"]
        if col.null_count:
            valid = pc.is_valid(col).to_numpy(zero_copy_only=False)
            x, si_v, w_v = pc.drop_null(col).to_numpy(), si[valid], None if w is None else w[valid]
        else:
            x, si_v, w_v = col.to_numpy(), si, w
        xs, ss, sw = _x_cells(x, si_v, w_v)
        add(i, xs, None, ss, sw)
    for j in range(n_cat):
        d = pc.dictionary_encode(rows[f"__t1_{n_cont + j}"].combine_chunks())
        uk, sw = _tally(d.indices.to_numpy().astype(np.int64) * k + si, w)
        add(n_cont + j, None, d.dictionary.cast(pa.string()).take(pa.array(uk // k)), uk % k, sw)
    uk, sw = _tally(si, w)
    add(n_cont + n_cat, None, None, uk, sw)
    return pa.table({name: pa.concat_arrays(arrays) for name, arrays in cols.items()})


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
    """Collect the cells by the route the module docstring describes and
    return every statistic TableOne needs."""
    stratified = col_to_strat != ""
    weighted = weight_col is not None
    interpolated = quantile_mode == "interpolated"
    cont_vars, cat_vars = list(dict.fromkeys(cont_vars)), list(dict.fromkeys(cat_vars))
    n_cont = len(cont_vars)
    counts_var = n_cont + len(cat_vars)

    # ---- the one projection both routes read ----------------------------
    names = [f"__t1_{i}" for i in range(counts_var)]
    proj_cols = [F.col(_quote(v)).cast("double").alias(names[i]) for i, v in enumerate(cont_vars)]
    proj_cols += [F.coalesce(F.col(_quote(v)), F.lit(MISSING)).alias(names[n_cont + j])
                  for j, v in enumerate(cat_vars)]
    base = df
    if weighted:
        wc = F.col(_quote(weight_col)).cast("double")
        base = df.where(wc.isNotNull() & (wc > 0))
        proj_cols.append(wc.alias(WEIGHT))
    if stratified:
        # the raw value: it is cleaned on the driver, once per distinct
        # value, instead of by two regexes on every row
        proj_cols.append(F.col(_quote(col_to_strat)).cast("string").alias(STRAT))
    proj = base.select(*proj_cols)

    # ---- the melt: (var position, x, s) per analyzed variable ----------
    melt = [f"{i}, {c}, CAST(NULL AS STRING)" for i, c in enumerate(names[:n_cont])]
    melt += [f"{n_cont + j}, CAST(NULL AS DOUBLE), {c}" for j, c in enumerate(names[n_cont:])]
    melt.append(f"{counts_var}, CAST(NULL AS DOUBLE), CAST(NULL AS STRING)")
    keys = ["t1_var", "t1_x", "t1_s"] + ([STRAT] if stratified else [])
    sw = F.sum(WEIGHT) if weighted else F.count(F.lit(1))
    g = (
        proj.select(
            F.expr(f"stack({len(melt)}, {', '.join(melt)}) AS (t1_var, t1_x, t1_s)"),
            *([WEIGHT] if weighted else []),
            *([STRAT] if stratified else []),
        )
        .where((F.col("t1_var") >= n_cont) | F.col("t1_x").isNotNull())
        .groupBy(*keys)
        .agg(sw.alias("sw"))
    )

    # ---- the one collect, guarded by cat_cells_limit --------------------
    # a small projection comes to the driver as rows, read by one task,
    # and is grouped there; anything else, or a rows probe that
    # overflows the guard, is grouped by the job
    estimate = _size_estimate(proj)
    row_cap = min(cat_cells_limit, _CELL_COLUMNS * cat_cells_limit // len(proj_cols))
    n_rows = cells = None
    if estimate is not None and estimate <= ROWS_ROUTE_BYTES:
        rows = proj.coalesce(1).limit(row_cap + 1).toArrow()
        n_rows = rows.num_rows
        if n_rows <= row_cap:
            cells = _driver_cells(rows, n_cont, len(cat_vars), stratified, weighted)
    route = "rows"
    if cells is None or cells.num_rows > cat_cells_limit:
        route, cells = "cells", g.limit(cat_cells_limit + 1).toArrow()
    spread = cells.num_rows > cat_cells_limit
    if spread:
        route = "spread"
        side = g.where(F.col("t1_var") >= n_cont).limit(cat_cells_limit + 1).toArrow()
        cont = None
    else:
        is_cont = pc.less(cells["t1_var"], n_cont)
        side, cont = cells.filter(pc.invert(is_cont)), cells.filter(is_cont)
    record = {"route": route, "size_estimate": estimate, "threshold": ROWS_ROUTE_BYTES,
              "rows": n_rows, "cells": side.num_rows if spread else cells.num_rows}
    log.debug(
        "collect_sufficient " + " ".join(f"{k}=%s" for k in record), *record.values(),
        extra=record,
    )

    # ---- strat counts, total, collision check, categorical counts ------
    out = Sufficient(total=0)
    nraw: dict[str, int] = {}
    for v in cat_vars:
        out.cat[v] = {}
    raws = side[STRAT].to_pylist() if stratified else [None] * side.num_rows
    clean = {r: sanitize_value(r) for r in set(raws)} if stratified else {None: None}
    for var, s, raw, c in zip(
        side["t1_var"].to_pylist(), side["t1_s"].to_pylist(), raws, side["sw"].to_pylist()
    ):
        strat = clean[raw]
        if var == counts_var:
            out.total += c
            if stratified:
                out.strat_counts[strat] = out.strat_counts.get(strat, 0) + c
                nraw[strat] = nraw.get(strat, 0) + (raw is not None)
        else:
            counts = out.cat[cat_vars[var - n_cont]]
            counts[(s, strat)] = counts.get((s, strat), 0) + c
    strata = set(out.strat_counts)
    if side.num_rows > cat_cells_limit and stratified:
        # an overflowing side may miss strata: read them from the
        # strat-count cells alone, so that too many strata still raise
        # the strat guard rather than the categorical one
        cap = max(cat_cells_limit, strat_cardinality_limit) + 1
        raw = g.where(F.col("t1_var") == counts_var).select(STRAT).limit(cap)
        strata = {sanitize_value(r) for r in raw.toArrow()[STRAT].to_pylist()}
    if len(strata) > strat_cardinality_limit:
        raise ValueError(
            f"stratification column {col_to_strat!r} has "
            f"{len(strata)} distinct values "
            f"(> limit {strat_cardinality_limit}); the output schema grows "
            "with strat cardinality — raise strat_cardinality_limit "
            "explicitly if this is intended"
        )
    if side.num_rows > cat_cells_limit:
        # a high-cardinality "categorical" column (ids, free text) must
        # fail fast, not OOM the driver
        raise ValueError(
            f"categorical variables {cat_vars} produce more than "
            f"{cat_cells_limit} (value × strat) cells — a column is "
            "not actually categorical (ids? free text?); drop it or "
            "raise cat_cells_limit explicitly"
        )
    # sanitization-collision detection (SURVEY Q9): more than one raw
    # value mapping onto one cleaned value means categories silently
    # merged ("a b" ≡ "a_b"; distinct non-ASCII runs ≡ "?"); the null raw
    # value is not counted
    collided = sorted(s for s, k in nraw.items() if k > 1)
    if collided:
        warnings.warn(
            f"strat sanitization merged distinct raw values into "
            f"{collided} (spaces→'_', non-ASCII→'?'; reference "
            ":89-92 semantics, SURVEY Q9)",
            stacklevel=3,
        )

    # ---- every continuous statistic -------------------------------------
    if not cont_vars:
        stats = {}
    elif spread:
        cont_cells = g.where(F.col("t1_var") < n_cont).drop("t1_s")
        stats = run_spread(cont_cells, stratified, interpolated, weighted)
    else:
        stats = {
            key: _cont_stat(_summary(xs, w), _ranked(xs, _cum(w), interpolated), weighted)
            for key, xs, w in _groups(cont, stratified)
        }
    # an all-NULL (var, strat) group has no cells
    groups = [None, *out.strat_counts]
    for i, v in enumerate(cont_vars):
        out.cont[v] = {s: stats.get((i, s), _EMPTY) for s in groups}
    return out
