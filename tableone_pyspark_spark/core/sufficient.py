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

Two routes reach the same cells, chosen by Spark's own size estimate of
the pruned, filtered projection (the optimized plan's ``sizeInBytes``,
read without running a job) against the engine's ``ROWS_ROUTE_BYTES``:

    rows   the estimate is at most ``ROWS_ROUTE_BYTES``: the projection
           comes back once as Arrow, read by one task (``coalesce(1)``,
           so no exchange however many partitions the input has), and
           is grouped on the driver as Spark groups it — -0.0 is 0.0,
           every NaN is one value, a null strat value is a stratum. The
           categorical and strat-count cells are tallied
           (:func:`_driver_cells`); each continuous column goes straight
           to the grouping kernel, so its cells are never built as a
           table. One Spark job, one task, no shuffle. The rows it
           brings back are bounded twice: at most ``cat_cells_limit`` of
           them, and at most as many values (rows × projected columns)
           as ``cat_cells_limit`` cells of 5 columns hold; their cells,
           the continuous ones included, must fit under
           ``cat_cells_limit`` too, or the job groups them.
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
threshold, the rows or cells it collected, the seconds spent in the
collects (``collect_s``) and in the driver's grouping and kernel
(``group_s``), and the kernel's thread count (``threads``).

Every continuous statistic comes from one grouping kernel
(:func:`_grouped`), run once per variable, weighted and unweighted
alike: over the variable's rows on the rows route, over its cells on
the cells route, over its cells in one range partition on the spread
route. It ranks the distinct values once (NaN last, as Spark orders
doubles) and tallies the distinct (value, raw strat value) keys, so the
cells sort by (x, stratum, raw value) however the rows arrived: together
they are the variable's global group, and each stratum's cells, a
subsequence still in x order, are its group. Per group, n = Σw, min and
max are the group's ends, the mean is Σwx/Σw, the variance is
Σw(x − mean)²/(Σw − 1) by the corrected two-pass sum (:func:`_summary`),
so a large common offset does not cancel it away, and the quartiles are
picked from the running Σw (:func:`_ranked`): ``quantile_disc`` in
"data" mode, the DuckDB ``quantile_cont`` blend in "interpolated" mode.
Global order statistics are not mergeable from per-group results, which
is why the global group is ranked from all of the variable's cells. On
the driver the variables run on a thread pool, one thread per variable
and at most one per CPU (:func:`_workers`): numpy's sorts release the
GIL. The pool runs numpy only; every Spark job stays in the caller's
thread.

Past ``cat_cells_limit`` (the spread route) the categorical and count
cells are still collected under the guard (a ValueError when they
exceed it), and the continuous cells stay distributed
(:func:`run_spread`): they are range-partitioned by (var, x); one
``mapInArrow`` pass groups each partition's cells with the same kernel
and summarizes every (partition, var, strat) (Σw, min, max, mean, M2),
the driver merges the partitions with Chan et al.'s pairwise update and
places each quartile target in one partition; a second ``mapInArrow``
pass groups them again and picks the targets there with the driver
kernel's target, pick and blend helpers. Memory is O(distinct values
per group) on the driver, O(distinct values per partition) on an
executor.

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
import os
import time
import warnings
from concurrent.futures import ThreadPoolExecutor
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
#: Measured with ``scripts/route_crossover.py`` (lineitem, 9 columns,
#: local[4] on a 4-vCPU host), each continuous variable grouped on a
#: driver thread of its own: the rows route beat the cells job at every
#: size from 150k to 1M rows, by 59-67% over one file (one scan task)
#: and by 10-41% over 4 files (1M rows, 17.3 MB: 1.56 vs 2.50 s), so
#: the gate no longer marks a crossover. It bounds the probe instead:
#: past about 500k rows (9.5 MB over 4 files) a lineitem-shaped input
#: holds more rows than the value bound admits at the default
#: ``cat_cells_limit``, and a larger input's probe, read by one task,
#: would only be discarded. The gate sits just above the 600k-row,
#: 4-file input (11.4 MB).
ROWS_ROUTE_BYTES = 12 * 1024 * 1024
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


def _runs(ids: np.ndarray):
    """(start, stop) of every run of equal values in ``ids``."""
    if not len(ids):
        return ()
    cuts = np.flatnonzero(ids[1:] != ids[:-1]) + 1
    return zip(np.r_[0, cuts], np.r_[cuts, len(ids)])


@dataclass(frozen=True)
class _Strata:
    """The strata of a raw strat column. ``raw`` holds its distinct raw
    values ordered by (cleaned value, raw value), with null a value of
    its own; a row's ``code`` is its raw value's position there, and
    ``rank[code]`` the position of its cleaned value, its stratum, in
    ``names`` (name order). Sorting by code sorts by (stratum, raw
    value), whatever order the rows arrived in."""

    code: np.ndarray
    raw: pa.Array
    rank: np.ndarray
    names: list


def _strata(col: pa.ChunkedArray) -> _Strata:
    """The :class:`_Strata` of raw strat values, each distinct value
    cleaned once (:func:`sanitize_value`)."""
    d = pc.dictionary_encode(col.combine_chunks(), null_encoding="encode")
    raw = d.dictionary.cast(pa.string())
    values = raw.to_pylist()
    clean = [sanitize_value(r) for r in values]
    order = sorted(range(len(values)), key=lambda j: (clean[j], values[j] is not None, values[j] or ""))
    names = sorted(set(clean))
    rank = {s: i for i, s in enumerate(names)}
    pos = np.empty(len(order), np.int64)
    pos[order] = np.arange(len(order))
    return _Strata(
        code=pos[d.indices.to_numpy()],
        raw=raw.take(pa.array(order, pa.int64())),
        # the smallest integer type: numpy sorts it stably by radix
        rank=np.array([rank[clean[j]] for j in order], np.min_scalar_type(max(len(names) - 1, 0))),
        names=names,
    )


def _tally(key: np.ndarray, w: np.ndarray | None) -> tuple[np.ndarray, np.ndarray]:
    """The distinct values of the integer ``key`` and, per value, its Σw
    (a count when ``w`` is None)."""
    if w is None:
        return np.unique(key, return_counts=True)
    uk, inv = np.unique(key, return_inverse=True)
    return uk, np.bincount(inv, weights=w)


def _grouped(x: np.ndarray, code: np.ndarray | None, w: np.ndarray | None, strata: _Strata | None):
    """The grouping kernel of every continuous statistic, for one
    variable: its values ``x`` (nulls dropped) with their strat
    ``code`` and weight ``w`` (None: unstratified; a count each).

    Groups as Spark groups doubles: -0.0 is 0.0 and every NaN is one
    value, sorted last. One pass ranks the distinct values; the cells
    are then the distinct (value rank, code) keys, which sort by (x,
    stratum, raw strat value), each with its Σw summed in arrival order.
    Fed cells that are already distinct, it keeps them all. Returns the
    number of cells and the groups ``(strat, xs, Σw)``, ``xs``
    ascending and Σw float: each stratum's, a subsequence of the cells
    in x order, and then the variable's global group (strat None), all
    of them. The key orders the cells however the values arrived, so
    every sum over a group does too."""
    if not len(x):
        return 0, []
    values, xi = np.unique(x + 0.0, return_inverse=True)
    k = 1 if code is None else len(strata.raw)
    cells, sw = _tally(xi if code is None else xi * k + code, w)
    xs, sw = values[cells // k], sw.astype(np.float64)
    groups = []
    if code is not None:
        rank = strata.rank[cells % k]
        sub = np.argsort(rank, kind="stable")
        for a, b in _runs(rank[sub]):
            cut = sub[a:b]
            groups.append((strata.names[rank[cut[0]]], xs[cut], sw[cut]))
    groups.append((None, xs, sw))
    return len(xs), groups


def _by_var(cells: pa.Table, strata: _Strata | None) -> dict[int, tuple]:
    """Each var's ``(x, strat code, Σw)`` in a table of cells."""
    vi = cells["t1_var"].to_numpy()
    order = np.argsort(vi, kind="stable")
    vi = vi[order]
    x = cells["t1_x"].to_numpy()[order]
    w = cells["sw"].to_numpy().astype(np.float64)[order]
    code = None if strata is None else strata.code[order]
    return {
        int(vi[a]): (x[a:b], None if code is None else code[a:b], w[a:b])
        for a, b in _runs(vi)
    }


def _cells_groups(cells: pa.Table, stratified: bool):
    """Yield ``((var position, strat), xs, Σw)`` for every group of a
    table of cells: :func:`_grouped` on each var's cells."""
    strata = _strata(cells[STRAT]) if stratified else None
    for v, (x, code, w) in _by_var(cells, strata).items():
        for s, xs, sw in _grouped(x, code, w, strata)[1]:
            yield (v, s), xs, sw


def _workers(n_vars: int) -> int:
    """The driver threads the continuous kernel runs on: one per
    variable, at most one per CPU this process may run on."""
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity outside Linux
        cpus = os.cpu_count() or 1
    return min(n_vars, cpus)


def _cont_stats(
    n_cont: int, values, strata: _Strata | None, interpolated: bool, weighted: bool
) -> tuple[int, dict, int]:
    """Every continuous statistic on the driver: :func:`_grouped`,
    :func:`_summary` and :func:`_ranked` over ``values(i)``, the
    ``(x, strat code, w)`` of variable ``i``, one variable per task of a
    thread pool. The pool runs numpy only (its sorts release the GIL);
    Spark jobs stay in the caller's thread. Returns the number of
    distinct continuous cells, ``{(var position, strat): ContStat}`` and
    the pool's size."""

    def one(i: int):
        n, groups = _grouped(*values(i), strata)
        return n, [
            ((i, s), _cont_stat(_summary(xs, sw), _ranked(xs, _cum(sw), interpolated), weighted))
            for s, xs, sw in groups
        ]

    threads = _workers(n_cont)
    if not threads:
        return 0, {}, 0
    with ThreadPoolExecutor(threads) as pool:
        done = list(pool.map(one, range(n_cont)))
    return sum(n for n, _ in done), dict(kv for _, kvs in done for kv in kvs), threads


def _partition_summaries(stratified: bool, batches):
    """``mapInArrow`` body of the distributed path: the :func:`_summary`
    of every (var, strat) group in one range partition, and of every
    var's global group there."""
    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    cells = pa.Table.from_batches(batches)
    pid = cells["pid"][0].as_py()
    rows = [(pid, v, s, *_summary(x, w)) for (v, s), x, w in _cells_groups(cells, stratified)]
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
    for key, xs, w in _cells_groups(cells, stratified):
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


def _driver_cells(rows: pa.Table, n_cont: int, n_cat: int, strata: _Strata | None,
                  w: np.ndarray | None) -> pa.Table:
    """The categorical and strat-count cells the melt/``groupBy`` job
    returns, built on the driver from the collected projection ``rows``:
    the same cells, in another order, without the x column they leave
    null. ``w`` is the rows' weights (None: unweighted). The continuous
    variables go to :func:`_cont_stats` instead."""
    if strata is None:
        si, k = np.zeros(rows.num_rows, np.int64), 1
    else:
        si, k = strata.code, len(strata.raw)
    cols: dict[str, list] = {"t1_var": [], "t1_s": [], STRAT: [], "sw": []}
    if strata is None:
        del cols[STRAT]

    def add(var: int, s, strat: np.ndarray, sw: np.ndarray) -> None:
        m = len(sw)
        cols["t1_var"].append(pa.array(np.full(m, var, np.int32)))
        cols["t1_s"].append(pa.nulls(m, pa.string()) if s is None else s)
        if strata is not None:
            cols[STRAT].append(strata.raw.take(pa.array(strat)))
        cols["sw"].append(pa.array(sw, pa.int64() if w is None else pa.float64()))

    for j in range(n_cat):
        d = pc.dictionary_encode(rows[f"__t1_{n_cont + j}"].combine_chunks())
        uk, sw = _tally(d.indices.to_numpy().astype(np.int64) * k + si, w)
        add(n_cont + j, d.dictionary.cast(pa.string()).take(pa.array(uk // k)), uk % k, sw)
    uk, sw = _tally(si, w)
    add(n_cont + n_cat, None, uk, sw)
    return pa.table({name: pa.concat_arrays(arrays) for name, arrays in cols.items()})


def _column(rows: pa.Table, strata: _Strata | None, w: np.ndarray | None, i: int) -> tuple:
    """Continuous variable ``i`` of the collected projection ``rows``:
    its non-null values with their strat codes and weights."""
    col = rows[f"__t1_{i}"]
    code = None if strata is None else strata.code
    if not col.null_count:
        return col.to_numpy(), code, w
    valid = pc.is_valid(col).to_numpy(zero_copy_only=False)
    return (
        pc.drop_null(col).to_numpy(),
        None if code is None else code[valid],
        None if w is None else w[valid],
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
    # and is grouped there; anything else, or rows whose cells overflow
    # the guard, is grouped by the job
    estimate = _size_estimate(proj)
    row_cap = min(cat_cells_limit, _CELL_COLUMNS * cat_cells_limit // len(proj_cols))
    n_rows = stats = None
    collect_s = group_s = 0.0
    if estimate is not None and estimate <= ROWS_ROUTE_BYTES:
        t = time.perf_counter()
        rows = proj.coalesce(1).limit(row_cap + 1).toArrow()
        collect_s, n_rows = time.perf_counter() - t, rows.num_rows
        if n_rows <= row_cap:
            t = time.perf_counter()
            strata = _strata(rows[STRAT]) if stratified else None
            w = rows[WEIGHT].to_numpy() if weighted else None
            side = _driver_cells(rows, n_cont, len(cat_vars), strata, w)
            n_cells, stats, threads = _cont_stats(
                n_cont, partial(_column, rows, strata, w), strata, interpolated, weighted
            )
            n_cells += side.num_rows
            group_s = time.perf_counter() - t
    route = "rows"
    if stats is None or n_cells > cat_cells_limit:
        t = time.perf_counter()
        cells = g.limit(cat_cells_limit + 1).toArrow()
        route, n_cells, stats, threads = "cells", cells.num_rows, {}, 0
        if n_cells > cat_cells_limit:
            route = "spread"
            side = g.where(F.col("t1_var") >= n_cont).limit(cat_cells_limit + 1).toArrow()
            n_cells = side.num_rows
        collect_s += time.perf_counter() - t
    if route == "cells":
        t = time.perf_counter()
        is_cont = pc.less(cells["t1_var"], n_cont)
        side, cont = cells.filter(pc.invert(is_cont)), cells.filter(is_cont)
        strata = _strata(cont[STRAT]) if stratified else None
        by_var = _by_var(cont, strata)
        _n, stats, threads = _cont_stats(
            n_cont, lambda i: by_var.get(i, (np.zeros(0), None, None)), strata,
            interpolated, weighted,
        )
        group_s += time.perf_counter() - t
    record = {"route": route, "size_estimate": estimate, "threshold": ROWS_ROUTE_BYTES,
              "rows": n_rows, "cells": n_cells, "collect_s": collect_s, "group_s": group_s,
              "threads": threads}
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

    # ---- past the guard, every continuous statistic stays distributed --
    if route == "spread" and cont_vars:
        cont_cells = g.where(F.col("t1_var") < n_cont).drop("t1_s")
        stats = run_spread(cont_cells, stratified, interpolated, weighted)
    # an all-NULL (var, strat) group has no cells
    groups = [None, *out.strat_counts]
    for i, v in enumerate(cont_vars):
        out.cont[v] = {s: stats.get((i, s), _EMPTY) for s in groups}
    return out
