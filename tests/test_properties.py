"""Property-based invariants of the TableOne output contract
(SURVEY §5.3), over randomized small tables via hypothesis:

  * per-variable percent columns sum to 1 (categorical rows);
  * per-strat counts sum to All_Patients on every categorical row;
  * Index is strictly increasing within the output;
  * output is invariant under input row order and partitioning.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tableone_pyspark_spark import tableone

CATS = ["Yes", "No", "a", "b c", "MISSING-like", "öx", None]
STRATS = ["s1", "s2", "Yes", None]

rows_strategy = st.lists(
    st.tuples(
        st.sampled_from(CATS),
        st.sampled_from(STRATS),
        st.one_of(st.none(), st.floats(-1e6, 1e6, allow_nan=False)),
    ),
    min_size=2,
    max_size=25,
)


def _build(spark, rows):
    return spark.createDataFrame(
        [(c, s, v) for c, s, v in rows], "cat string, strat string, val double"
    )


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=rows_strategy)
def test_percent_and_count_invariants(spark, rows):
    out = tableone(
        _build(spark, rows), col_to_strat="strat", cols_to_analyze=["cat", "val"]
    ).collect()
    strat_cols = [
        c for c in out[0].asDict()
        if not c.endswith("_%")
        and c not in ("Pivoted_column", "Index", "Characteristics", "Variable_type",
                      "Values", "All_Patients")
    ]
    cat_rows = [r for r in out if r["Variable_type"] == "category"]
    assert cat_rows, "categorical variable must emit rows"
    # percents per column sum to 1 over each variable's rows
    for col in ["All_Patients_%"] + [s + "_%" for s in strat_cols]:
        total = sum(r[col] for r in cat_rows if r[col] is not None)
        if any(r[col] is not None for r in cat_rows):
            assert math.isclose(total, 1.0, rel_tol=1e-9), (col, total)
    # strat counts sum to All_Patients row-wise
    for r in cat_rows:
        assert sum(r[s] or 0 for s in strat_cols) == r["All_Patients"]
    # Index strictly increasing (output assembled in order)
    idx = [r["Index"] for r in out]
    assert idx == sorted(idx) and len(set(idx)) == len(idx)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=rows_strategy, seed=st.integers(0, 2**31 - 1))
def test_row_order_and_partition_invariance(spark, rows, seed):
    import random

    df1 = _build(spark, rows)
    shuffled = list(rows)
    random.Random(seed).shuffle(shuffled)
    df2 = _build(spark, shuffled).repartition(7)
    a = tableone(df1, col_to_strat="strat", cols_to_analyze=["cat", "val"]).collect()
    b = tableone(df2, col_to_strat="strat", cols_to_analyze=["cat", "val"]).collect()
    ka = sorted(map(tuple, a))
    kb = sorted(map(tuple, b))
    assert len(ka) == len(kb)
    for ra, rb in zip(ka, kb):
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                # float partition-invariance holds only up to summation
                # reordering error: with ≤25 terms of |x| ≤ 1e6 the
                # bound is ~25·eps·1e6 ≈ 3e-9, so abs_tol=1e-6 is sound
                # (Hypothesis found a catastrophic-cancellation mean of
                # 0.0 vs 1.4e-136 — both correct IEEE answers)
                assert (math.isnan(va) and math.isnan(vb)) or math.isclose(
                    va, vb, rel_tol=1e-9, abs_tol=1e-6
                ), (ra, rb)
            else:
                assert va == vb, (ra, rb)


# ---- round-3 curation operator invariants --------------------------------

funnel_rows = st.lists(
    st.tuples(st.sampled_from(["en", "de", "fr"]), st.integers(0, 500)),
    min_size=1,
    max_size=30,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=funnel_rows)
def test_filter_funnel_chain_invariants(spark, rows):
    from pyspark.sql import functions as F
    from tableone_pyspark_spark.operators.stats import filter_funnel

    df = spark.createDataFrame(rows, "lang string, n_chars long")
    out = sorted(
        filter_funnel(
            df,
            [("en", F.col("lang") == "en"), ("long", F.col("n_chars") >= 200)],
        ).collect(),
        key=lambda r: r["stage"],
    )
    # stage 0 sees every row; each stage can only shrink; chain links
    assert out[0]["n_in"] == len(rows)
    for r in out:
        assert 0 <= r["n_out"] <= r["n_in"]
        assert r["n_dropped"] == r["n_in"] - r["n_out"]
    assert out[1]["n_in"] == out[0]["n_out"]
    # final survivor count equals a direct filter
    want = sum(1 for lang, n in rows if lang == "en" and n >= 200)
    assert out[-1]["n_out"] == want


hist_rows = st.lists(
    st.one_of(st.none(), st.floats(-1e4, 1e4, allow_nan=False)),
    min_size=1,
    max_size=40,
).filter(lambda xs: any(x is not None for x in xs))


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(vals=hist_rows, bins=st.integers(1, 12))
def test_numeric_histogram_partition_of_rows(spark, vals, bins):
    from tableone_pyspark_spark.operators.stats import numeric_histogram

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    out = sorted(
        numeric_histogram(df, "x", bins=bins).collect(), key=lambda r: r["bucket"]
    )
    assert len(out) == bins and sorted(r["bucket"] for r in out) == list(range(bins))
    # histogram is a partition: counts sum to the non-null rows
    assert sum(r["n"] for r in out) == sum(1 for v in vals if v is not None)
    # edges tile the [min, max] range
    lo = min(v for v in vals if v is not None)
    hi = max(v for v in vals if v is not None)
    assert math.isclose(out[0]["lo_edge"], round(lo, 6), abs_tol=1e-6)


mix_rows = st.lists(
    st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=40
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(srcs=mix_rows, tw=st.lists(st.floats(0.1, 5.0), min_size=4, max_size=4))
def test_mixture_weights_feasible_and_proportional(spark, srcs, tw):
    from tableone_pyspark_spark.operators.sampling import mixture_weights

    df = spark.createDataFrame([(s,) for s in srcs], "source string")
    target = dict(zip(["a", "b", "c", "d"], tw))
    out = {r["source"]: r for r in mixture_weights(df, "source", target).collect()}
    kept = {}
    for s, r in out.items():
        assert 0.0 <= r["sample_rate"] <= 1.0 + 1e-9  # never oversample
        kept[s] = r["sample_rate"] * r["n"]
    # at least one source is fully kept (the binding constraint)
    assert any(math.isclose(r["sample_rate"], 1.0, abs_tol=1e-6) for r in out.values())
    # kept counts are proportional to target fractions (within round-6)
    tot_w = sum(target[s] for s in out)
    base = {s: kept[s] / (target[s] / tot_w) for s in out if kept[s] > 0}
    if len(base) > 1:
        vals = list(base.values())
        assert max(vals) - min(vals) < 1e-2 * max(vals) + 1e-6


wq_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),                      # strat
        st.integers(-50, 50).map(float),                  # x (tie-prone)
        st.one_of(                                        # weight
            st.integers(1, 5).map(float),                 # integral
            st.floats(0.125, 4.0, allow_nan=False).map(   # dyadic — exact
                lambda f: round(f * 8) / 8.0 or 0.125
            ),
        ),
    ),
    min_size=2,
    max_size=60,
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=wq_rows)
def test_weighted_quantiles_match_numpy_reference(spark, rows):
    """The weighted exact quartile (core/sufficient.py _ranked on
    the x-sorted distinct-value cells) must equal the direct definition
    min{x : cumΣw >= p·Σw} computed by numpy over the same weighted
    multiset — per strat AND globally. Weights are integral or dyadic
    so every partial sum is exact in double (no rounding-boundary
    flakes)."""
    import numpy as np

    df = spark.createDataFrame(rows, "strat string, x double, w double")
    got = {
        (r["Index"], r["Values"]): r
        for r in tableone(
            df, col_to_strat="strat", cols_to_analyze=["x"], weight_col="w"
        ).collect()
    }

    def ref(sub):
        xs = np.array(sorted({x for _s, x, _w in sub}))
        ws = np.array(
            [sum(w for _s, x2, w in sub if x2 == x) for x in xs]
        )
        cum = np.cumsum(ws)
        tot = cum[-1]
        out = []
        for p in (0.25, 0.5, 0.75):
            out.append(xs[np.searchsorted(cum, p * tot)])
        return out

    strat_names = sorted({s for s, _x, _w in rows})
    label = {0.25: "25th percentile", 0.5: "50th percentile", 0.75: "75th percentile"}
    for k, p in enumerate((0.25, 0.5, 0.75)):
        row = got[(round(1 + (6 + k) / 10, 10), label[p])]
        assert row["All_Patients"] == ref(rows)[k]
        for s in strat_names:
            sub = [r for r in rows if r[0] == s]
            assert row[s] == ref(sub)[k], (s, p)


def _loop_quartiles(cells, interpolated):
    """Reference for the exact-quartile kernel: the pure-Python rank
    loop it replaced — cells (x, w) sorted ascending with NaN last,
    running sums accumulated in that order."""
    cells = sorted(cells, key=lambda c: (math.isnan(c[0]), c[0]))
    total = 0.0
    for _x, w in cells:
        total += w

    def first(pred):  # min x whose running sum satisfies pred
        cum = 0.0
        for x, w in cells:
            cum += w
            if pred(cum):
                return x
        return None

    out = []
    for p in (0.25, 0.5, 0.75):
        if interpolated:
            t = p * (total - 1.0)
            j = math.floor(t)
            f = t - j
            lo = first(lambda c: c > j)
            hi = first(lambda c: c > j + 1)
            hi = cells[-1][0] if hi is None else hi
            out.append(lo if f == 0 or lo == hi else (1.0 - f) * lo + f * hi)
        else:
            out.append(first(lambda c: c >= p * total))
    return tuple(out)


kernel_cells = st.lists(
    st.tuples(
        st.one_of(
            st.integers(-20, 20).map(float),
            st.sampled_from([math.inf, -math.inf, math.nan]),
        ),
        st.one_of(st.integers(1, 5).map(float), st.floats(0.01, 4.0)),
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=200, deadline=None)
@given(cells=kernel_cells, interpolated=st.booleans())
def test_quartile_kernel_matches_loop_reference(cells, interpolated):
    """The driver kernel collect_sufficient runs — a stable sort by x,
    then _ranked over the running Σw (cumsum + searchsorted) — returns
    exactly what the rank loop returns on the same cells: same sort
    order and the same running-sum order, so even fractional weights
    agree bit for bit."""
    import numpy as np

    from tableone_pyspark_spark.core.sufficient import _cum, _ranked

    x = np.array([c[0] for c in cells])
    w = np.array([c[1] for c in cells])
    order = np.argsort(x, kind="stable")
    got = _ranked(x[order], _cum(w[order]), interpolated)
    assert repr(got) == repr(_loop_quartiles(cells, interpolated))


@settings(max_examples=200, deadline=None)
@given(
    cells=st.lists(
        st.tuples(
            st.one_of(
                st.integers(-20, 20).map(float),
                st.sampled_from([math.inf, -math.inf, math.nan]),
            ),
            st.integers(1, 5).map(float),
            st.sampled_from(["a", "b"]),
        ),
        min_size=1,
        max_size=40,
    ),
    cuts=st.lists(st.integers(0, 45), max_size=6),
    interpolated=st.booleans(),
)
def test_partitioned_kernel_matches_driver_kernel(cells, cuts, interpolated):
    """The distributed kernel without Spark: cells split into range
    partitions at arbitrary distinct-value ranks (a range partitioner
    never splits one value), targets placed by _place_targets, picked
    per partition by _partition_picks and blended, equal the driver
    kernel bit for bit, per stratum and globally (integral weights)."""
    import numpy as np
    import pyarrow as pa

    from tableone_pyspark_spark.core import sufficient as S

    x = np.array([c[0] for c in cells])
    rank = np.unique(x, return_inverse=True)[1].ravel()
    pid = np.searchsorted(np.sort(cuts), rank, side="right")
    table = pa.table({
        "t1_var": pa.array([0] * len(cells), pa.int32()),
        "t1_x": x,
        "sw": [c[1] for c in cells],
        S.STRAT: [c[2] for c in cells],
        "pid": pa.array(pid, pa.int32()),
    })
    part_sw = {}
    for p, w, s in zip(pid.tolist(), table["sw"].to_pylist(), table[S.STRAT].to_pylist()):
        for key in ((0, s), (0, None)):
            part_sw.setdefault(key, {}).setdefault(p, 0.0)
            part_sw[key][p] += w
    requests, blends = S._place_targets(part_sw, interpolated)
    picked = {}
    for p in set(pid.tolist()):
        part = table.filter(pa.compute.equal(table["pid"], p)).to_batches()
        for out in S._partition_picks(requests, True, interpolated, iter(part)):
            picked.update(zip(out["rid"].to_pylist(), out["x"].to_pylist()))
    got = {
        key: tuple(S._blend([picked[r] for r in rids], f) for rids, f in qs)
        for key, qs in blends.items()
    }
    strata = S._strata(table[S.STRAT])
    _n, groups = S._grouped(x, strata.code, table["sw"].to_numpy(), strata)
    want = {(0, s): S._ranked(xg, S._cum(wg), interpolated) for s, xg, wg in groups}
    assert repr(sorted(got.items(), key=str)) == repr(sorted(want.items(), key=str))


def test_partition_picks_refuse_a_moved_partition():
    """A range partition whose Σw is not the one the targets were
    placed with (its partitioning was recomputed and cut elsewhere)
    raises instead of picking from the wrong cells."""
    import pyarrow as pa
    import pytest

    from tableone_pyspark_spark.core import sufficient as S

    table = pa.table({
        "t1_var": pa.array([0, 0, 0], pa.int32()), "t1_x": [1.0, 2.0, 3.0],
        "sw": [1.0, 1.0, 1.0], S.STRAT: ["a", "a", "a"], "pid": pa.array([0, 0, 0], pa.int32()),
    })
    picks = S._partition_picks(
        {0: {(0, "a"): (0.0, 3.0, [(0, 2.0)])}}, True, False, iter(table.to_batches())
    )
    assert next(picks).to_pydict() == {"rid": [0], "x": [2.0]}
    moved = S._partition_picks(
        {0: {(0, "a"): (0.0, 5.0, [(0, 2.0)])}}, True, False, iter(table.to_batches())
    )
    with pytest.raises(RuntimeError, match="range partitions"):
        next(moved)


# ---- INTERPOLATED weighted quantiles vs numpy repeat+linear ---------------

wqi_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),                      # strat
        st.integers(-50, 50).map(float),                  # x (tie-prone)
        st.integers(1, 5).map(float),                     # INTEGRAL weight
    ),
    min_size=2,
    max_size=60,
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=wqi_rows)
def test_interpolated_weighted_quantiles_match_numpy_repeat(spark, rows):
    """quantile_mode="interpolated" with weight_col (honored since r6):
    with integral weights the engine's continuous-index blend at
    p*(SUMw-1) must equal numpy.percentile(method="linear") on the
    weight-REPLICATED array — per strat AND globally. Every operand
    (data values, cumSUMw, p*(W-1) for integral W) is exact in double,
    so the comparison is near-exact (1e-9 slack for the final blend).
    The unweighted interpolated table of the replicated rows must equal
    the weighted one exactly: both modes share one blend."""
    import numpy as np

    from tableone_pyspark_spark import TableOneConfig

    cfg = TableOneConfig(quantile_mode="interpolated")
    df = spark.createDataFrame(rows, "strat string, x double, w double")
    got = {
        (r["Index"], r["Values"]): r
        for r in tableone(
            df,
            col_to_strat="strat",
            cols_to_analyze=["x"],
            weight_col="w",
            config=cfg,
        ).collect()
    }
    replicated = spark.createDataFrame(
        [(s, x) for s, x, w in rows for _ in range(int(w))],
        "strat string, x double",
    )
    plain = {
        (r["Index"], r["Values"]): r
        for r in tableone(
            replicated, col_to_strat="strat", cols_to_analyze=["x"], config=cfg
        ).collect()
    }

    def ref(sub, p):
        expanded = np.repeat(
            [x for _s, x, _w in sub], [int(w) for _s, _x, w in sub]
        )
        return float(np.percentile(expanded, p * 100, method="linear"))

    strat_names = sorted({s for s, _x, _w in rows})
    label = {0.25: "25th percentile", 0.5: "50th percentile", 0.75: "75th percentile"}
    for k, p in enumerate((0.25, 0.5, 0.75)):
        row = got[(round(1 + (6 + k) / 10, 10), label[p])]
        assert abs(row["All_Patients"] - ref(rows, p)) < 1e-9, (p, "all")
        for s in strat_names:
            sub = [r for r in rows if r[0] == s]
            assert abs(row[s] - ref(sub, p)) < 1e-9, (s, p)
        unweighted = plain[(round(1 + (6 + k) / 10, 10), label[p])]
        for col in ["All_Patients"] + strat_names:
            assert repr(row[col]) == repr(unweighted[col]), (col, p)


# ---- weighted partition invariance under FRACTIONAL weights ---------------

wfrac_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", None]),                     # strat
        st.one_of(st.none(), st.floats(-1e3, 1e3, allow_nan=False)),
        st.floats(0.01, 10.0, allow_nan=False),                # fractional w
    ),
    min_size=2,
    max_size=40,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=wfrac_rows, seed=st.integers(0, 2**31 - 1))
def test_weighted_partition_invariance_fractional_weights(spark, rows, seed):
    """Weighted TableOne under truly FRACTIONAL weights (the integral /
    dyadic pin above keeps every cumsum exact; this one does not):
    moment rows must be partition-invariant up to summation-reorder
    float error (the ca1b282 bound), and the weighted disc quantiles of
    BOTH partitionings must satisfy the rank definition
    min{x : cumSw >= p*Sw} within a cum-weight float tolerance — the
    honest contract once a cum-weight boundary can land within float
    noise of p*total, where either adjacent data value is a correct
    IEEE answer."""
    import random

    def build(rs):
        return spark.createDataFrame(
            rs, "strat string, x double, w double"
        )

    df1 = build(rows)
    shuffled = list(rows)
    random.Random(seed).shuffle(shuffled)
    df2 = build(shuffled).repartition(7)
    out1 = tableone(
        df1, col_to_strat="strat", cols_to_analyze=["x"], weight_col="w"
    ).collect()
    out2 = tableone(
        df2, col_to_strat="strat", cols_to_analyze=["x"], weight_col="w"
    ).collect()

    k1 = {(r["Index"], r["Values"]): r for r in out1}
    k2 = {(r["Index"], r["Values"]): r for r in out2}
    assert k1.keys() == k2.keys()
    q_label = {"25th percentile": 0.25, "50th percentile": 0.5,
               "75th percentile": 0.75}
    strat_cols = sorted({s if s is not None else "MISSING" for s, _x, _w in rows})
    val_cols = ["All_Patients"] + strat_cols

    for key, ra in k1.items():
        rb = k2[key]
        if key[1] in q_label:
            continue  # graded by the rank-validity check below
        for c in val_cols:
            va, vb = ra[c], rb[c]
            if isinstance(va, float) and isinstance(vb, float):
                assert (math.isnan(va) and math.isnan(vb)) or math.isclose(
                    va, vb, rel_tol=1e-9, abs_tol=1e-6
                ), (key, c)
            else:
                assert va == vb, (key, c)

    def sub_rows(col):
        return [
            (x, w) for s, x, w in rows
            if x is not None
            and (col == "All_Patients" or (s if s is not None else "MISSING") == col)
        ]

    def q_valid(sub, p, got):
        if not sub:
            return got is None
        xs = sorted({x for x, _ in sub})
        cum, t = {}, 0.0
        for x in xs:
            t = math.fsum([t] + [w for x2, w in sub if x2 == x])
            cum[x] = t
        eps = 1e-7 * max(1.0, t)
        if got not in cum:
            return False
        i = xs.index(got)
        below = cum[xs[i - 1]] if i else 0.0
        target = p * t
        return cum[got] >= target - eps and below < target + eps

    for (idx, lab), p in [(k, p) for k in k1 for p in [q_label.get(k[1])] if p]:
        for col in val_cols:
            sub = sub_rows(col)
            for run in (k1, k2):
                got = run[(idx, lab)][col]
                assert q_valid(sub, p, got), (lab, col, got)


@given(
    keys=st.lists(st.text(min_size=0, max_size=8), min_size=0, max_size=60),
    width=st.integers(2, 64),
    depth=st.integers(1, 5),
)
@settings(max_examples=30, deadline=None)
def test_cms_python_twin_property(keys, width, depth):
    """The pure-Python CMS fold is one-sided for every key at every
    geometry, and total mass per row equals the key count."""
    from tableone_pyspark_spark.operators.dedup import POLY_MOD, poly_coeffs

    def poly(s):
        acc = 0
        for ch in s:
            acc = (acc * 31 + ord(ch)) % POLY_MOD
        return acc

    cms = [0] * (depth * width)
    cf = poly_coeffs(depth)
    for k in keys:
        h = poly(k)
        for d, (a, b) in enumerate(cf):
            cms[d * width + ((h * a + b) % POLY_MOD) % width] += 1
    for d in range(depth):
        assert sum(cms[d * width : (d + 1) * width]) == len(keys)
    from collections import Counter

    true = Counter(keys)
    for k in set(keys):
        h = poly(k)
        est = min(
            cms[d * width + ((h * a + b) % POLY_MOD) % width]
            for d, (a, b) in enumerate(cf)
        )
        assert est >= true[k]


# ---- r10 additions: pure-python primitives (no Spark in the loop, so
# examples are cheap and the strategies can be generous) --------------

_td_vals = st.lists(
    st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
    min_size=1,
    max_size=400,
)


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(vals=_td_vals, delta=st.integers(10, 200))
def test_tdigest_merge_invariants(vals, delta):
    """_td_merge invariants for ANY input: weight conserved exactly
    (integer unit weights), means sorted, every centroid mean inside
    the data range, and quantiles monotone in q within [min, max]."""
    import numpy as np

    from tableone_pyspark_spark.operators.tdigest import (
        _td_merge,
        _td_quantile,
    )

    v = np.asarray(vals, dtype=np.float64)
    m, w = _td_merge(v, np.ones_like(v), delta)
    assert float(w.sum()) == float(len(v))
    assert list(m) == sorted(m)
    assert v.min() <= m[0] and m[-1] <= v.max()
    qs = [0.0, 0.1, 0.5, 0.9, 1.0]
    est = [_td_quantile(m, w, q) for q in qs]
    assert est == sorted(est)  # monotone in q
    assert v.min() <= est[0] and est[-1] <= v.max()


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(vals=_td_vals, delta=st.integers(10, 100), cut=st.integers(1, 399))
def test_tdigest_merge_associativity_contract(vals, delta, cut):
    """Merging two halves re-merges into a VALID digest with the same
    total weight and data range as a direct build (bytes may differ —
    the documented engine-specific class; the invariants may not)."""
    import numpy as np

    from tableone_pyspark_spark.operators.tdigest import _td_merge

    v = np.asarray(vals, dtype=np.float64)
    cut = min(cut, len(v))
    m1, w1 = _td_merge(v[:cut], np.ones(cut), delta)
    m2, w2 = _td_merge(v[cut:], np.ones(len(v) - cut), delta)
    m, w = _td_merge(
        np.concatenate([m1, m2]), np.concatenate([w1, w2]), delta
    )
    assert float(w.sum()) == float(len(v))
    assert list(m) == sorted(m)
    if len(v):
        assert v.min() <= m[0] and m[-1] <= v.max()


@settings(max_examples=80, deadline=None, suppress_health_check=list(HealthCheck))
@given(t=st.text(max_size=200))
def test_robust_key_idempotent(t):
    """The unicode dedup key is a canonical form: applying the python
    equivalent twice equals once (NFKC∘casefold∘collapse is idempotent
    on its own image)."""
    import re
    import unicodedata

    def key(s: str) -> str:
        s = unicodedata.normalize("NFKC", s).casefold()
        return re.sub(r"[ \t\n\r\x0b\f]+", " ", s).strip(" ")

    assert key(key(t)) == key(t)


@given(
    st.integers(min_value=2, max_value=8),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_pca_eig_model_invariants(d, seed):
    """X122 property pins (pure numpy — no Spark in the loop): for any
    random PSD covariance, _eig_model returns variance-DESCENDING
    non-negative eigvals, ORTHONORMAL axes, the sign convention
    (largest-|entry| coordinate positive), and an exact eigen-identity
    cov @ v = lambda v."""
    import numpy as np

    from tableone_pyspark_spark.operators.pca import _eig_model

    rng = np.random.RandomState(seed)
    A = rng.randn(d, d)
    cov = A @ A.T  # PSD by construction
    mu = rng.randn(d)
    m = _eig_model(mu, cov, d)
    assert np.all(np.diff(m.eigvals) <= 1e-9)          # descending
    assert np.all(m.eigvals >= -1e-9)                  # PSD spectrum
    assert np.allclose(m.components.T @ m.components, np.eye(d), atol=1e-8)
    for j in range(d):
        i = int(np.argmax(np.abs(m.components[:, j])))
        assert m.components[i, j] > 0                  # sign fixed
        assert np.allclose(
            cov @ m.components[:, j], m.eigvals[j] * m.components[:, j],
            atol=1e-6 * max(1.0, float(m.eigvals[0])),
        )
    # determinism: identical input -> bit-identical model
    m2 = _eig_model(mu, cov, d)
    assert np.array_equal(m.components, m2.components)
    assert np.array_equal(m.eigvals, m2.eigvals)
