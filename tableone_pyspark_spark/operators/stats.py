"""Distributed statistical operators (DataFrame-native building blocks).

These are the engine's operator inventory re-expressed Spark-first
(reference sites in each docstring). Each returns a DataFrame whose
column names are stable so the driver's DuckDB oracle can hash-match
(see ``__spark_entry__.py``). All heavy computation happens in one
aggregation pass; post-aggregation shaping operates on k-row frames.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _q(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def categorical_counts(df: DataFrame, col: str, missing: str = "MISSING") -> DataFrame:
    """Frequency table with fraction-of-total (reference :269-273, :186-187).

    Output: val, ct, pct — one hash-agg pass; the denominator is a
    window sum over the aggregated k rows (no second scan).
    """
    counts = (
        df.select(F.coalesce(F.col(col), F.lit(missing)).alias("val"))
        .groupBy("val")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    total = F.sum("ct").over(Window.partitionBy())
    return counts.withColumn("pct", F.col("ct") / total)


def pivoted_counts(
    df: DataFrame,
    col: str,
    strat: str,
    strat_values: list[str] | None = None,
    missing: str = "MISSING",
) -> DataFrame:
    """Zero-filled (category × strat) count matrix (reference :279-280).

    ``strat_values`` should be passed when known — it skips the eager
    distinct job the reference pays per pivot (SURVEY §2 A2).
    """
    base = df.select(
        F.coalesce(F.col(col), F.lit(missing)).alias("val"),
        F.coalesce(F.col(strat), F.lit(missing)).alias("strat"),
    )
    pivot = base.groupBy("val").pivot("strat", values=strat_values) if strat_values else base.groupBy("val").pivot("strat")
    return pivot.agg(F.count(F.lit(1))).na.fill(0)


#: melted continuous stats: (label, agg builder) — reference :325-434
def _stat_exprs(col: str, quantile_mode: str) -> list[tuple[str, Column]]:
    c = F.col(col)
    if quantile_mode == "interpolated":
        q = F.expr(f"percentile({_q(col)}, array(0.25D, 0.5D, 0.75D))")
    else:
        q = F.percentile_approx(c, [0.25, 0.5, 0.75], 10_000_000)
    return [
        ("n", F.count(c).cast("double")),
        ("min", F.min(c).cast("double")),
        ("max", F.max(c).cast("double")),
        ("mean", F.avg(c)),
        ("stddev", F.stddev_samp(c)),
        ("q25", q[0].cast("double")),
        ("q50", q[1].cast("double")),
        ("q75", q[2].cast("double")),
    ]


def continuous_stats_melted(
    df: DataFrame, col: str, quantile_mode: str = "interpolated"
) -> DataFrame:
    """The 8-stat block as (stat, value) rows — ONE aggregation melted
    with ``stack`` (vs. the reference's 8 jobs + 8 joins, :325-437)."""
    labeled = [(name, expr.alias(f"s_{name}")) for name, expr in _stat_exprs(col, quantile_mode)]
    agg = df.agg(*[e for _, e in labeled])
    pairs = ", ".join(f"'{name}', s_{name}" for name, _ in labeled)
    return agg.select(F.expr(f"stack({len(labeled)}, {pairs}) as (stat, value)"))


def continuous_stats_by_group(
    df: DataFrame, col: str, strat: str, quantile_mode: str = "interpolated",
    missing: str = "MISSING",
) -> DataFrame:
    """Per-strat wide stat row (reference :319-434's pivoted aggs, one
    pass). Output: grp, n, min, max, mean, stddev, q25, q50, q75."""
    base = df.select(
        F.coalesce(F.col(strat).cast("string"), F.lit(missing)).alias("grp"),
        F.col(col),
    )
    exprs = [expr.alias(name) for name, expr in _stat_exprs(col, quantile_mode)]
    return base.groupBy("grp").agg(*exprs)


def group_moments(df: DataFrame, col: str, strat: str, missing: str = "MISSING") -> DataFrame:
    """Per-group sufficient statistics (n, mean, var_samp) — the
    distributed half of every continuous hypothesis test (SURVEY §2.8)."""
    return (
        df.select(
            F.coalesce(F.col(strat).cast("string"), F.lit(missing)).alias("grp"),
            F.col(col).alias("x"),
        )
        .filter(F.col("x").isNotNull())
        .groupBy("grp")
        .agg(
            F.count("x").alias("n"),
            F.avg("x").alias("m"),
            F.var_samp("x").alias("v"),
        )
    )


def ttest_statistic(df: DataFrame, col: str, strat: str) -> DataFrame:
    """Pooled-variance two-sample t from distributed moments
    (replaces reference :453-465's full-column toPandas).

    Groups are ordered by group name (ascending) so the sign is
    deterministic. Output 1 row: g1, g2, n1, n2, t_stat, dof.
    """
    g = group_moments(df, col, strat)
    arr = g.agg(
        F.array_sort(F.collect_list(F.struct("grp", "n", "m", "v"))).alias("a")
    ).select(
        F.col("a")[0].alias("a1"), F.col("a")[1].alias("a2"), F.size("a").alias("k")
    )
    sp2 = (
        (F.col("a1.n") - 1) * F.col("a1.v") + (F.col("a2.n") - 1) * F.col("a2.v")
    ) / (F.col("a1.n") + F.col("a2.n") - 2)
    t = (F.col("a1.m") - F.col("a2.m")) / F.sqrt(
        sp2 * (1.0 / F.col("a1.n") + 1.0 / F.col("a2.n"))
    )
    return arr.filter(F.col("k") == 2).select(
        F.col("a1.grp").alias("g1"),
        F.col("a2.grp").alias("g2"),
        F.col("a1.n").alias("n1"),
        F.col("a2.n").alias("n2"),
        t.alias("t_stat"),
        (F.col("a1.n") + F.col("a2.n") - 2).cast("long").alias("dof"),
    )


def anova_f_statistic(df: DataFrame, col: str, strat: str) -> DataFrame:
    """One-way ANOVA F from distributed moments (reference :467-473 via
    sufficient statistics). Output 1 row: k, n_total, f_stat, dfn, dfd."""
    g = group_moments(df, col, strat)
    w = Window.partitionBy()
    g = g.withColumn("grand", F.sum(F.col("n") * F.col("m")).over(w) / F.sum("n").over(w))
    agg = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_total"),
        F.sum(F.col("n") * (F.col("m") - F.col("grand")) ** 2).alias("ssb"),
        F.sum((F.col("n") - 1) * F.col("v")).alias("ssw"),
    )
    dfn = F.col("k") - 1
    dfd = F.col("n_total") - F.col("k")
    return agg.select(
        "k",
        "n_total",
        ((F.col("ssb") / dfn) / (F.col("ssw") / dfd)).alias("f_stat"),
        dfn.cast("long").alias("dfn"),
        dfd.cast("long").alias("dfd"),
    )


def chi2_statistic(
    df: DataFrame, col: str, strat: str, missing: str = "MISSING"
) -> DataFrame:
    """Chi-square independence statistic from grouped counts
    (reference :507-510 via pd.crosstab, distributed).

    Zero cells of the full (observed levels × observed levels) grid
    contribute their expected count, as crosstab does. Yates continuity
    correction applies only to 2×2 (scipy default). MISSING analysis
    values are excluded (reference :500); null strat joins as MISSING.
    Output 1 row: chi2_stat, dof, n_obs.
    """
    obs = (
        df.select(
            F.col(col).alias("a"),
            F.coalesce(F.col(strat).cast("string"), F.lit(missing)).alias("b"),
        )
        .filter(F.col("a").isNotNull() & (F.col("a") != missing))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    # full grid = distinct(a) × distinct(b): tiny post-agg frames
    grid = obs.select("a").distinct().crossJoin(obs.select("b").distinct())
    cells = grid.join(obs, ["a", "b"], "left").na.fill({"o": 0})
    w_all = Window.partitionBy()
    cells = (
        cells.withColumn("row_tot", F.sum("o").over(Window.partitionBy("a")))
        .withColumn("col_tot", F.sum("o").over(Window.partitionBy("b")))
        .withColumn("total", F.sum("o").over(w_all))
        .withColumn("n_rows", F.size(F.collect_set("a").over(w_all)))
        .withColumn("n_cols", F.size(F.collect_set("b").over(w_all)))
    )
    e = F.col("row_tot") * F.col("col_tot") / F.col("total")
    d = F.abs(F.col("o") - e)
    yates = (F.col("n_rows") == 2) & (F.col("n_cols") == 2)
    d = F.when(yates, F.greatest(d - 0.5, F.lit(0.0))).otherwise(d)
    return cells.agg(
        F.sum(d * d / e).alias("chi2_stat"),
        ((F.first("n_rows") - 1) * (F.first("n_cols") - 1)).cast("long").alias("dof"),
        F.sum("o").cast("long").alias("n_obs"),
    )


def key_skew_profile(df: DataFrame, key_col: str, top: int = 10) -> DataFrame:
    """Top-N hottest keys with their share of all rows — the diagnostic
    run BEFORE committing a groupBy/join to a key at scale (a max share
    near 1/parallelism or above means the shuffle will straggle and
    `plans/skew.salted_agg` or AQE skew handling is warranted).

    One partial-aggregated groupBy + a single ranking window over the
    (already tiny) per-key counts; the total joins in as a broadcast
    scalar. Returns (rank, key, n, share).
    """
    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = df.agg(F.count(F.lit(1)).alias("total"))
    # orderBy+limit plans as TakeOrderedAndProject — a distributed
    # top-k, NOT a single-partition global sort; the ranking window
    # then runs over <= `top` rows
    top_keys = counts.orderBy(F.desc("n"), F.asc("key")).limit(top)
    w = Window.orderBy(F.desc("n"), F.asc("key"))
    return (
        top_keys.withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(total))
        .select(
            "rank",
            "key",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("share"),
        )
    )


def data_profile(
    df: DataFrame, cols: list[str] | None = None, approx_distinct: bool = False
) -> DataFrame:
    """Per-column data-quality profile in ONE aggregation pass: rows,
    nulls, distinct, min/max/mean (numeric columns; null otherwise) —
    the monitoring pre-pass a pipeline runs before and after every
    transform stage. One job regardless of column count.

    ``approx_distinct=False`` (default, oracle-checked): exact
    ``count_distinct`` — adds an Expand (one input row per profiled
    column) and shuffles every distinct value. At 100 TB a
    high-cardinality column (ids, text) makes that shuffle THE
    bottleneck of the whole profile. ``approx_distinct=True`` swaps in
    ``approx_count_distinct`` (HyperLogLog++, default rsd 5%): fixed
    ~few-KB sketch per (column) aggregated map-side, no distinct-value
    shuffle — profiling cost becomes independent of cardinality, the
    right default for monitoring at scale.
    """
    cols = cols or df.columns
    distinct_agg = F.approx_count_distinct if approx_distinct else F.count_distinct
    numeric = {
        f.name
        for f in df.schema.fields
        if f.dataType.typeName()
        in ("byte", "short", "integer", "long", "float", "double", "decimal")
    }
    aggs: list[Column] = [F.count(F.lit(1)).alias("__rows")]
    for i, c in enumerate(cols):
        col = F.col(_q(c))
        aggs += [
            F.count(col).alias(f"nn_{i}"),
            distinct_agg(col).alias(f"nd_{i}"),
        ]
        if c in numeric:
            aggs += [
                F.min(col).cast("double").alias(f"mi_{i}"),
                F.max(col).cast("double").alias(f"ma_{i}"),
                F.avg(col).alias(f"me_{i}"),
            ]
        else:
            aggs += [
                F.lit(None).cast("double").alias(f"mi_{i}"),
                F.lit(None).cast("double").alias(f"ma_{i}"),
                F.lit(None).cast("double").alias(f"me_{i}"),
            ]
    one = df.agg(*aggs)
    # native F.stack with F.lit labels, not string-built selectExpr: a
    # column name containing a quote must not break the SQL parse
    stack_args: list[Column] = [F.lit(len(cols))]
    for i, c in enumerate(cols):
        stack_args += [
            F.lit(c), F.col(f"nn_{i}"), F.col(f"nd_{i}"),
            F.col(f"mi_{i}"), F.col(f"ma_{i}"), F.col(f"me_{i}"),
        ]
    return one.select(
        F.col("__rows").alias("n_rows"),
        F.stack(*stack_args).alias(
            "col", "n_non_null", "n_distinct",
            "min_value", "max_value", "mean_value",
        ),
    ).select(
        "col",
        "n_rows",
        (F.col("n_rows") - F.col("n_non_null")).alias("n_nulls"),
        "n_distinct",
        "min_value",
        "max_value",
        F.round("mean_value", 6).alias("mean_value"),
    )


def numeric_histogram(
    df: DataFrame,
    col: str,
    bins: int = 20,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Fixed-width histogram of a numeric column — the distribution
    diagnostic a pipeline runs on features/lengths/scores before
    choosing filter thresholds.

    When ``lo``/``hi`` are not given they come from one scalar min/max
    aggregation (a 2-value collect — bounded driver state, same pattern
    as the sufficient-stats engine). The bucketing pass is then pure
    arithmetic projection + a partial-aggregated groupBy on at most
    ``bins`` keys: map-side combine reduces every partition to ≤ bins
    rows, so the shuffle is O(bins × partitions) regardless of data
    size. Empty buckets are filled from a range frame so the output
    always has exactly ``bins`` rows: (bucket, lo_edge, hi_edge, n).
    """
    c = F.col(_q(col)).cast("double")
    if lo is None or hi is None:
        row = df.agg(F.min(c).alias("lo"), F.max(c).alias("hi")).first()
        if row["lo"] is None or row["hi"] is None:
            raise ValueError(
                f"numeric_histogram: '{col}' has no non-null values; "
                "pass explicit lo/hi to bucket an empty input"
            )
        lo = float(row["lo"]) if lo is None else lo
        hi = float(row["hi"]) if hi is None else hi
    width = (hi - lo) / bins or 1.0
    bucket = F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0), F.floor((c - F.lit(lo)) / F.lit(width))),
    ).cast("int")
    counts = (
        df.where(c.isNotNull())
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    frame = df.sparkSession.range(bins).select(F.col("id").cast("int").alias("bucket"))
    return (
        frame.join(counts, "bucket", "left")
        .select(
            "bucket",
            F.round(F.lit(lo) + F.col("bucket") * F.lit(width), 6).alias("lo_edge"),
            F.round(F.lit(lo) + (F.col("bucket") + 1) * F.lit(width), 6).alias("hi_edge"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
    )


def filter_funnel(
    df: DataFrame, filters: list[tuple[str, Column]]
) -> DataFrame:
    """Attrition report for an ordered filter cascade — the diagnostic
    a curation pipeline emits so every quality gate's cost is visible
    before committing to it (how many documents each stage drops, and
    cumulatively).

    ONE aggregation pass regardless of stage count: stage predicates
    are AND-folded into cumulative booleans and summed in a single
    scalar agg (map-side partial, no shuffle of row data, no re-scan
    per stage — at 100 TB a per-stage count() would be k full scans).
    Returns (stage, filter_name, n_in, n_out, n_dropped, drop_rate), one
    row per stage in application order.
    """
    aggs: list[Column] = [F.count(F.lit(1)).alias("s_in")]
    cum: Column | None = None
    for i, (_, pred) in enumerate(filters):
        cum = pred if cum is None else (cum & pred)
        # null predicate result = row dropped (SQL three-valued AND
        # would propagate null; a filter drops nulls)
        aggs.append(F.sum(F.coalesce(cum, F.lit(False)).cast("long")).alias(f"s_{i}"))
    one = df.agg(*aggs)
    # native F.stack with F.lit names (a filter name with a quote must
    # not break a string-built SQL parse)
    stack_args: list[Column] = [F.lit(len(filters))]
    for i, (name, _) in enumerate(filters):
        stack_args += [
            F.lit(i), F.lit(name),
            F.col("s_in" if i == 0 else f"s_{i - 1}"), F.col(f"s_{i}"),
        ]
    return one.select(
        F.stack(*stack_args).alias("stage", "filter_name", "n_in", "n_out")
    ).select(
        "stage",
        "filter_name",
        "n_in",
        "n_out",
        (F.col("n_in") - F.col("n_out")).alias("n_dropped"),
        F.when(
            F.col("n_in") > 0,
            F.round((F.col("n_in") - F.col("n_out")) / F.col("n_in"), 6),
        ).alias("drop_rate"),
    )


def profile_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    cols: list[str] | None = None,
    approx_distinct: bool = False,
) -> DataFrame:
    """Snapshot-to-snapshot profile diff — the gate a pipeline runs
    between ingests to catch schema drift, null-rate spikes, and
    cardinality collapse before they poison downstream stages.

    Two one-pass profiles (:func:`data_profile` — so the HLL mode's
    cardinality-independent scaling applies here too) melted to
    (col, metric, value) and FULL-outer-joined on (col, metric):
    columns present in only one snapshot — the schema-drift case —
    surface as rows with one side null instead of vanishing. All
    post-profile shaping runs on k-columns × 6-metrics rows.
    Returns (col, metric, value_a, value_b, delta).
    """
    melt_expr = (
        "stack(6, "
        "'n_rows', CAST(n_rows AS DOUBLE), "
        "'n_nulls', CAST(n_nulls AS DOUBLE), "
        "'n_distinct', CAST(n_distinct AS DOUBLE), "
        "'min_value', min_value, "
        "'max_value', max_value, "
        "'mean_value', mean_value) AS (metric, value)"
    )
    pa = data_profile(df_a, cols, approx_distinct).selectExpr("col", melt_expr)
    pb = data_profile(df_b, cols, approx_distinct).selectExpr("col", melt_expr)
    return (
        pa.withColumnRenamed("value", "value_a")
        .join(pb.withColumnRenamed("value", "value_b"), ["col", "metric"], "full_outer")
        .select(
            "col",
            "metric",
            "value_a",
            "value_b",
            F.round(F.col("value_b") - F.col("value_a"), 6).alias("delta"),
        )
    )


def correlation_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlations for k numeric columns in ONE
    aggregation pass — the feature-redundancy screen a pipeline runs
    before training or mixture design.

    All k(k+1)/2 sufficient sums (n, Σx, Σx², Σxy per pair, computed
    over rows where BOTH columns are non-null) come from a single
    scalar agg — one scan regardless of k; the melt to pair rows
    happens on the 1-row aggregate. r is derived with the textbook
    formula on both engines so the oracle replays it exactly.
    Returns (col_a, col_b, n, r) for a < b pairs.
    """
    pairs = [(i, j) for i in range(len(cols)) for j in range(len(cols)) if i < j]
    aggs: list[Column] = []
    for pi, (i, j) in enumerate(pairs):
        a = F.col(_q(cols[i])).cast("double")
        b = F.col(_q(cols[j])).cast("double")
        both = a.isNotNull() & b.isNotNull()
        a2, b2 = F.when(both, a), F.when(both, b)
        aggs += [
            F.count(a2).alias(f"n_{pi}"),
            F.sum(a2).alias(f"sx_{pi}"),
            F.sum(b2).alias(f"sy_{pi}"),
            F.sum(a2 * a2).alias(f"sxx_{pi}"),
            F.sum(b2 * b2).alias(f"syy_{pi}"),
            F.sum(a2 * b2).alias(f"sxy_{pi}"),
        ]
    one = df.agg(*aggs)
    stack_args: list[Column] = [F.lit(len(pairs))]
    for pi, (i, j) in enumerate(pairs):
        stack_args += [
            F.lit(cols[i]), F.lit(cols[j]),
            F.col(f"n_{pi}"), F.col(f"sx_{pi}"), F.col(f"sy_{pi}"),
            F.col(f"sxx_{pi}"), F.col(f"syy_{pi}"), F.col(f"sxy_{pi}"),
        ]
    melted = one.select(
        F.stack(*stack_args).alias(
            "col_a", "col_b", "n", "sx", "sy", "sxx", "syy", "sxy"
        )
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return melted.select(
        "col_a",
        "col_b",
        "n",
        F.round(F.when(den > 0, num / den), 6).alias("r"),
    )


#: evidence hook: when set to a callable, exact_percentiles_dist passes
#: it the final rank-extraction frame right before collecting it, so
#: scripts/ can dump the distributed plan (the eager fit never appears
#: in the returned query's explain). No effect when None (production).
_RANK_PLAN_HOOK = None


def exact_percentiles_dist(
    df: DataFrame, col: str, probs: list[float], buckets: int = 256
) -> list[float] | None:
    """Distributed exact interpolated percentiles of ``col`` (cast to
    double) — bit-identical to ``F.percentile(col, probs)`` WITHOUT its
    single-reducer merge: a range-bucketed parallel prefix sum.

    Spark's sort-based ``percentile`` aggregate ships every distinct
    value of the whole column into ONE final merge task that sorts
    them — a scale-killer for a global percentile over a near-unique
    column. This helper keeps every step distributed:

      1. one shuffle compresses rows to distinct (value, count) cells
         (map-side combined — distinct values cross the wire, not rows);
      2. min/max/count collected as three scalars (one columnar scan);
      3. the global running count becomes per-bucket window cumsums
         (``buckets``-way range bucketing, monotonic in x) plus a tiny
         exclusive-prefix window over the per-bucket totals — long
         arithmetic throughout, so cumulative counts are exact;
      4. ONE final aggregation extracts the boundary value at each
         requested rank (``min(x | cum >= k)`` — the same rank rule as
         Percentile's binary search over accumulated counts);
      5. Spark's ``getPercentile`` interpolation — position
         ``p * (n-1)``, floor/ceil boundary keys, and BOTH of its
         short-circuits (integral position; equal boundary keys) — is
         replayed on the driver with the same double arithmetic
         ``(higher-pos)*lo + (pos-lower)*hi``.

    NULLs are ignored (as the aggregate does); NaN sorts above every
    double (Spark ordering) via the top bucket; ±Inf endpoints disable
    the range split (all finite values share bucket 0 — still a valid
    monotonic assignment, just less parallel). Returns None when the
    column has no non-null values (``percentile`` returns NULL).

    Known ulp-level caveat, documented not fixed: a column holding BOTH
    -0.0 and +0.0 may return the opposite zero sign than the aggregate
    (groupBy normalizes -0.0 to 0.0; Percentile's hash map keeps them
    distinct) — the values still compare equal. The single-reducer
    aggregate stays in the tests as the differential reference twin.
    """
    import math

    from pyspark.sql import Window

    B = buckets
    inf = float("inf")
    vals = (
        df.select(F.col(_q(col)).cast("double").alias("__x"))
        .where(F.col("__x").isNotNull())
    )
    xc = F.col("__x")
    srow = vals.agg(
        F.min(F.when(~F.isnan(xc), xc)).alias("mn"),
        F.max(F.when(~F.isnan(xc), xc)).alias("mx"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    total = int(srow["n"])
    if total == 0:
        return None
    mn, mx = srow["mn"], srow["mx"]

    # distinct-value cells: ONE data shuffle, map-side combined
    counts = vals.groupBy("__x").agg(F.count(F.lit(1)).alias("__c"))

    # monotonic-in-x bucket id from the collected span literals
    edge = (
        F.when(F.isnan(xc) | (xc == F.lit(inf)), F.lit(B - 1))
        .when(xc == F.lit(-inf), F.lit(0))
    )
    if mn is not None and mx > mn and math.isfinite(mx - mn):
        width = (mx - mn) / float(B)
        bucket = edge.otherwise(
            F.least(
                F.lit(B - 1), F.floor((xc - F.lit(mn)) / F.lit(width))
            ).cast("int")
        )
    else:
        # single distinct value, all-NaN, or ±Inf endpoints: no usable
        # range split — constant bucket for finite values (monotonic)
        bucket = edge.otherwise(F.lit(0))
    jb = counts.select("__x", "__c", bucket.cast("int").alias("__bk"))

    # parallel prefix sum: local cumsum per bucket + tiny offset window
    loc = F.sum("__c").over(Window.partitionBy("__bk").orderBy("__x"))
    btot = jb.groupBy("__bk").agg(F.sum("__c").alias("__bsum"))
    woff = Window.orderBy("__bk").rowsBetween(Window.unboundedPreceding, -1)
    off = btot.select(
        "__bk",
        F.coalesce(F.sum("__bsum").over(woff), F.lit(0).cast("long")).alias(
            "__off"
        ),
    )
    ranked = jb.withColumn("__loc", loc).join(F.broadcast(off), "__bk")
    cum = F.col("__loc") + F.col("__off")

    # boundary ranks (Percentile: position = p * (n-1), lower/higher
    # keys found at accumulated-count >= rank+1)
    pos_lh = []
    ks: set[int] = set()
    for p in probs:
        pos = (total - 1) * float(p)
        lo_k, hi_k = math.floor(pos), math.ceil(pos)
        pos_lh.append((pos, lo_k, hi_k))
        ks.update((lo_k + 1, hi_k + 1))
    aggs = [
        F.min(F.when(cum >= F.lit(k), F.col("__x"))).alias(f"__k_{k}")
        for k in sorted(ks)
    ]
    final = ranked.agg(*aggs)
    if _RANK_PLAN_HOOK is not None:
        _RANK_PLAN_HOOK(final)
    row = final.collect()[0]

    out: list[float] = []
    for pos, lo_k, hi_k in pos_lh:
        lo = row[f"__k_{lo_k + 1}"]
        if hi_k == lo_k:
            out.append(lo)
            continue
        hi = row[f"__k_{hi_k + 1}"]
        if hi == lo:
            out.append(lo)
        else:
            out.append((hi_k - pos) * lo + (pos - lo_k) * hi)
    return out


def winsorize_stats(
    df: DataFrame,
    col: str,
    lower: float = 0.01,
    upper: float = 0.99,
    exact_cap: int = 1_000_000,
) -> DataFrame:
    """Winsorization dry-run for a numeric column: the clip thresholds
    at the ``lower``/``upper`` quantiles and what clipping would do —
    the outlier-handling decision a feature pipeline makes before
    training.

    Bounded passes: a metadata-cheap row count (parquet sources answer
    count(*) from footer stats without reading data), the threshold
    fit, then one scalar aggregation of clip counts and before/after
    means; nothing but the two thresholds ever reaches the driver. Up
    to ``exact_cap`` rows the thresholds are exact interpolated
    percentiles via :func:`exact_percentiles_dist` (r18: the
    distributed rank-selection shape — bit-identical to the sort-based
    ``percentile`` aggregate, which the differential tests retain as
    the reference twin, but with no single-reducer merge of the
    distinct values); above the cap the fit switches to an
    accuracy-tuned ``percentile_approx`` sketch (bounded memory,
    <=1/exact_cap relative rank error, data values rather than
    interpolated) — the same cap-and-degrade contract as the engine's
    quantile path (core/sufficient.py run_cont). Returns one row
    (p_low, p_high, n, n_below, n_above, mean_before, mean_after).
    """
    c = F.col(_q(col)).cast("double")
    if df.count() > exact_cap:
        pct = F.percentile_approx(c, [lower, upper], F.lit(exact_cap))
        row = df.agg(pct.alias("p")).first()
        p_low, p_high = float(row["p"][0]), float(row["p"][1])
    else:
        res = exact_percentiles_dist(df, col, [lower, upper])
        if res is None:
            raise ValueError(
                f"cannot winsorize: {col!r} has no non-null values"
            )
        p_low, p_high = float(res[0]), float(res[1])
    clipped = F.least(F.greatest(c, F.lit(p_low)), F.lit(p_high))
    return df.agg(
        F.round(F.lit(p_low), 6).alias("p_low"),
        F.round(F.lit(p_high), 6).alias("p_high"),
        F.count(c).alias("n"),
        F.sum((c < p_low).cast("long")).alias("n_below"),
        F.sum((c > p_high).cast("long")).alias("n_above"),
        F.round(F.avg(c), 6).alias("mean_before"),
        F.round(F.avg(clipped), 6).alias("mean_after"),
    )


def weighted_group_stats(
    df: DataFrame,
    col: str,
    weight_col: str,
    strat: str,
    missing: str = "MISSING",
) -> DataFrame:
    """Weight-aware grouped moments — the TableOne shape for an
    importance-weighted corpus (survey weights, mixture sampling rates,
    dedup multiplicities): weighted n, mean, and frequency-weight
    sample stddev per stratum, one aggregation pass.

    Every statistic derives from three weighted sufficient sums
    (Σw, Σwx, Σwx²) — associative, map-side combined, k-row output;
    the variance uses the frequency-weight form
    (Σwx² − (Σwx)²/Σw) / (Σw − 1). Rows with null value or null/≤0
    weight are excluded. Returns (grp, w_n, w_mean, w_stddev).
    """
    x = F.col(_q(col)).cast("double")
    w = F.col(_q(weight_col)).cast("double")
    base = df.select(
        F.coalesce(F.col(_q(strat)).cast("string"), F.lit(missing)).alias("grp"),
        x.alias("x"),
        w.alias("w"),
    ).where(F.col("x").isNotNull() & F.col("w").isNotNull() & (F.col("w") > 0))
    agg = base.groupBy("grp").agg(
        F.sum("w").alias("sw"),
        F.sum(F.col("w") * F.col("x")).alias("swx"),
        F.sum(F.col("w") * F.col("x") * F.col("x")).alias("swxx"),
    )
    mean = F.col("swx") / F.col("sw")
    var = (F.col("swxx") - F.col("swx") * F.col("swx") / F.col("sw")) / (
        F.col("sw") - 1
    )
    return agg.select(
        "grp",
        F.round("sw", 6).alias("w_n"),
        F.round(mean, 6).alias("w_mean"),
        F.round(F.when(F.col("sw") > 1, F.sqrt(var)), 6).alias("w_stddev"),
    )


def fit_quantile_cuts(
    df: DataFrame,
    col: str,
    n_buckets: int,
    accuracy: int = 10_000,
    exact: bool = False,
) -> list[float]:
    """Fit the n_buckets−1 quantile cut values of ``col`` — the
    Bucketizer artifact (quantile feature binning, stratified-by-value
    sampling keys, drift-monitor bins), generalizing ccnet_buckets'
    tercile cuts to any bucket count and to a REUSABLE artifact:
    cuts fitted once ride along as literals, so applying them later
    (or to a different table) costs a projection, not a re-fit — the
    train/serve skew killer.

    Default = ``percentile_approx``'s mergeable GK sketch in ONE
    bounded aggregation (state O(accuracy), no sort — the 100 TB path;
    EXACT ``quantile_disc`` while the frame is under ``accuracy`` rows,
    the engine's established data-mode property). ``exact=True`` fits
    exact interpolated percentiles via :func:`exact_percentiles_dist`
    (r18: bit-identical to the sort-based ``percentile`` aggregate —
    retained as the differential reference twin in the tests — but with
    no single-reducer merge of the distinct values). NULLs are ignored
    by both. Raises on an empty/all-null column (no cuts to fit — an
    empty artifact applied later would silently one-bucket
    everything)."""
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    probs = [i / n_buckets for i in range(1, n_buckets)]
    x = F.col(_q(col)).cast("double")
    # NaN passes isNotNull, sorts ABOVE every double in the sketch, and
    # would emit NaN cuts that defeat every downstream comparison
    # (x > NaN is False -> silently dead buckets; self-review r11)
    clean = df.where(x.isNotNull() & ~F.isnan(x))
    if exact:
        res = exact_percentiles_dist(clean, col, probs)
        if res is None:
            raise ValueError(
                f"cannot fit cuts: {col!r} has no non-null values"
            )
        return [float(v) for v in res]
    fn = F.percentile_approx(x, probs, F.lit(accuracy))
    row = clean.agg(fn.alias("c")).collect()[0]
    if row["c"] is None:
        raise ValueError(f"cannot fit cuts: {col!r} has no non-null values")
    return [float(v) for v in row["c"]]


def apply_quantile_cuts(
    df: DataFrame,
    col: str,
    cuts: list[float],
    bucket_col: str = "bucket",
) -> DataFrame:
    """Bucket ``col`` by the fitted ``cuts``: bucket b ⟺ cuts[b−1] <
    x ≤ cuts[b] (value semantics, ccnet's tie rule — equal values land
    together, deterministically on any engine), bucket 0 below the
    first cut, bucket len(cuts) above the last, NULL values → NULL
    bucket. Pure literal-comparison projection — no shuffle, no
    re-fit; SQL-replayable (r12 graded candidate with the fitted cuts
    replayed as literals, the ccnet_buckets precedent)."""
    import math

    if not cuts:
        raise ValueError("cuts must be non-empty")
    if any(not math.isfinite(c) for c in cuts):
        # NaN compares False everywhere, so the monotonicity guard
        # below cannot catch it and x > NaN silently kills the bucket
        raise ValueError(f"cuts must be finite, got {cuts}")
    if any(a > b for a, b in zip(cuts, cuts[1:])):
        raise ValueError(f"cuts must be non-decreasing, got {cuts}")
    if bucket_col in df.columns:
        raise ValueError(f"{bucket_col!r} already in df — pick another name")
    x = F.col(_q(col)).cast("double")
    # count of cuts strictly below x == the bucket index under the
    # value-semantics rule; a fold over the literal array keeps it one
    # expression at any bucket count (a 1000-way when-chain would blow
    # up analysis time)
    arr = F.array(*[F.lit(float(c)) for c in cuts])
    b = F.aggregate(
        arr,
        F.lit(0),
        lambda acc, c: acc + F.when(x > c, 1).otherwise(0),
    )
    # NaN values: x > c is False for every cut, which would silently
    # file NaN into bucket 0 — unplaceable values go NULL like nulls
    return df.withColumn(
        bucket_col,
        F.when(x.isNotNull() & ~F.isnan(x), b).otherwise(F.lit(None)),
    )
