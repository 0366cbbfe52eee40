"""Relational operators over the star schema: joins, window top-k,
cube/grouping-sets, as-of join, sessionization.

These extend the engine past the reference's surface (its only joins
are degenerate 1-row glue joins, SURVEY §2.3) with the join shapes a
real analytics workload needs, written so Catalyst/AQE pick the right
physical strategy:

  * dimension tables are broadcast (`F.broadcast`) — no shuffle of the
    fact table for customer/nation/region lookups;
  * fact⋈fact joins (lineitem⋈orders) shuffle on the join key and are
    AQE-sized;
  * the as-of join avoids a range join entirely: union both sides and
    run one window pass (sort within user partitions) — at 100 TB this
    is a single shuffle by user, not an O(N·M) interval probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def revenue_by_nation(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Revenue Σ l_extendedprice·(1−l_discount) per customer nation.

    Classic star aggregation: one shuffle for lineitem⋈orders, all
    dimensions broadcast, then a hash aggregation on the (tiny) nation
    key. Output: n_name, n_orders, revenue.
    """
    joined = (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
    )
    # `1` as a decimal literal: with decimal inputs the whole expression
    # (and the sum) stays decimal — exact and order-independent. A
    # double literal would coerce everything to float and make the sum
    # nondeterministic under parallel aggregation.
    one = F.lit(1).cast("decimal(18,2)")
    return joined.groupBy("n_name").agg(
        F.count_distinct("o_orderkey").alias("n_orders"),
        F.sum(F.col("l_extendedprice") * (one - F.col("l_discount"))).alias("revenue"),
    )


def top_orders_per_group(
    orders: DataFrame, group_col: str = "o_orderpriority", k: int = 3
) -> DataFrame:
    """Top-k orders by o_totalprice per group — ranking window with a
    deterministic tie-break on the key. At scale this is one shuffle on
    the group column; no global sort."""
    w = Window.partitionBy(group_col).orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(group_col, "o_orderkey", "o_totalprice")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def sales_cube(lineitem: DataFrame) -> DataFrame:
    """CUBE over (l_returnflag, l_linestatus): counts and quantity sums
    for every subtotal combination in one pass (grouping-sets Expand +
    hash agg — the idiom the reference's per-pivot jobs approximate,
    SURVEY §2.4). Aggregated-out dimensions are null."""
    return lineitem.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
    )


def asof_prior_event(
    events: DataFrame,
    left_type: str = "purchase",
    right_type: str = "click",
) -> DataFrame:
    """As-of join within one event stream: for every ``left_type``
    event, the most recent ``right_type`` event by the same user with
    ts <= the left event's ts.

    Spark has no ASOF JOIN; the scalable formulation is union-and-scan:
    filter both sides, sort each user partition by (ts, type) once, and
    carry the latest right-side ts forward with ``last(..., ignoreNulls)``
    over rows up to the current one. One shuffle on user_id, linear
    scan per partition — no range-join blowup. Ties (equal ts) match,
    like SQL ASOF's >= semantics. Output: event_id, user_id, ts_ns,
    prior_ts_ns (null if none), gap_ns.
    """
    both = events.where(F.col("event_type").isin([left_type, right_type])).select(
        "event_id", "user_id", "event_type", "ts_ns"
    )
    # On equal ts the right-side event must sort BEFORE the left event
    # so the >= match sees it. Raw event_type ordering only works when
    # right_type happens to sort lexicographically first; an explicit
    # priority column holds for any type pair.
    type_priority = F.when(F.col("event_type") == right_type, 0).otherwise(1)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", type_priority, "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = both.withColumn(
        "prior_ts_ns",
        F.last(
            F.when(F.col("event_type") == right_type, F.col("ts_ns")), ignorenulls=True
        ).over(w),
    )
    return (
        tagged.where(F.col("event_type") == left_type)
        .select(
            "event_id",
            "user_id",
            "ts_ns",
            "prior_ts_ns",
            (F.col("ts_ns") - F.col("prior_ts_ns")).alias("gap_ns"),
        )
    )


def bucketed_range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket: int,
) -> DataFrame:
    """Non-equi range join — point ∈ [start, end] — via bucketing.

    A naive range join is a BroadcastNestedLoopJoin: |points|·|intervals|
    comparisons, unusable at scale. The scale path: quantize the range
    dimension into ``bucket``-wide cells; each interval EXPLODES into
    the cells it covers, each point maps to one cell, and the join
    becomes a shuffled EQUI-join on the cell id, followed by the exact
    range predicate on the (tiny) per-cell candidate set. Work drops to
    Σ per-cell |points|·|intervals|; pick ``bucket`` ≈ the typical
    interval width so intervals explode into O(1) cells.

    ``point_col``/``start_col``/``end_col`` must be numeric (cast dates
    to day numbers first). Returns points ⋈ intervals columns.
    """
    cell = "__t1_cell__"
    p = points.withColumn(cell, F.floor(F.col(point_col) / bucket))
    iv = intervals.withColumn(
        cell,
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / bucket), F.floor(F.col(end_col) / bucket)
            )
        ),
    )
    return (
        p.join(iv, cell)
        .where(F.col(point_col).between(F.col(start_col), F.col(end_col)))
        .drop(cell)
    )


def sessionize(
    events: DataFrame, gap_minutes: int = 30
) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user's
    inter-event gap exceeds ``gap_minutes``. lag + running sum over one
    user-partitioned window — single shuffle, linear per partition.
    Output per user: n_events, n_sessions, max session length.
    """
    gap_ns = gap_minutes * 60 * 1_000_000_000
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    new_session = (
        F.when(
            F.lag("ts_ns").over(w).isNull()
            | ((F.col("ts_ns") - F.lag("ts_ns").over(w)) > gap_ns),
            1,
        ).otherwise(0)
    )
    tagged = events.select("user_id", "event_id", "ts_ns").withColumn(
        "session_idx",
        F.sum(new_session).over(
            Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_session = tagged.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("session_events")
    )
    return per_session.groupBy("user_id").agg(
        F.sum("session_events").alias("n_events"),
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("session_events").alias("max_session_events"),
    )


def event_funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    horizon_hours: int | None = None,
) -> DataFrame:
    """Ordered k-step conversion funnel over an event log: a user
    reaches step i+1 at their EARLIEST step-(i+1) event strictly after
    their step-i time (greedy earliest-first matching), optionally
    within ``horizon_hours`` of the previous step.

    Scale story: each step is one filtered aggregation to a per-user
    row plus an equi-join on the user key against the previous step's
    (user, time) frame — shuffle volume is bounded by users, never
    events², and each step's event filter prunes at the scan. The
    final shaping runs on a k-row frame. Returns (step, step_name,
    n_users, conv_from_prev, conv_from_first).
    """
    from functools import reduce

    ev = events.select(
        F.col(user_col).alias("u"),
        F.col(type_col).alias("et"),
        F.col(ts_col).cast("timestamp").alias("t"),
    )
    per_step = [
        ev.where(F.col("et") == steps[0]).groupBy("u").agg(F.min("t").alias("t"))
    ]
    for s in steps[1:]:
        nxt = (
            ev.where(F.col("et") == s)
            .join(per_step[-1].select("u", F.col("t").alias("tp")), "u")
            .where(F.col("t") > F.col("tp"))
        )
        if horizon_hours is not None:
            nxt = nxt.where(
                F.col("t") <= F.col("tp") + F.expr(f"INTERVAL {int(horizon_hours)} HOURS")
            )
        per_step.append(nxt.groupBy("u").agg(F.min("t").alias("t")))
    counts = reduce(
        DataFrame.unionByName,
        [
            ps.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(i).alias("step"),
                F.lit(steps[i]).alias("step_name"),
                "n_users",
            )
            for i, ps in enumerate(per_step)
        ],
    )
    w = Window.orderBy("step")
    # zero-denominator guard: a dead prior step yields NULL conv (not
    # engine-dependent 0/0 — Spark non-ANSI nulls, DuckDB floats inf)
    prev_n = F.lag("n_users").over(w)
    first_n = F.first("n_users").over(w)
    return counts.select(
        "step",
        "step_name",
        "n_users",
        F.when(
            prev_n > 0, F.round(F.col("n_users") / prev_n, 6)
        ).alias("conv_from_prev"),
        F.when(
            first_n > 0, F.round(F.col("n_users") / first_n, 6)
        ).alias("conv_from_first"),
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_week_offset: int = 8,
) -> DataFrame:
    """Weekly cohort retention triangle: users are cohorted by the ISO
    week of their first event; a cohort's week-k retention is the
    fraction of its users active in cohort_week + k.

    Scale story: two aggregations bounded by users — per-user first
    week (one groupBy) and distinct (user, week) activity (map-side
    partial dedup) — joined on the user key; the final count runs on
    (cohort, offset) pairs, a frame bounded by weeks², and the
    denominator joins back from the offset-0 row via a cohort window.
    Events themselves are scanned once per aggregation and never
    pairwise-joined. Returns (cohort_week, week_offset, n_active,
    retention).
    """
    ev = events.select(
        F.col(user_col).alias("u"),
        F.date_trunc("week", F.col(ts_col).cast("timestamp")).cast("date").alias("wk"),
    )
    first = ev.groupBy("u").agg(F.min("wk").alias("cohort_week"))
    active = ev.distinct()
    hits = (
        active.join(first, "u")
        .select(
            "cohort_week",
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
            "u",
        )
        .where(F.col("week_offset") <= max_week_offset)
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    w = Window.partitionBy("cohort_week")
    base = F.max(F.when(F.col("week_offset") == 0, F.col("n_active"))).over(w)
    return hits.select(
        "cohort_week",
        "week_offset",
        "n_active",
        F.round(F.col("n_active") / base, 6).alias("retention"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: list[str] | None = None,
    direction: str = "backward",
    tolerance: float | int | None = None,
    suffix: str = "_r",
    tie_col: str | None = None,
) -> DataFrame:
    """General as-of join — the pandas ``merge_asof`` surface Spark
    lacks (feature-store point-in-time lookups, quote-to-trade
    matching, sensor alignment): for every left row, ONE right row
    with the same ``by`` keys and

        backward : the greatest right ``on`` ≤ left ``on``
        forward  : the smallest right ``on`` ≥ left ``on``
        nearest  : whichever side is closer (tie → backward,
                   the pandas rule)

    optionally within ``tolerance`` of the left ``on`` (a farther
    match becomes NULL, not a nearer wrong one). Equal ``on`` values
    MATCH in both directions. Among right rows sharing (by, on),
    ``tie_col`` (greatest wins) makes the choice deterministic; with
    no tie column one arbitrary-but-single row matches — pass a
    unique id for reproducible output.

    ``on`` units: integral columns compare/subtract as LONG (exact —
    a double cast would quantize nanosecond-epoch values above 2⁵³
    into false ties), timestamps as unix MICROSECONDS, dates as days,
    floats as double — ``tolerance`` and ``asof_gap`` are in that same
    unit. Right rows with a NULL ``on`` can never match and are
    dropped; left rows with a NULL ``on`` survive with a NULL match.

    Scale shape (the ``asof_prior_event`` union-and-scan, generalized
    two-table): tag both sides, ONE shuffle keyed by ``by``, each
    partition sorted once per direction, the matching right row
    carried to each left row by ``last/first(..., ignoreNulls)`` over
    a running frame — never a range-join or per-row subquery. With
    ``by=None`` everything lands in ONE partition (a global ordered
    scan — fine for reference tables, wrong for big data; use keys).

    Output: every left column (caller's names), plus every right
    column except ``on``/``by``/``tie_col`` suffixed with ``suffix``
    (NULL when no match), plus ``asof_gap`` = matched right ``on`` −
    left ``on`` (signed: negative = the match lies in the past; NULL
    when no match)."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward/forward/nearest, got {direction!r}"
        )
    if tolerance is not None and tolerance < 0:
        raise ValueError(f"tolerance must be >= 0, got {tolerance}")
    by = list(by or [])
    rcols = [
        c for c in right.columns if c != on and c not in by and c != tie_col
    ]
    bad = [c for c in rcols if c in ("__on", "__tie")]
    if bad:
        # they would duplicate the payload struct's internal fields
        # (ambiguous getField on __r) — reject plainly (ADVICE r10)
        raise ValueError(
            f"right columns {bad} collide with asof_join's internal "
            "__on/__tie payload fields — rename them"
        )
    overlap = [f"{c}{suffix}" for c in rcols if f"{c}{suffix}" in left.columns]
    if "asof_gap" in left.columns or any(
        f"{c}{suffix}" == "asof_gap" for c in rcols
    ):
        overlap.append("asof_gap")
    if overlap:
        raise ValueError(f"output columns collide with left: {overlap}")

    def _on_expr(df: DataFrame):
        # exact ordering/arithmetic per type: a blanket double cast
        # quantizes ns-epoch longs above 2^53 into false equal-on
        # ties (self-review r10)
        dt = df.schema[on].dataType.typeName()
        if dt in ("byte", "short", "integer", "long"):
            return F.col(on).cast("long")
        if dt in ("timestamp", "timestamp_ntz"):
            return F.unix_micros(F.col(on).cast("timestamp"))
        if dt == "date":
            return F.unix_date(F.col(on))
        if dt == "decimal":
            # a silent double cast would quantize high-precision
            # decimals exactly like the ns-epoch longs the docstring
            # warns about — refuse instead (ADVICE r10); the caller
            # picks the scale and casts to long/double deliberately
            raise ValueError(
                f"decimal on-column {on!r}: cast it to long (exact, at "
                "your chosen scale) or double (accepting quantization) "
                "before asof_join"
            )
        return F.col(on).cast("double")

    lpay = F.struct(*[F.col(c) for c in left.columns]).alias("__l")
    tie = F.col(tie_col) if tie_col is not None else F.lit(0)
    rpay = F.struct(
        _on_expr(right).alias("__on"),
        tie.alias("__tie"),
        *[F.col(c).alias(c) for c in rcols],
    ).alias("__r")
    lt = left.select(
        *by,
        _on_expr(left).alias("__on"),
        F.lit(1).alias("__is_left"),
        lpay,
        F.lit(None).cast(
            right.select(rpay).schema["__r"].dataType
        ).alias("__r"),
    )
    rt = right.where(F.col(on).isNotNull()).select(
        *by,
        _on_expr(right).alias("__on"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(
            left.select(lpay).schema["__l"].dataType
        ).alias("__l"),
        rpay,
    )
    u = lt.unionByName(rt)
    need_b = direction in ("backward", "nearest")
    need_f = direction in ("forward", "nearest")
    cols = list(u.columns)
    out = u
    if need_b:
        # right rows first at equal __on (visible to ≤), greatest
        # (__on, __tie) last in the frame → last() picks it
        wb = (
            Window.partitionBy(*by)
            .orderBy(
                F.col("__on").asc(),
                F.col("__is_left").asc(),
                F.col("__r.__tie").asc_nulls_first(),
            )
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = out.withColumn("__mb", F.last("__r", ignorenulls=True).over(wb))
    if need_f:
        # right rows last at equal __on (visible to ≥), smallest
        # (__on) first; among equal __on the greatest __tie should
        # win. Expressed as a RUNNING frame over the REVERSED ordering
        # (last() in (__on desc, __is_left asc, __tie asc) order picks
        # the identical element first() would in (asc, desc, desc)
        # order over [currentRow, unboundedFollowing]): Spark's
        # unbounded-FOLLOWING frame recomputes its aggregate from
        # scratch per row — O(rows²) per partition and quadratic death
        # on a big per-key history — while running frames update
        # incrementally (the resample_interpolate r14 finding, same
        # class).
        wf = (
            Window.partitionBy(*by)
            .orderBy(
                F.col("__on").desc(),
                F.col("__is_left").asc(),
                F.col("__r.__tie").asc_nulls_first(),
            )
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = out.withColumn("__mf", F.last("__r", ignorenulls=True).over(wf))
    gb = (F.col("__on") - F.col("__mb.__on")) if need_b else None
    gf = (F.col("__mf.__on") - F.col("__on")) if need_f else None
    if direction == "backward":
        match, gap = F.col("__mb"), -gb
    elif direction == "forward":
        match, gap = F.col("__mf"), gf
    else:  # nearest: closer side wins, tie -> backward (pandas rule)
        pick_b = F.col("__mf").isNull() | (
            F.col("__mb").isNotNull() & (gb <= gf)
        )
        match = F.when(pick_b, F.col("__mb")).otherwise(F.col("__mf"))
        gap = F.when(pick_b, -gb).otherwise(gf)
    # a NULL-on left row must not pick up a frame-start/-end garbage
    # match (its gap is NULL either way — self-review r10)
    match = F.when(F.col("__on").isNotNull(), match)
    gap = F.when(F.col("__on").isNotNull(), gap)
    if tolerance is not None:
        within = F.abs(gap) <= F.lit(tolerance)
        match = F.when(within, match)
        gap = F.when(within, gap)
    res = out.where(F.col("__is_left") == 1)
    final_cols = [F.col(f"__l.{c}").alias(c) for c in left.columns]
    final_cols += [match.getField(c).alias(f"{c}{suffix}") for c in rcols]
    final_cols.append(gap.alias("asof_gap"))
    return res.select(*final_cols)
