"""Streaming TableOne: incremental descriptive statistics over a stream.

Counts, sums and sums-of-squares are associative, so grouped
sufficient statistics are valid Structured-Streaming aggregations
(SURVEY §2.9): mean = Σx/n and sample variance = (Σx² − (Σx)²/n)/(n−1)
are derived columns of the windowed state. Percentiles ride the same
agg as ``percentile_approx``'s mergeable GK sketch where requested
(``streaming_tableone(quartiles=True)``) — exact while groups stay
under the sketch accuracy, rank-bounded beyond; the plain
``windowed_sufficient_stats`` keeps scalar-only state.

``windowed_sufficient_stats`` works on any streaming DataFrame with
(ts, event_type, value), ``streaming_tableone`` on one with a
timestamp, a strat column and the analyzed columns; with a watermark,
state for closed windows is dropped, so either query runs indefinitely
at production rates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_sufficient_stats(
    stream: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Windowed (group × time-window) sufficient statistics.

    Emits count / sum / sum-of-squares / min / max plus derived
    mean and stddev_samp per window. Works identically on batch and
    streaming inputs (the streaming plan adds watermark + state).
    """
    if stream.isStreaming:
        stream = stream.withWatermark(ts_col, watermark)
    v = F.col(value_col).cast("double")
    agg = (
        stream.groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(group_col))
        .agg(
            F.count(v).alias("n"),
            F.sum(v).alias("s1"),
            F.sum(v * v).alias("s2"),
            F.min(v).alias("min_value"),
            F.max(v).alias("max_value"),
        )
    )
    n = F.col("n")
    mean = F.col("s1") / n
    var = (F.col("s2") - F.col("s1") * F.col("s1") / n) / (n - 1)
    return agg.select(
        F.col("win.start").alias("window_start"),
        F.col(group_col),
        "n",
        mean.alias("mean_value"),
        F.when(n > 1, F.sqrt(var)).alias("stddev_value"),
        "min_value",
        "max_value",
    )


def streaming_dedup(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact deduplication on ``key_cols``.

    With the watermark, Spark keeps dedup state only for keys newer
    than (max event time − watermark) — bounded state, runs forever.
    Late duplicates older than the watermark may be re-emitted
    (documented streaming trade-off; exact global dedup is a batch op).
    """
    if stream.isStreaming:
        stream = stream.withWatermark(ts_col, watermark)
    return stream.dropDuplicates(key_cols)


def streaming_sessionize(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Gap-based sessionization as a CUSTOM STATEFUL streaming operator
    (``applyInPandasWithState`` — the extension point for semantics no
    builtin streaming agg expresses; SURVEY §2.9 / Phase F).

    State per user = the one open session (start, last-event, count) —
    O(users) state, independent of event volume. Each micro-batch folds
    its (sorted) events into that session, APPENDS every session closed
    by a gap, and arms an event-time timeout at last_event + gap so
    idle sessions flush when the watermark passes — no unbounded state,
    runs indefinitely. The session a user still has open at shutdown is
    intentionally never emitted (it is not finished).

    Batch twin: ``operators.relational.sessionize`` (lag + running-sum
    window) — equivalence is pinned by test. Returns (user_id,
    session_start_us, session_end_us, n_events), timestamps in epoch µs.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    out_schema = (
        f"{user_col} long, session_start_us long, session_end_us long, n_events long"
    )
    state_schema = "start long, last long, n long"
    cols = [user_col, "session_start_us", "session_end_us", "n_events"]

    def fold(key, pdfs, state):
        uid = key[0]
        if state.hasTimedOut:
            s, last, n = state.get
            state.remove()
            yield pd.DataFrame([(uid, s, last, n)], columns=cols)
            return
        import numpy as np

        batches = [pdf["__ts_us"].to_numpy("int64") for pdf in pdfs]
        ts = np.sort(np.concatenate(batches)) if batches else np.array([], "int64")
        s = last = None
        n = 0
        if state.exists:
            s, last, n = state.get
        closed = []
        for x in ts:
            x = int(x)
            if s is None:
                s, last, n = x, x, 1
            elif x - last > gap_us:
                closed.append((uid, s, last, n))
                s, last, n = x, x, 1
            else:
                last, n = x, n + 1
        if s is not None:
            state.update((s, last, n))
            # event-time timeout: fire once the watermark passes the
            # open session's gap horizon (API takes epoch ms)
            state.setTimeoutTimestamp((last + gap_us) // 1000 + 1)
        if closed:
            yield pd.DataFrame(closed, columns=cols)

    prepared = (
        stream.withWatermark(ts_col, watermark)
        if stream.isStreaming
        else stream
    ).withColumn("__ts_us", F.unix_micros(F.col(ts_col)))
    return prepared.groupBy(user_col).applyInPandasWithState(
        fold, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


def session_window_stats(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    watermark: str = "0 seconds",
    weight_col: str | None = None,
) -> DataFrame:
    """Gap sessionization via the BUILTIN ``F.session_window`` — the
    Catalyst-native alternative to :func:`streaming_sessionize` for the
    common per-key gap-merge case (state merging stays in the JVM; no
    Python worker round-trip, no custom state schema).

    ``session_window`` spans [min event, max event + gap); the emitted
    ``session_end_us`` subtracts the gap back so the output schema and
    values line up with :func:`streaming_sessionize` (session_end =
    last event). In streaming append mode a session emits once the
    watermark passes its window END (= last + gap), matching the custom
    operator's event-time timeout. Use the custom operator when the
    fold logic outgrows what a gap window can express; equivalence on
    the common case is pinned by test and oracle.
    Returns (user_id, session_start_us, session_end_us, n_events).

    ``weight_col``: WEIGHTED sessions (same frequency-weight contract
    as batch/streaming TableOne): rows with null/non-positive weight
    are dropped BEFORE sessionization (an excluded row neither counts
    nor extends a session), and the output gains ``w_events`` = Σw per
    session — still one associative streaming agg, state unchanged.
    Integer weights make ``w_events`` equal ``n_events`` of the
    row-replicated stream (pinned by test). The unweighted schema is
    unchanged.
    """
    gap_us = gap_minutes * 60 * 1_000_000
    aggs = [F.count(F.lit(1)).alias("n_events")]
    extra = []
    if weight_col is not None:
        # same contract as batch tableone(weight_col=...): a
        # non-numeric weight column is a caller error, not a silent
        # drop-every-row cast-to-null
        from pyspark.sql import types as T

        if weight_col not in stream.columns:
            raise ValueError(f"weight_col {weight_col!r} not in stream columns")
        if not isinstance(
            stream.schema[weight_col].dataType,
            (T.NumericType,),
        ):
            raise ValueError(
                f"weight_col {weight_col!r} must be numeric, got "
                f"{stream.schema[weight_col].dataType.simpleString()}"
            )
        wc = F.col(weight_col).cast("double")
        stream = stream.where(wc.isNotNull() & (wc > 0))
        aggs.append(F.sum(wc).alias("w_events"))
        extra = ["w_events"]
    if stream.isStreaming:
        stream = stream.withWatermark(ts_col, watermark)
    return (
        stream.groupBy(
            F.session_window(F.col(ts_col), f"{gap_minutes} minutes"),
            F.col(user_col),
        )
        .agg(*aggs)
        .select(
            F.col(user_col),
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            (F.unix_micros(F.col("session_window.end")) - gap_us).alias(
                "session_end_us"
            ),
            "n_events",
            *extra,
        )
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    within_minutes: int = 60,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream INNER join: each right-side event
    matched to same-user left-side events in the window
    (right.ts − within, right.ts].

    The canonical attribution shape (click → purchase). Spark requires
    watermarks on BOTH sides plus a time-range join condition so the
    state store can evict rows older than the horizon — state is
    bounded by (watermark + within) of per-user history, independent of
    stream length; the join itself is a shuffled equi-join on user with
    the range predicate applied inside each key group. Works
    identically on batch inputs (same plan minus state).
    Returns (user_id, left_id, right_id, gap_us).
    """
    l = left.select(
        F.col(user_col).alias("l_user"),
        F.col("event_id").alias("left_id"),
        F.col(ts_col).alias("left_ts"),
    )
    r = right.select(
        F.col(user_col).alias("r_user"),
        F.col("event_id").alias("right_id"),
        F.col(ts_col).alias("right_ts"),
    )
    if left.isStreaming:
        l = l.withWatermark("left_ts", watermark)
    if right.isStreaming:
        r = r.withWatermark("right_ts", watermark)
    cond = (
        (F.col("l_user") == F.col("r_user"))
        & (F.col("left_ts") <= F.col("right_ts"))
        & (
            F.col("left_ts")
            > F.col("right_ts") - F.expr(f"INTERVAL {within_minutes} MINUTES")
        )
    )
    return l.join(r, cond, "inner").select(
        F.col("l_user").alias("user_id"),
        "left_id",
        "right_id",
        (F.unix_micros("right_ts") - F.unix_micros("left_ts")).alias("gap_us"),
    )


def run_stream_over_parquet(
    spark,
    parquet_path: str,
    schema,
    sink_table: str = "stream_stats_result",
    **kwargs,
) -> DataFrame:
    """Execute the streaming aggregation over a parquet directory with
    an available-now trigger (bounded backfill), materializing into an
    in-memory sink; returns the result as a batch DataFrame.

    This is a real Structured-Streaming execution (stateful agg +
    watermark), used by tests and the driver harness to prove
    batch/stream equivalence of the sufficient statistics.
    """
    stream = (
        spark.readStream.schema(schema).format("parquet").load(parquet_path)
    )
    out = windowed_sufficient_stats(stream, **kwargs)
    q = (
        out.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_table)


def streaming_enriched_stats(
    stream: DataFrame,
    dim: DataFrame,
    join_keys: tuple = ("user_id", "c_custkey"),
    enrich_col: str = "c_mktsegment",
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-static enrichment join + windowed rollup — the canonical
    Structured-Streaming dimension pattern: each micro-batch of events
    joins a STATIC dimension table (no state needed for the static
    side; Spark plans it as a per-batch broadcast when the dim is
    small), then aggregates by (window × enriched attribute).

    Scale story: the static side never enters streaming state — state
    is only the (window × attribute) aggregates, dropped past the
    watermark; a 100 TB event stream joins a dimension by broadcast
    exactly as the batch star join does. Returns (window_start,
    <enrich_col>, n, sum_value).
    """
    s_key, d_key = join_keys
    if stream.isStreaming:
        stream = stream.withWatermark(ts_col, watermark)
    enriched = stream.join(
        F.broadcast(dim.select(F.col(d_key).alias(s_key), enrich_col)),
        s_key,
    )
    v = F.col(value_col).cast("double")
    return (
        enriched.groupBy(
            F.window(F.col(ts_col), window).alias("win"), F.col(enrich_col)
        )
        .agg(F.count(v).alias("n"), F.round(F.sum(v), 6).alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            enrich_col,
            "n",
            "sum_value",
        )
    )


def streaming_tableone(
    stream: DataFrame,
    strat_col: str,
    cont_vars: list[str],
    cat_vars: dict[str, list[str]] | None = None,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    missing: str = "MISSING",
    quartiles: bool = False,
    quartile_accuracy: int = 10_000,
    weight_col: str | None = None,
) -> DataFrame:
    """TableOne over a stream: the long-format descriptive table per
    (time window x strat value), from ONE streaming aggregation
    (SURVEY §7 Phase F north star).

    ``weight_col``: frequency-weighted variant (same contract as batch
    ``tableone(weight_col=...)``): counts become Σw, moments use
    Σwx/Σwx² with the (Σw − 1) sample variance, fractions are
    Σw-shares; rows with null/non-positive weight are dropped. All
    weighted statistics remain associative scalars, so the single
    watermarked agg and its bounded state are unchanged. Quartile rows
    are refused with weights (``ValueError``): Spark's mergeable GK
    sketch is unweighted, and a wrong-but-plausible quartile is worse
    than an honest boundary.

    The batch engine's insight carries over unchanged: every emitted
    statistic is a derived column of associative sufficient statistics
    (n, Σx, Σx², min, max, per-category conditional counts), so the
    whole table is a single watermark-bounded windowed agg — state is
    O(windows x strats x (5·|cont| + Σ|categories|)) scalars,
    independent of row count, and closed windows are dropped. The
    long-row melt is a stateless post-aggregation ``F.stack``.

    Deltas from batch ``tableone`` (both inherent to streaming):
      * quartile rows are opt-in (``quartiles=True``): they ride the
        same single agg via ``percentile_approx``'s MERGEABLE GK
        sketch (a TypedImperativeAggregate, so it is a legal
        streaming aggregate) — exact quantile_disc semantics while
        every (window x strat) group stays under
        ``quartile_accuracy`` rows, rank-bounded approximation
        beyond, the same regime property as the batch "data" mode;
        state grows by O(accuracy) per open group, so size the
        accuracy to the expected group cardinality;
      * categorical variables need their category values declared
        up front (``cat_vars={col: [values...]}``) because a
        streaming schema cannot depend on the data — the same
        restriction as Spark's own streaming pivot. NULLs and values
        outside the declared list are folded into the ``missing``
        bucket (a real catch-all, so category counts always sum to
        the group's row count); include ``missing`` in the declared
        values to get that bucket its own output row.

    Output: (window_start, <strat_col>, Index, Characteristics,
    Variable_type, Values, value, frac) — Index follows the batch
    contract (var i: cats i.01... by declared order, cont i.1-i.5 =
    n/min/max/mean/stddev); ``value`` holds counts for category rows
    and the statistic for continuous rows; ``frac`` is the
    within-(window x strat) category fraction, NULL on cont rows.

    Works identically on batch and streaming inputs, which is how the
    equivalence test pins it.
    """
    cat_vars = cat_vars or {}
    weighted = weight_col is not None
    if weighted and quartiles:
        raise ValueError(
            "quartiles with weight_col are unsupported in streaming "
            "(no weighted mergeable sketch); set quartiles=False"
        )
    if weighted:
        wc = F.col(weight_col).cast("double")
        stream = stream.where(wc.isNotNull() & (wc > 0))
    if stream.isStreaming:
        stream = stream.withWatermark(ts_col, watermark)

    w = F.col(weight_col).cast("double") if weighted else F.lit(1.0)
    aggs: list = [
        (F.sum(w) if weighted else F.count(F.lit(1))).alias("rows")
    ]
    for i, v in enumerate(cont_vars):
        c = F.col(v).cast("double")
        aggs += [
            (
                F.sum(F.when(c.isNotNull(), w)) if weighted else F.count(c)
            ).alias(f"n_{i}"),
            F.min(c).alias(f"mn_{i}"),
            F.max(c).alias(f"mx_{i}"),
            F.sum(w * c if weighted else c).alias(f"s1_{i}"),
            F.sum((w * c * c) if weighted else c * c).alias(f"s2_{i}"),
        ]
        if quartiles:
            aggs.append(
                F.percentile_approx(
                    c, [0.25, 0.5, 0.75], F.lit(quartile_accuracy)
                ).alias(f"q_{i}")
            )
    for j, (v, vals) in enumerate(cat_vars.items()):
        # catch-all: NULL *and* out-of-list values fold into `missing`
        # (isin(NULL) is NULL -> otherwise branch), so declared-category
        # counts + the missing bucket always partition the group
        sv = F.col(v).cast("string")
        cv = F.when(sv.isin(list(vals)), sv).otherwise(F.lit(missing))
        for k, val in enumerate(vals):
            aggs.append(
                F.sum(
                    F.when(cv == F.lit(val), w).otherwise(F.lit(0.0))
                    if weighted
                    else (cv == F.lit(val)).cast("long")
                ).alias(f"c_{j}_{k}")
            )

    agg = stream.groupBy(
        F.window(F.col(ts_col), window).alias("win"), F.col(strat_col)
    ).agg(*aggs)

    # stateless melt to the long contract (native F.stack, names are data)
    n_vars = 0
    stack_args: list = []
    rows_total = F.col("rows").cast("double")
    for v, vals in cat_vars.items():
        j = list(cat_vars).index(v)
        n_vars += 1
        for k, val in enumerate(vals):
            ct = F.col(f"c_{j}_{k}").cast("double")
            stack_args += [
                F.lit(round(n_vars + 0.01 * (k + 1), 2)),
                F.lit(v), F.lit("category"), F.lit(val),
                ct,
                F.when(rows_total > 0, F.round(ct / rows_total, 6)),
            ]
    for i, v in enumerate(cont_vars):
        n_vars += 1
        n = F.col(f"n_{i}").cast("double")
        mean = F.col(f"s1_{i}") / n
        var = (F.col(f"s2_{i}") - F.col(f"s1_{i}") * F.col(f"s1_{i}") / n) / (
            n - 1
        )
        stats = [
            ("n", 1, n),
            ("min", 2, F.col(f"mn_{i}")),
            ("max", 3, F.col(f"mx_{i}")),
            # n-guards: an all-null value column must give NULL, not
            # the IEEE 0/0 NaN DuckDB's avg would disagree with
            ("mean", 4, F.when(n > 0, F.round(mean, 6))),
            ("stddev", 5, F.when(n > 1, F.round(F.sqrt(var), 6))),
        ]
        if quartiles:
            stats += [
                (f"{p}th percentile", 5 + k + 1, F.col(f"q_{i}")[k])
                for k, p in enumerate((25, 50, 75))
            ]
        for label, off, expr in stats:
            stack_args += [
                F.lit(round(n_vars + off / 10, 1)),
                F.lit(v), F.lit("continuous"), F.lit(label),
                expr.cast("double"),
                F.lit(None).cast("double"),
            ]

    n_rows = len(stack_args) // 6
    return agg.select(
        F.col("win.start").alias("window_start"),
        F.col(strat_col),
        F.stack(F.lit(n_rows), *stack_args).alias(
            "Index", "Characteristics", "Variable_type", "Values",
            "value", "frac",
        ),
    )


def streaming_bloom_dedup(
    stream: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    m_bits: int = 1 << 15,
    n_hashes: int = 5,
    n_shards: int = 8,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming novelty detection with FIXED-SIZE state forever: a
    sharded Bloom filter as ``applyInPandasWithState`` state — the
    streaming face of ``operators/bloom.py`` (the Dolma-pattern
    incremental crawl, run as a stream).

    Contrast with :func:`streaming_dedup` (``dropDuplicates``): exact,
    but its state grows with distinct keys inside the watermark and
    must forget old keys to stay bounded. The Bloom state is
    ``n_shards × m_bits`` BITS — constant for the life of the stream —
    so a key seen LAST MONTH still probes seen; the price is the
    filter's false-positive rate (a new key flagged seen), never a
    false negative. That is exactly the crawl-dedup trade.

    Sharding: keys group by ``poly_hash(key) % n_shards`` (the same
    cross-engine hash family as the batch filter; each shard holds an
    independent m_bits filter, so total capacity scales with shards
    and state per group stays small). Within a micro-batch keys are
    processed in (ts, key) order, so duplicate keys inside ONE batch
    get one "new" and the rest "seen" — deterministic and replayable
    by the pure-Python twin (``bloom.km_positions_py`` — arithmetic
    parity with the Catalyst build is pinned in tests). No timeout:
    state never expires BY DESIGN.

    Returns (key, maybe_seen) per input row, append mode.
    """
    import pandas as pd

    from tableone_pyspark_spark.operators.bloom import km_positions_py

    if m_bits < 64 or m_bits & (m_bits - 1):
        raise ValueError("m_bits must be a power of two >= 64")
    if n_shards < 1:
        raise ValueError("n_shards must be positive")
    n_lanes = m_bits // 64
    out_schema = "key string, maybe_seen boolean"
    state_schema = "bits array<bigint>"

    def fold(shard_key, pdfs, state):
        if state.hasTimedOut:  # NoTimeout: unreachable, defensive
            return
        # state lanes are signed int64; work in unsigned space
        lanes = (
            [int(x) & ((1 << 64) - 1) for x in state.get[0]]
            if state.exists
            else [0] * n_lanes
        )
        rows = []
        frames = [
            pdf[["__key", "__ts_us"]] for pdf in pdfs
        ]
        if frames:
            allk = pd.concat(frames, ignore_index=True).sort_values(
                ["__ts_us", "__key"], kind="stable"
            )
            for k in allk["__key"]:
                ps = km_positions_py(k, m_bits, n_hashes)
                seen = all((lanes[p >> 6] >> (p & 63)) & 1 for p in ps)
                if not seen:
                    for p in ps:
                        lanes[p >> 6] |= 1 << (p & 63)
                rows.append((k, seen))
        # int64 lanes: keep the top bit arithmetic in signed range
        state.update(([x - (1 << 64) if x >= 1 << 63 else x for x in lanes],))
        if rows:
            yield pd.DataFrame(rows, columns=["key", "maybe_seen"])

    return _sharded_state_apply(
        stream, key_col, ts_col, n_shards, watermark,
        fold, out_schema, state_schema,
    )


def _state_apply(
    stream: DataFrame,
    ts_col: str,
    watermark: str,
    group_col: str,
    cols: list,
    row_filter,
    fold,
    out_schema: str,
    state_schema: str,
) -> DataFrame:
    """The applyInPandasWithState epilogue every stateful
    sketch/tracker operator shares (hash-sharded AND natural-group):
    watermark-if-streaming → project ``cols`` → ``row_filter`` →
    groupBy(``group_col``) with append output and NoTimeout (every
    caller's per-group state is fixed-size BY DESIGN). One home so a
    change lands in every operator at once (self-review r10)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    prepared = (
        stream.withWatermark(ts_col, watermark) if stream.isStreaming else stream
    ).select(*cols).where(row_filter)
    return prepared.groupBy(group_col).applyInPandasWithState(
        fold, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def _sharded_state_apply(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    n_shards: int,
    watermark: str,
    fold,
    out_schema: str,
    state_schema: str,
) -> DataFrame:
    """The sharded-sketch flavor of :func:`_state_apply` (Bloom / CMS /
    heavy hitters): project (__key, __ts_us, __shard = poly_hash(key)
    % n_shards — poly_hash is non-negative so pmod is unneeded) and
    drop NULL keys; per-shard state is a fixed-size sketch."""
    from tableone_pyspark_spark.functions.text import poly_hash

    return _state_apply(
        stream, ts_col, watermark, "__shard",
        [
            F.col(key_col).cast("string").alias("__key"),
            F.unix_micros(F.col(ts_col)).alias("__ts_us"),
            (poly_hash(F.col(key_col).cast("string")) % n_shards).alias(
                "__shard"
            ),
        ],
        F.col("__key").isNotNull(),
        fold, out_schema, state_schema,
    )


def streaming_cms_counts(
    stream: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    width: int = 256,
    depth: int = 4,
    n_shards: int = 4,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming frequency tracking in FIXED memory: the Count-Min
    twin of :func:`streaming_bloom_dedup` (hot-key / abuse / crawler
    -loop detection — "how often have I seen this key so far?",
    forever, without per-key state). Each shard keeps ONE depth×width
    int64 matrix (`operators/sketches.py` geometry, same deterministic
    poly-hash family); every input row increments its ``depth`` slots
    and emits (key, est) where est = the Count-Min estimate AFTER
    counting the row — one-sided (est ≥ the key's true running count,
    exact while its slots are collision-free).

    Replay contract (the ``stream_bloom`` monotone argument): counts
    only grow, and within a micro-batch each shard processes rows in
    the documented (event-time, key) order — so row i's estimate is
    min over rows d of the CUMULATIVE count of earlier-or-equal rows
    in its shard sharing slot d. Under availableNow with one file per
    trigger the whole emission is therefore exact SQL (window
    cumulative counts); rows with identical (ts, key) are
    interchangeable, so the emitted multiset is deterministic even
    though their relative order is not. State size: n_shards × depth
    × width longs, independent of rows AND of distinct keys — no
    timeout needed BY DESIGN (unlike per-key dedup state, the sketch
    cannot grow).

    Returns (key, est) per input row, append mode."""
    import pandas as pd

    from tableone_pyspark_spark.operators.sketches import (
        _cms_check,
        cms_positions_py,
    )

    _cms_check(width, depth)
    if n_shards < 1:
        raise ValueError("n_shards must be positive")
    out_schema = "key string, est bigint"
    state_schema = "counts array<bigint>"

    def fold(shard_key, pdfs, state):
        if state.hasTimedOut:  # NoTimeout: unreachable, defensive
            return
        counts = (
            [int(x) for x in state.get[0]]
            if state.exists
            else [0] * (depth * width)
        )
        rows = []
        frames = [pdf[["__key", "__ts_us"]] for pdf in pdfs]
        if frames:
            allk = pd.concat(frames, ignore_index=True).sort_values(
                ["__ts_us", "__key"], kind="stable"
            )
            for k in allk["__key"]:
                # single source of truth with the batch sketch family
                slots = cms_positions_py(k, width, depth)
                for s in slots:
                    counts[s] += 1
                rows.append((k, min(counts[s] for s in slots)))
        state.update((counts,))
        if rows:
            yield pd.DataFrame(rows, columns=["key", "est"])

    return _sharded_state_apply(
        stream, key_col, ts_col, n_shards, watermark,
        fold, out_schema, state_schema,
    )


def streaming_heavy_hitters(
    stream: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    phi: float = 0.01,
    width: int = 256,
    depth: int = 4,
    n_shards: int = 4,
    capacity: int | None = None,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming φ-heavy-hitters in FIXED memory: the CMS
    heavy-hitters composition (Cormode & Muthukrishnan 2005 §3.2) —
    each shard keeps the X100 Count-Min matrix plus a BOUNDED
    candidate set of keys whose running estimate has reached
    φ × shard rows (hot users, crawler loops, abusive hosts — the
    question "which keys are hot" that per-key counting can't answer
    in bounded state). At the end of every micro-batch each shard
    emits its candidate SNAPSHOT ``(shard, key, est, shard_rows)``
    with estimates re-queried FRESH from the sketch (an insert-time
    estimate goes stale the moment later rows land in its slots);
    consumers keep the latest snapshot per (shard, key), derive
    ``total_rows`` as the sum of each shard's LATEST ``shard_rows``
    (the shard column exists exactly so this is computable from the
    emissions alone — self-review r10; a shard with no candidates
    stays silent, so the sum is a LOWER bound and the threshold errs
    toward inclusion — the safe direction), and filter globally with
    ``est >= phi * total_rows`` (per-shard pruning uses φ × shard
    rows ≤ φ × total, so a globally heavy key — keys hash-route to
    exactly ONE shard — is never pruned locally).

    Guarantees, stated honestly: estimates are one-sided (est ≥ true
    count); every key with true shard count ≥ φ·shard_rows is in the
    snapshot PROVIDED the candidate set never overflowed ``capacity``
    (default 2/φ — overflow evicts the smallest fresh estimate, and
    since at most 1/φ keys can truly be φ-heavy, an eviction wrongly
    drops a heavy key only when sketch collisions inflate ≥ capacity
    non-heavy keys past the threshold — the standard CMS-HH failure
    probability, driven by width). State: depth×width int64 + ≤
    capacity strings per shard, independent of rows and distinct
    keys.

    Returns append-mode (shard, key, est, shard_rows) snapshots."""
    import pandas as pd

    from tableone_pyspark_spark.operators.sketches import (
        _cms_check,
        cms_positions_py,
    )

    _cms_check(width, depth)
    if n_shards < 1:
        raise ValueError("n_shards must be positive")
    if not 0.0 < phi < 1.0:
        raise ValueError(f"phi must be in (0, 1), got {phi}")
    cap = int(capacity) if capacity is not None else max(8, int(2.0 / phi))
    if cap < 1:
        raise ValueError("capacity must be positive")
    out_schema = "shard int, key string, est bigint, shard_rows bigint"
    state_schema = "counts array<bigint>, n bigint, cand array<string>"

    def fold(shard_key, pdfs, state):
        if state.hasTimedOut:  # NoTimeout: unreachable, defensive
            return
        if state.exists:
            counts = [int(x) for x in state.get[0]]
            n = int(state.get[1])
            cand = set(state.get[2])
        else:
            counts, n, cand = [0] * (depth * width), 0, set()
        pos_cache: dict[str, list[int]] = {}

        def slots_of(k: str) -> list[int]:
            s = pos_cache.get(k)
            if s is None:
                s = cms_positions_py(k, width, depth)
                pos_cache[k] = s
            return s

        def fresh(k: str) -> int:
            return min(counts[s] for s in slots_of(k))

        frames = [pdf[["__key", "__ts_us"]] for pdf in pdfs]
        if frames:
            allk = pd.concat(frames, ignore_index=True).sort_values(
                ["__ts_us", "__key"], kind="stable"
            )
            for k in allk["__key"]:
                for s in slots_of(k):
                    counts[s] += 1
                n += 1
                if min(counts[s] for s in slots_of(k)) >= phi * n:
                    cand.add(k)
                    if len(cand) > cap:
                        # evict the smallest FRESH estimate (ties by
                        # key for determinism under the batch order)
                        cand.discard(min(cand, key=lambda c: (fresh(c), c)))
        keep = sorted(k for k in cand if fresh(k) >= phi * n)
        state.update((counts, n, keep))
        if keep:
            sh = int(shard_key[0])
            yield pd.DataFrame(
                [(sh, k, fresh(k), n) for k in keep],
                columns=["shard", "key", "est", "shard_rows"],
            )

    return _sharded_state_apply(
        stream, key_col, ts_col, n_shards, watermark,
        fold, out_schema, state_schema,
    )


def streaming_drift(
    stream: DataFrame,
    value_col: str,
    ref_edges: list[float],
    ref_probs: list[float],
    ts_col: str = "ts",
    window: str = "10 minutes",
    watermark: str = "0 seconds",
    eps: float = 1e-6,
) -> DataFrame:
    """Per-window distribution-drift score vs a FIXED reference
    histogram: the Population Stability Index

        PSI = Σ_bins (p_i − q_i) · ln((p_i + ε)/(q_i + ε))

    (the model-monitoring classic; ≥ 0, 0 iff identical, rule-of-thumb
    alert at 0.2). ``ref_edges`` are the k−1 interior cut points of k
    bins (left-open/right-closed, outer bins unbounded) and
    ``ref_probs`` the reference bin fractions — both computed ONCE
    batch-side (e.g. from ``operators/stats.numeric_histogram`` on a
    training snapshot) and baked in as literals.

    Plan shape: the bin index is a chained-when literal expression and
    the whole window reduces in ONE watermarked aggregation carrying
    k conditional counters — bounded state (k longs per open window),
    no pivot, no stream-stream join, identical code path for batch
    DataFrames (used by tests and any future oracle twin). NULL values
    are excluded from both n and the bins (a drift score about values,
    not nullness — pair with a null-rate monitor for that).

    Returns (window_start, n, psi) per closed window.
    """
    k = len(ref_probs)
    if k < 2:
        raise ValueError("need at least 2 reference bins")
    if len(ref_edges) != k - 1:
        raise ValueError(
            f"{k} bins need {k - 1} interior edges, got {len(ref_edges)}"
        )
    if any(b > a for a, b in zip(ref_edges[1:], ref_edges)):
        raise ValueError("ref_edges must be non-decreasing")
    tot = float(sum(ref_probs))
    if not tot > 0:
        raise ValueError("ref_probs must sum to a positive total")
    q = [float(p) / tot for p in ref_probs]

    v = F.col(value_col)
    bucket = F.when(v <= F.lit(float(ref_edges[0])), F.lit(0))
    for i, e in enumerate(ref_edges[1:], start=1):
        bucket = bucket.when(v <= F.lit(float(e)), F.lit(i))
    bucket = bucket.otherwise(F.lit(k - 1))

    src = (
        stream.withWatermark(ts_col, watermark)
        if stream.isStreaming
        else stream
    ).where(
        # NaN would otherwise compare false against every edge and
        # silently land in the top bin, skewing PSI — excluded like
        # NULL (pair with a null/NaN-rate monitor for missingness)
        v.isNotNull() & ~F.isnan(v.cast("double"))
    ).select(
        F.window(F.col(ts_col), window).alias("win"), bucket.alias("b")
    )
    counters = [
        F.sum(F.when(F.col("b") == i, 1).otherwise(0)).alias(f"n_{i}")
        for i in range(k)
    ]
    agg = src.groupBy("win").agg(
        F.count(F.lit(1)).alias("n"), *counters
    )
    n = F.col("n")
    psi = None
    for i in range(k):
        p_i = F.col(f"n_{i}") / n
        term = (p_i - F.lit(q[i])) * F.log(
            (p_i + F.lit(eps)) / F.lit(q[i] + eps)
        )
        psi = term if psi is None else psi + term
    return agg.select(
        F.col("win.start").alias("window_start"),
        n.cast("long").alias("n"),
        F.round(psi, 6).alias("psi"),
    )


def streaming_quantiles(
    stream: DataFrame,
    value_col: str,
    group_col: str,
    qs: list[float] | None = None,
    ts_col: str = "ts",
    delta: int = 100,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Per-group running quantile tracking in O(δ) state — the
    QUANTILE member of the streaming-sketch family (Bloom novelty /
    CMS frequency / heavy hitters), backed by the X114 t-digest: each
    micro-batch folds its values into the group's digest
    (``operators/tdigest._td_merge`` — the ONE merge implementation
    batch and stream share) and emits one (group, q, value, total)
    snapshot row per requested quantile — "p99 latency / doc length /
    score so far", forever, without keeping the values.

    State per group: two O(δ) double arrays — fixed by construction,
    so NoTimeout is safe for the state SIZE; unlike the hash-sharded
    sketches the state COUNT here is one per group value, so the group
    column must be a bounded monitoring dimension (source, shard,
    endpoint), not an unbounded id — documented contract, same as any
    keyed dashboard.

    Replay contract: within a micro-batch values fold in sorted
    (event-time, value) order, and the kernel IS the batch-family
    python reference, so under availableNow with one file per trigger
    every emitted snapshot is bitwise-reproducible by folding the
    batch multisets through ``_td_merge`` in order —
    pytest-differential class, exact equality."""
    import numpy as np
    import pandas as pd

    from tableone_pyspark_spark.operators.tdigest import (
        _td_merge,
        _td_quantile,
    )

    qs = [0.5, 0.99] if qs is None else list(qs)
    if not qs or any(not 0.0 <= q <= 1.0 for q in qs):
        raise ValueError(f"qs must be fractions in [0, 1], got {qs}")
    if delta < 10:
        raise ValueError(f"delta must be >= 10, got {delta}")
    out_schema = "group string, q double, value double, total double"
    state_schema = "means array<double>, weights array<double>"

    def fold(group_key, pdfs, state):
        if state.hasTimedOut:  # NoTimeout: unreachable, defensive
            return
        if state.exists:
            m = np.asarray(state.get[0], dtype=np.float64)
            w = np.asarray(state.get[1], dtype=np.float64)
        else:
            m = np.array([], dtype=np.float64)
            w = np.array([], dtype=np.float64)
        frames = [pdf[["__ts_us", "__v"]] for pdf in pdfs]
        if not frames:
            return
        batch = pd.concat(frames, ignore_index=True).sort_values(
            ["__ts_us", "__v"], kind="stable"
        )
        v = batch["__v"].to_numpy(dtype=np.float64)
        if len(v):
            m = np.concatenate([m, v])
            w = np.concatenate([w, np.ones_like(v)])
            m, w = _td_merge(m, w, delta)
        # .tolist() (not list()): the state pickler rejects numpy
        # scalar elements
        state.update((m.tolist(), w.tolist()))
        if len(m):
            total = float(w.sum())
            yield pd.DataFrame(
                [(group_key[0], q, _td_quantile(m, w, q), total) for q in qs],
                columns=["group", "q", "value", "total"],
            )

    return _state_apply(
        stream, ts_col, watermark, "group",
        [
            F.col(group_col).cast("string").alias("group"),
            F.unix_micros(F.col(ts_col)).alias("__ts_us"),
            F.col(value_col).cast("double").alias("__v"),
        ],
        # NaN passes isNotNull (Spark treats it as a value) but would
        # poison the digest's weighted means forever — the batch twin
        # drops it via pandas notna, so the stream must too
        # (self-review r10; the streaming_drift precedent)
        F.col("group").isNotNull()
        & F.col("__v").isNotNull()
        & ~F.isnan(F.col("__v")),
        fold, out_schema, state_schema,
    )
