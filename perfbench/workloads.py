"""The benchmark's workloads: what one call runs and how it is checked.

A call returns a :class:`Call`. Batch workloads run one ``tableone``
operation per call; the stream workload replays the event shards through
``streaming_tableone`` and every micro-batch of the replay is one
operation. Specs (cohort predicates, column subsets) are drawn from the
run's seed; the engine only ever sees the resulting DataFrames.

``BENCHMARK.json`` lists ``cohort_wide`` and ``stream_cohort``, the two
that fit its time budget with runs long enough to be steady.
``cohort_interactive`` runs by hand (``--workload cohort_interactive``)
and in ``selftest.py``; the per-layer targets ``layers.json`` gives it
still hold.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import math
import random
import time
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datagen import NATIONS, ORDER_DAYS, ORDERS_ROWS, PRIORITIES, SEGMENTS
from tableone_pyspark_spark import tableone
from tableone_pyspark_spark.sources.testdata import load_table
from tableone_pyspark_spark.streaming.stream_stats import streaming_tableone

#: the analysable lineitem columns (l_returnflag is the strat column;
#: l_shipdate is a timestamp, which the engine skips)
WIDE_COLS = {
    "l_orderkey": "cont",
    "l_partkey": "cont",
    "l_suppkey": "cont",
    "l_linenumber": "cont",
    "l_quantity": "cont",
    "l_extendedprice": "cont",
    "l_discount": "cont",
    "l_tax": "cont",
    "l_linestatus": "cat",
}
#: the near-unique ones among them
WIDE_SKETCHED = ("l_orderkey", "l_partkey", "l_extendedprice")
COHORT_COLS = {
    "o_totalprice": "cont",
    "c_acctbal": "cont",
    "c_nationkey": "cont",
    "o_orderstatus": "cat",
    "o_orderpriority": "cat",
    "c_mktsegment": "cat",
}
#: expected rows in one cohort_interactive cohort
COHORT_ROWS = 1_000
#: shard files one replay of the event stream reads, one per micro-batch
STREAM_SHARDS = 10


@dataclass
class Call:
    spec: object
    samples: list[float]  # seconds, one per operation
    windows: list[tuple[int, int]]  # epoch ms, one per operation
    rows: int  # input rows summarised
    wall: float
    output: object = None
    progress: list = field(default_factory=list)
    error: str | None = None


def _ms(t: float) -> int:
    return int(math.floor(t * 1000))


def _nospan(_name):
    return contextlib.nullcontext()


def run_tableone(tracer, df, strat: str, cols: list[str], **kw) -> Call:
    """One closed-loop operation: ``tableone(...)`` then ``.collect()``."""
    span = tracer.span if tracer is not None else _nospan
    t0w, t0 = time.time(), time.perf_counter()
    with span("engine"):
        out = tableone(df, col_to_strat=strat, cols_to_analyze=cols, **kw)
    with span("collect"):
        rows = out.collect()
    took = time.perf_counter() - t0
    table = [r.asDict() for r in rows]
    total = next(r["All_Patients"] for r in table if r["Index"] == 0.0)
    window = (_ms(t0w), _ms(t0w + took) + 1)
    return Call(None, [took], [window], int(total), took, table)


class CohortWide:
    """The headline call: every lineitem row, 6-8 of the 9 analysable
    columns per call, stratified, p-values and beautify on."""

    name = "cohort_wide"
    tables = ["lineitem"]
    #: traced operations the count metrics are averaged over
    trace_ops = 2

    def prepare(self, data_dir: Path) -> None:
        pass

    def load(self, spark, data_dir: Path) -> None:
        self.df = load_table(spark, str(data_dir), "lineitem")

    def draw(self, rng: random.Random):
        """6-8 columns: always the three near-unique ones (capped-sketch
        quartiles, the bulk of a call's cost, so every call costs about
        the same) and 3-5 of the low-cardinality ones, in random order."""
        cols = list(WIDE_SKETCHED) + rng.sample(
            [c for c in WIDE_COLS if c not in WIDE_SKETCHED], rng.randint(3, 5)
        )
        rng.shuffle(cols)
        return tuple(cols)

    setup_spec = draw

    def call(self, spec, tracer) -> Call:
        return run_tableone(
            tracer, self.df, "l_returnflag", list(spec), beautify=True, p_values=True
        )

    def check(self, oracle, call: Call) -> list[str]:
        cols = [(c, WIDE_COLS[c]) for c in call.spec]
        return oracle.check_tableone(
            "lineitem", "l_returnflag", cols, call.output, beautify=True, p_values=True
        )


@dataclass(frozen=True)
class Cohort:
    predicate: str
    strat: str
    cols: tuple[str, ...]


class CohortInteractive:
    """An analyst iterating on cohort definitions: about a thousand
    orders x customer rows per call, cut from the pre-joined extract."""

    name = "cohort_interactive"
    tables = ["cohort_base"]
    trace_ops = 4

    def prepare(self, data_dir: Path) -> None:
        pass

    def load(self, spark, data_dir: Path) -> None:
        self.df = load_table(spark, str(data_dir), "cohort_base")

    def draw(self, rng: random.Random) -> Cohort:
        """Random nations, segments, priorities and strat column; the date
        span is then sized so the cohort holds about ``COHORT_ROWS`` rows
        (the inputs are uniform). The analysed columns are always one
        near-unique numeric (capped-sketch quartiles), ``c_nationkey``
        (exact low-cardinality quartiles) and two categoricals, so every
        call runs the same job set on the same amount of data."""
        nations = sorted(rng.sample(range(NATIONS), rng.randint(5, 8)))
        segs = sorted(rng.sample(SEGMENTS, rng.randint(1, 2)))
        prios = sorted(rng.sample(PRIORITIES, rng.randint(1, 2)))
        share = len(nations) / NATIONS * len(segs) / len(SEGMENTS) * len(prios) / len(PRIORITIES)
        days = round(COHORT_ROWS / (ORDERS_ROWS * share) * ORDER_DAYS)
        first = dt.date(1995, 1, 1) + dt.timedelta(rng.randrange(ORDER_DAYS - days))
        last = first + dt.timedelta(days)

        def in_list(col, values):
            return f"{col} IN ({', '.join(repr(v) for v in values)})"

        predicate = " AND ".join(
            [
                in_list("c_nationkey", nations),
                in_list("c_mktsegment", segs),
                in_list("o_orderpriority", prios),
                f"o_orderdate >= '{first}' AND o_orderdate < '{last}'",
            ]
        )
        strats = ["o_orderstatus"]
        strats += ["c_mktsegment"] if len(segs) > 1 else []
        strats += ["o_orderpriority"] if len(prios) > 1 else []
        strat = rng.choice(strats)
        cat = [c for c, k in COHORT_COLS.items() if k == "cat" and c != strat]
        cols = [rng.choice(["o_totalprice", "c_acctbal"]), "c_nationkey"]
        cols += rng.sample(cat, 2)
        rng.shuffle(cols)
        return Cohort(predicate, strat, tuple(cols))

    setup_spec = draw

    def call(self, spec: Cohort, tracer) -> Call:
        return run_tableone(
            tracer, self.df.where(spec.predicate), spec.strat, list(spec.cols),
            p_values=True,
        )

    def check(self, oracle, call: Call) -> list[str]:
        spec = call.spec
        oracle.view("cohort", f"SELECT * FROM cohort_base WHERE {spec.predicate}")
        cols = [(c, COHORT_COLS[c]) for c in spec.cols]
        return oracle.check_tableone(
            "cohort", spec.strat, cols, call.output, beautify=False, p_values=True
        )


_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


class StreamCohort:
    """``streaming_tableone`` over the event stream replayed from
    ``STREAM_SHARDS`` time-ordered shard files, one file per micro-batch
    (``maxFilesPerTrigger=1``, ``availableNow``), memory sink, update mode.
    Setup replays only the first shard ("first"); timed calls replay all
    ("all")."""

    name = "stream_cohort"
    tables = ["events"]
    #: the count metrics are averaged over the first traced replay
    trace_ops = 1

    def prepare(self, data_dir: Path) -> None:
        events = pq.read_table(data_dir / "events.parquet")
        step = -(-events.num_rows // STREAM_SHARDS)
        for i in range(STREAM_SHARDS):
            for spec in ("all", "first") if i == 0 else ("all",):
                d = data_dir / "shards" / spec
                d.mkdir(parents=True, exist_ok=True)
                pq.write_table(events.slice(i * step, step), d / f"part-{i:05d}.parquet")
        self.data_dir = data_dir
        self.replays = 0

    def load(self, spark, data_dir: Path) -> None:
        self.spark = spark

    def draw(self, rng: random.Random) -> str:
        return "all"

    def setup_spec(self, rng: random.Random) -> str:
        return "first"

    def call(self, spec: str, tracer) -> Call:
        self.replays += 1
        name = f"perfbench_sink_{self.replays}"
        stream = (
            self.spark.readStream.schema(_EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(self.data_dir / "shards" / spec))
            .select(
                F.col("ts").cast("timestamp").alias("ts"),
                "event_type",
                (F.col("user_id") % 3).cast("string").alias("seg"),
                "value",
            )
        )
        out = streaming_tableone(
            stream,
            "event_type",
            cont_vars=["value"],
            cat_vars={"seg": ["0", "1", "2"]},
            window="1 day",
            quartiles=True,
        )
        t0 = time.perf_counter()
        query = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", str(self.data_dir / "checkpoints" / name))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        wall = time.perf_counter() - t0
        progress = query.recentProgress
        sink = self.spark.table(name).selectExpr(
            "unix_seconds(window_start)", "event_type", "Index", "Values", "value", "frac"
        )
        rows = [tuple(r) for r in sink.collect()]
        self.spark.catalog.dropTempView(name)
        samples, windows = [], []
        for p in progress:
            took = p["durationMs"]["triggerExecution"]
            start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
            start_ms = _ms(start.timestamp())
            samples.append(took / 1000.0)
            windows.append((start_ms, start_ms + took + 1))
        total = sum(p["numInputRows"] for p in progress)
        return Call(spec, samples, windows, total, wall, rows, progress)

    def check(self, oracle, call: Call) -> list[str]:
        src = self.data_dir / "shards" / call.spec / "*.parquet"
        oracle.view("events", f"SELECT * FROM read_parquet('{src}')")
        return oracle.check_stream(call.output)


WORKLOADS = {w.name: w for w in (CohortWide, CohortInteractive, StreamCohort)}
