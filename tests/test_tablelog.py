"""Versioned parquet tables (sources/tablelog.py): commit/append/
overwrite semantics, time travel, history, schema-evolution refusal,
commit-conflict exclusivity, empty-version reads."""

from __future__ import annotations


import pytest

from pyspark.sql import functions as F

from tableone_pyspark_spark.sources import tablelog as tl


def test_append_overwrite_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    assert tl.current_version(spark, t) is None
    assert tl.history(spark, t) == []

    tl.commit(spark, spark.range(0, 10), t)                 # v0
    tl.commit(spark, spark.range(10, 30), t, mode="append")  # v1
    tl.commit(spark, spark.range(100, 103), t, mode="overwrite")  # v2
    assert tl.current_version(spark, t) == 2

    assert tl.read_version(spark, t, 0).count() == 10
    assert tl.read_version(spark, t, 1).count() == 30  # v0 files + v1 files
    got = sorted(r["id"] for r in tl.read_version(spark, t).collect())
    assert got == [100, 101, 102]

    h = tl.history(spark, t)
    assert [x["version"] for x in h] == [0, 1, 2]
    assert [x["mode"] for x in h] == ["append", "append", "overwrite"]
    # append keeps the old files live; overwrite resets the live set
    assert h[1]["n_files"] > h[0]["n_files"] >= 1

    with pytest.raises(ValueError, match="version 9"):
        tl.read_version(spark, t, 9)
    with pytest.raises(ValueError, match="no such versioned table"):
        tl.read_version(spark, str(tmp_path / "missing"))


def test_schema_evolution_refused(spark, tmp_path):
    t = str(tmp_path / "tbl2")
    tl.commit(spark, spark.range(5), t)
    widened = spark.range(5).withColumn("extra", F.lit("x"))
    with pytest.raises(ValueError, match="schema"):
        tl.commit(spark, widened, t, mode="append")
    # overwrite MAY change the schema (it replaces the live set)
    tl.commit(spark, widened, t, mode="overwrite")
    assert tl.read_version(spark, t).columns == ["id", "extra"]
    # and time travel still reads the OLD schema
    assert tl.read_version(spark, t, 0).columns == ["id"]


def test_commit_conflict_exactly_one_winner(spark, tmp_path):
    t = str(tmp_path / "tbl3")
    tl.commit(spark, spark.range(3), t)  # v0
    # the race window is BETWEEN reading current_version and
    # publishing v{N+1}: simulate the interleaving by publishing the
    # racer's v1 doc first, then driving the loser's publish of the
    # same slot directly (commit() would re-read and target v2)
    schema = spark.range(1).schema.json()
    tl._publish(spark, t, 1, [], "append", schema)  # the racer wins
    with pytest.raises(tl.CommitConflict):
        tl._publish(spark, t, 1, [], "overwrite", schema)
    # the loser corrupted nothing: v1 is the racer's doc, log parses,
    # and no orphaned temp file remains in the log dir
    assert tl.current_version(spark, t) == 1
    assert tl.read_version(spark, t, 0).count() == 3
    import os

    leftovers = [
        f for f in os.listdir(tmp_path / "tbl3" / "_log")
        if f.endswith(".tmp")
    ]
    assert leftovers == []
    # and a retry (the documented loser path) lands on the next slot
    tl.commit(spark, spark.range(7), t, mode="overwrite")
    assert tl.current_version(spark, t) == 2
    assert tl.read_version(spark, t).count() == 7


def test_empty_version_keeps_schema(spark, tmp_path):
    t = str(tmp_path / "tbl4")
    tl.commit(spark, spark.range(3), t)
    empty = spark.createDataFrame([], "id long")
    tl.commit(spark, empty, t, mode="overwrite")
    out = tl.read_version(spark, t)
    assert out.count() == 0 and out.columns == ["id"]


def test_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="mode"):
        tl.commit(spark, spark.range(1), str(tmp_path / "x"), mode="merge")


def test_self_append_and_lost_update_guard(spark, tmp_path):
    """Self-review r11: (a) appending a table's own read_version
    output must not be refused on parquet's nullability widening;
    (b) a read-modify-write pinned to expected_base raises
    CommitConflict when the table moved underneath it."""
    t = str(tmp_path / "tbl6")
    tl.commit(spark, spark.range(5), t)                       # v0
    tl.commit(spark, tl.read_version(spark, t), t, mode="append")  # v1
    assert tl.read_version(spark, t).count() == 10

    # writer A derives from v1; writer B commits v2 in between;
    # A's pinned commit must CONFLICT, not clobber B
    base = tl.current_version(spark, t)
    tl.commit(spark, spark.range(100, 101), t, mode="append")  # B -> v2
    with pytest.raises(tl.CommitConflict, match="moved"):
        tl.commit(spark, spark.range(7), t, mode="overwrite",
                  expected_base=base)
    assert tl.read_version(spark, t).count() == 11  # B's row survives


def test_vacuum(spark, tmp_path):
    """Storage reclaim: files outside the kept window (and orphaned
    loser data dirs) are deleted once old enough; live files,
    bookkeeping files, and YOUNG orphans (possible in-flight commits)
    survive; time travel works inside the kept window and fails
    loudly outside it."""
    import os

    t = str(tmp_path / "tblv")
    tl.commit(spark, spark.range(10), t)                        # v0
    tl.commit(spark, spark.range(20, 25), t, mode="overwrite")  # v1
    tl.commit(spark, spark.range(30, 33), t, mode="overwrite")  # v2
    # an orphaned loser dir (commit that never published)
    orphan = tmp_path / "tblv" / "data" / "deadbeef"
    os.makedirs(orphan)
    with open(orphan / "part-x.parquet", "wb") as f:
        f.write(b"loser bytes")

    # young orphan + v0 files survive a vacuum with a large min_age
    rep = tl.vacuum(spark, t, keep_last=2, min_age_seconds=3600)
    assert rep["n_deleted"] == 0
    assert os.path.exists(orphan / "part-x.parquet")

    rep = tl.vacuum(spark, t, keep_last=2, min_age_seconds=0)
    assert rep["kept_versions"] == [1, 2]
    assert rep["n_deleted"] >= 2  # v0's file(s) + the orphan
    assert not os.path.exists(orphan / "part-x.parquet")
    # kept window reads fine; outside it fails loudly, not wrongly
    assert sorted(r["id"] for r in tl.read_version(spark, t, 1).collect()) \
        == [20, 21, 22, 23, 24]
    assert tl.read_version(spark, t).count() == 3
    with pytest.raises(Exception):
        tl.read_version(spark, t, 0).collect()
    # history survives as an audit trail
    assert [h["version"] for h in tl.history(spark, t)] == [0, 1, 2]

    with pytest.raises(ValueError, match="keep_last"):
        tl.vacuum(spark, t, keep_last=0)
    with pytest.raises(ValueError, match="min_age"):
        tl.vacuum(spark, t, min_age_seconds=-1)


def test_streaming_commit_exactly_once(spark, tmp_path):
    """X129: a real availableNow stream lands as appended versions;
    the sink re-invoked with an already-committed batch_id (the
    crash-replay path) is a no-op, a fresh id commits, and manual
    commits never disturb the watermark."""
    from tableone_pyspark_spark.sources.tablelog import _exactly_once_sink
    from tableone_pyspark_spark.sources.testdata import events_stream

    t = str(tmp_path / "stream_tbl")
    ck = str(tmp_path / "ck")
    stream = events_stream(spark, "/root/testdata/sf0.001").select(
        "event_id", "event_type", "value"
    )
    q = tl.streaming_commit(stream, t, ck).trigger(availableNow=True).start()
    q.awaitTermination()
    n0 = tl.read_version(spark, t).count()
    assert n0 == 1000  # the sf0.001 events corpus
    v0 = tl.current_version(spark, t)
    last = tl.last_committed_batch(spark, t, ck)
    assert last is not None and last >= 0
    # a DIFFERENT stream_id (fresh checkpoint) has its own watermark —
    # its batch 0 must NOT be suppressed by this stream's history
    assert tl.last_committed_batch(spark, t, "other-checkpoint") is None

    sink = _exactly_once_sink(t, ck)
    batch = spark.createDataFrame(
        [(10**9, "replay", 1.0)],
        "event_id long, event_type string, value double",
    )
    # crash-replay: an already-committed batch_id is skipped entirely
    sink(batch, last)
    assert tl.current_version(spark, t) == v0
    assert tl.read_version(spark, t).count() == n0
    # a fresh batch id commits and advances the watermark
    sink(batch, last + 1)
    assert tl.last_committed_batch(spark, t, ck) == last + 1
    assert tl.read_version(spark, t).count() == n0 + 1
    # a manual (non-streaming) commit never disturbs the watermark
    tl.commit(
        spark, batch.withColumn("event_id", batch.event_id + 1), t,
        mode="append",
    )
    assert tl.last_committed_batch(spark, t, ck) == last + 1
    assert tl.read_version(spark, t).count() == n0 + 2


def test_stream_watermark_sidecar_floor(spark, tmp_path, monkeypatch):
    """ADVICE r11: last_committed_batch's newest-first scan is floored
    by a per-(table, stream) sidecar, so many foreign commits after a
    stream's last commit cost O(foreign-since-sidecar) doc reads —
    and a missing/torn sidecar only degrades to the full scan, never
    a wrong answer."""
    import os

    from tableone_pyspark_spark.sources.tablelog import _exactly_once_sink

    t = str(tmp_path / "wm_tbl")
    sid = "stream-A"
    batch = spark.createDataFrame([(1, 1.0)], "k long, v double")
    sink = _exactly_once_sink(t, sid)
    sink(batch, 0)  # v0 + sidecar(batch 0, version 0)
    side = tmp_path / "wm_tbl" / "_log"
    side_files = [f for f in os.listdir(side) if f.startswith("_stream_")]
    assert len(side_files) == 1

    # eight foreign commits bury the stream's version (deliberately
    # below CHECKPOINT_EVERY so this test pins the SIDECAR floor in
    # isolation; the checkpoint floor has its own test)
    for i in range(8):
        tl.commit(spark, batch.withColumn("k", F.lit(i + 10).cast("long")), t)

    reads = []
    real = tl._version_doc

    def counting(spark_, table_, version_):
        reads.append(version_)
        return real(spark_, table_, version_)

    monkeypatch.setattr(tl, "_version_doc", counting)
    assert tl.last_committed_batch(spark, t, sid) == 0
    # scanned only the 8 foreign docs ABOVE the sidecar's version —
    # never v0 itself, never the whole log twice over
    assert len(reads) == 8 and min(reads) == 1

    # torn sidecar (and no checkpoint yet): full scan, same answer
    with open(side / side_files[0], "w") as f:
        f.write("{not json")
    reads.clear()
    assert tl.last_committed_batch(spark, t, sid) == 0
    assert len(reads) == 9  # v8..v0

    # missing sidecar: same
    os.remove(side / side_files[0])
    reads.clear()
    assert tl.last_committed_batch(spark, t, sid) == 0
    assert len(reads) == 9
    monkeypatch.undo()

    # the sidecar advances with the next streaming commit
    sink(batch.withColumn("k", F.lit(99).cast("long")), 1)
    assert tl.last_committed_batch(spark, t, sid) == 1
    assert [
        f for f in os.listdir(side) if f.startswith("_stream_")
    ] == side_files


def test_vacuum_dir_sweep_age_guard_and_bookkeeping(spark, tmp_path):
    """ADVICE r11: the dead-directory sweep (a) honors the same
    min-age cutoff as file deletes — a just-created in-flight commit
    dir is never removed — and (b) treats _/.-prefixed bookkeeping as
    empty, so vacuumed dirs that keep _SUCCESS/.crc no longer leak
    forever."""
    import os
    import time as _time

    t = str(tmp_path / "tbl_sweep")
    tl.commit(spark, spark.range(5), t)                       # v0
    tl.commit(spark, spark.range(9), t, mode="overwrite")     # v1
    tl.commit(spark, spark.range(3), t, mode="overwrite")     # v2
    data = tmp_path / "tbl_sweep" / "data"

    # a YOUNG empty dir = possibly an in-flight commit pre-_temporary
    inflight = data / "inflight"
    os.makedirs(inflight)
    # an OLD dead dir holding only bookkeeping (the old leak)
    dead = data / "dead"
    os.makedirs(dead)
    with open(dead / "_SUCCESS", "w"):
        pass
    with open(dead / ".part-0.crc", "w"):
        pass
    old = _time.time() - 7 * 24 * 3600
    os.utime(dead, (old, old))

    rep = tl.vacuum(spark, t, keep_last=2, min_age_seconds=3600)
    assert rep["n_deleted"] == 0          # v0's files are too young
    assert os.path.isdir(inflight)        # young: protected by age
    assert not os.path.exists(dead)       # old + bookkeeping-only: swept

    # v0's dir: files deleted at age 0, but the dir itself was JUST
    # modified by those deletes — it survives this pass (eventual
    # cleanup ≥ min_age later is the documented trade)
    rep = tl.vacuum(spark, t, keep_last=2, min_age_seconds=0)
    assert rep["n_deleted"] >= 1
    # live versions still read
    assert tl.read_version(spark, t).count() == 3


def test_footer_stats_match_scan_stats(spark, tmp_path):
    """r17: _collect_file_stats answers from parquet footers when the
    files are provably local — the values must be BIT-IDENTICAL to the
    distributed-scan path across every reproducible shape (ints,
    unicode strings, dates, all-null columns, multiple files), and the
    NaN / ±Inf omission rules must agree; non-reproducible shapes fall
    back (returned None)."""
    d = str(tmp_path / "footer_diff")
    df = spark.createDataFrame(
        [
            (1, 1.5, "aé\U0001f600", None, "2024-01-02"),
            (2, float("nan"), "zz", 7, "2023-05-05"),
            (5, float("inf"), "\r\n", 2, None),
            (None, -3.25, None, None, "2023-01-01"),
        ],
        "k int, v double, s string, t bigint, ds string",
    ).withColumn("d", F.col("ds").cast("date")).drop("ds")
    df.repartition(2, "k").write.parquet(d)
    files = tl._list_parquet(spark, d)
    cols = ["k", "v", "s", "t", "d"]
    foot = tl._footer_file_stats(spark, files, cols, None)
    assert foot is not None, "local files must take the footer path"
    scan = tl._collect_file_stats.__wrapped__(spark, files, cols) if hasattr(
        tl._collect_file_stats, "__wrapped__"
    ) else None
    if scan is None:
        # force the scan path for the differential
        import tableone_pyspark_spark.sources.tablelog as _m

        orig = _m._footer_file_stats
        _m._footer_file_stats = lambda *a, **k: None
        try:
            scan = tl._collect_file_stats(spark, files, cols)
        finally:
            _m._footer_file_stats = orig
    # keys may differ in URI form (file:/ vs file:///) — compare
    # through the same normalization every caller applies
    assert tl._remap_stats(foot, files) == tl._remap_stats(scan, files)
    # a non-reproducible column type falls back instead of guessing
    ts = spark.sql("SELECT timestamp'2024-01-01' AS ts")
    d2 = str(tmp_path / "footer_ts")
    ts.write.parquet(d2)
    assert (
        tl._footer_file_stats(
            spark, tl._list_parquet(spark, d2), ["ts"], None
        )
        is None
    )


def test_commit_stats_and_pruned_reads(spark, tmp_path):
    """X133: commit(stats_cols=...) records per-file min/max/nulls in
    the version doc; read_version(prune=...) skips provably-excluded
    files, keeps stat-less files, never loses rows, and all-null
    files are skippable for any comparison."""
    t = str(tmp_path / "stats_tbl")
    lo = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    hi = spark.range(1000, 1100).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    tl.commit(spark, lo.coalesce(1), t, stats_cols=["k", "v"])       # v0
    tl.commit(spark, hi.coalesce(1), t, stats_cols=["k", "v"])       # v1
    doc = tl._version_doc(spark, t, 1)
    assert len(doc["files"]) == 2 and len(doc["stats"]) == 2
    for f in doc["files"]:
        mn, mx, nulls = doc["stats"][f]["k"]
        assert nulls == 0 and (mn, mx) in ((0, 99), (1000, 1099))

    # pruning: k > 500 provably excludes the lo file
    pruned = tl.read_version(spark, t, prune=[("k", ">", 500)])
    assert len(pruned.inputFiles()) == 1
    assert pruned.where(F.col("k") > 500).count() == 100
    # conjunction prunes everything -> empty frame, committed schema
    none = tl.read_version(spark, t, prune=[("k", ">", 500), ("k", "<", 700)])
    assert none.count() == 0 and set(none.columns) == {"k", "v"}
    # equality inside a range keeps exactly that file
    assert len(tl.read_version(spark, t, prune=[("k", "=", 50)]).inputFiles()) == 1
    # a stat-less file (no stats_cols on its commit) is always kept
    tl.commit(spark, lo.coalesce(1), t)                              # v2
    assert len(tl.read_version(spark, t, prune=[("k", ">", 5000)]).inputFiles()) == 1
    # all-null file: skippable under any comparison
    nulls = spark.range(1).select(
        F.lit(None).cast("long").alias("k"), F.lit(None).cast("double").alias("v")
    )
    t2 = str(tmp_path / "stats_null")
    tl.commit(spark, nulls.coalesce(1), t2, stats_cols=["k"])
    assert tl.read_version(spark, t2, prune=[("k", ">", 0)]).count() == 0

    # validation: unknown column, unsupported type, bad predicate
    with pytest.raises(ValueError, match="not in the data"):
        tl.commit(spark, lo, str(tmp_path / "x1"), stats_cols=["nope"])
    ts_df = spark.sql("SELECT timestamp'2024-01-01' AS ts, 1 AS k")
    with pytest.raises(ValueError, match="unorderable/unsupported"):
        tl.commit(spark, ts_df, str(tmp_path / "x2"), stats_cols=["ts"])
    with pytest.raises(ValueError, match="prune predicate"):
        tl.read_version(spark, t, prune=[("k", "!=", 1)])


def test_optimize_rewrites_small_files(spark, tmp_path):
    """X132: optimize() collapses a fragmented live set into few
    target-sized files as a content-identical overwrite version; a
    concurrent commit conflicts instead of being lost; stats are
    re-recorded when asked."""
    t = str(tmp_path / "opt_tbl")
    for i in range(5):  # five tiny appends -> >= 5 live files
        tl.commit(
            spark,
            spark.range(i * 10, (i + 1) * 10).select(
                F.col("id").alias("k")
            ).coalesce(1),
            t,
        )
    before = tl.read_version(spark, t)
    n_before = len(before.inputFiles())
    assert n_before >= 5
    keysum = before.agg(F.sum("k")).first()[0]

    rep = tl.optimize(spark, t, stats_cols=["k"])
    assert rep["version"] == 5 and rep["n_input_files"] == n_before
    after = tl.read_version(spark, t)
    assert len(after.inputFiles()) < n_before
    assert after.agg(F.sum("k")).first()[0] == keysum  # content identical
    assert after.count() == 50
    # stats re-recorded on the rewritten files
    doc = tl._version_doc(spark, t, 5)
    assert set(doc["stats"]) == set(doc["files"])
    # old version still time-travels (files not reclaimed yet)
    assert tl.read_version(spark, t, 4).count() == 50
    # conflict: the slot gate — an optimize that read base v but was
    # beaten to v+1 publishes into a taken slot and conflicts instead
    # of clobbering (simulated at the _publish layer, the same gate
    # optimize() rides; its early current_version recheck only makes
    # the common case cheaper)
    tl.commit(spark, spark.range(1).select(F.col("id").alias("k")), t)
    cur = tl.current_version(spark, t)
    schema = tl._version_doc(spark, t, cur)["schema"]
    with pytest.raises(tl.CommitConflict):
        tl._publish(spark, t, cur, [], "overwrite", schema)


def test_optimize_zorder_monetizes_pruning(spark, tmp_path):
    """X135: OPTIMIZE ZORDER BY + per-file stats + prune compose —
    after a z-ordered rewrite each file spans a narrow rectangle in
    BOTH columns, so a selective predicate on EITHER column prunes
    most files; content stays identical."""
    import random

    t = str(tmp_path / "ztbl")
    rng = random.Random(7)
    rows = [(i, rng.randrange(1000), rng.randrange(1000)) for i in range(4000)]
    df = spark.createDataFrame(rows, "k long, x long, y long")
    tl.commit(spark, df.repartition(8), t)
    before = tl.read_version(spark, t)
    keysum = before.agg(F.sum("k")).first()[0]

    # tiny target -> several z-ordered files
    rep = tl.optimize(
        spark, t, target_bytes=16 * 1024, stats_cols=["x", "y"],
        zorder_by=["x", "y"],
    )
    assert rep["n_output_files"] >= 4
    total = rep["n_output_files"]
    # selective predicates on EACH dimension prune strictly
    for col in ("x", "y"):
        pruned = tl.read_version(spark, t, prune=[(col, "<", 100)])
        kept = len(pruned.inputFiles())
        assert kept < total, (col, kept, total)
        # and no rows are lost vs the unpruned filter
        assert (
            pruned.where(F.col(col) < 100).count()
            == tl.read_version(spark, t).where(F.col(col) < 100).count()
        )
    # content identical after the rewrite
    after = tl.read_version(spark, t)
    assert after.count() == 4000 and after.agg(F.sum("k")).first()[0] == keysum


def test_stats_nan_and_interval_guards(spark, tmp_path):
    """Self-review r12: a NaN float bound keeps the file (Spark's NaN
    ordering differs from Python's — skipping on it would lose rows),
    and interval types no longer slip through the startswith gate."""
    t = str(tmp_path / "nan_tbl")
    df = spark.createDataFrame(
        [(1, 1.0), (2, float("nan"))], "k long, v double"
    )
    tl.commit(spark, df.coalesce(1), t, stats_cols=["v"])
    # the file's max is NaN -> stats unusable -> file kept; note the
    # filter count is 2, not 1: Spark's NaN sorts greatest, so
    # NaN > 0.5 is TRUE there (while Python's is False) — the very
    # semantics gap that makes a NaN bound unusable for skipping
    out = tl.read_version(spark, t, prune=[("v", ">", 0.5)])
    assert len(out.inputFiles()) == 1
    assert out.where(F.col("v") > 0.5).count() == 2
    # ADVICE r12: the non-finite bound is OMITTED from the doc, not
    # serialized — json.dumps would emit a bare NaN token and the log
    # would stop being RFC-compliant JSON for any strict reader
    raw = (tmp_path / "nan_tbl" / "_log" / "v0.json").read_text()
    import json as _json

    _json.loads(
        raw,
        parse_constant=lambda s: pytest.fail(f"non-RFC token {s} in doc"),
    )
    doc = _json.loads(raw)
    assert all("v" not in st for st in doc["stats"].values())
    # an Infinity bound is omitted too (same RFC hazard)
    t_inf = str(tmp_path / "inf_tbl")
    inf_df = spark.createDataFrame(
        [(1, 1.0), (2, float("inf"))], "k long, v double"
    )
    tl.commit(spark, inf_df.coalesce(1), t_inf, stats_cols=["v"])
    raw_inf = (tmp_path / "inf_tbl" / "_log" / "v0.json").read_text()
    _json.loads(
        raw_inf,
        parse_constant=lambda s: pytest.fail(f"non-RFC token {s} in doc"),
    )

    iv = spark.sql(
        "SELECT 1 AS k, INTERVAL '1' DAY AS dur"
    )
    with pytest.raises(ValueError, match="unorderable/unsupported"):
        tl.commit(spark, iv, str(tmp_path / "iv_tbl"), stats_cols=["dur"])

    with pytest.raises(ValueError, match="target_bytes"):
        tl.optimize(spark, t, target_bytes=0, zorder_by=["v"])


def test_optimize_preserves_stats_by_default(spark, tmp_path):
    """ADVICE r12: optimize() with no stats_cols re-records the base
    version's stats column set — a routine compaction must not
    silently degrade prune= reads; [] explicitly drops them."""
    t = str(tmp_path / "opt_stats_tbl")
    lo = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    hi = spark.range(1000, 1050).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    tl.commit(spark, lo.coalesce(1), t, stats_cols=["k", "v"])
    tl.commit(spark, hi.coalesce(1), t, stats_cols=["k", "v"])

    rep = tl.optimize(spark, t, target_bytes=1024)  # stats_cols defaulted
    doc = tl._version_doc(spark, t, rep["version"])
    assert doc["stats"], "default optimize dropped the skipping stats"
    assert all(set(st) == {"k", "v"} for st in doc["stats"].values())
    # pruning still fires after the compaction
    pruned = tl.read_version(spark, t, prune=[("k", ">", 5000)])
    assert len(pruned.inputFiles()) == 0

    # explicit [] drops stats (the old default, now opt-in)
    rep2 = tl.optimize(spark, t, stats_cols=[])
    assert not tl._version_doc(spark, t, rep2["version"]).get("stats")

    # a stat-less table's default optimize stays stat-less (no crash)
    t2 = str(tmp_path / "opt_nostats_tbl")
    tl.commit(spark, lo.coalesce(1), t2)
    rep3 = tl.optimize(spark, t2)
    assert not tl._version_doc(spark, t2, rep3["version"]).get("stats")


def test_deletion_vectors(spark, tmp_path):
    """X137: row-level deletes without file rewrites — positions ride
    a deletion vector; readers subtract, time travel still sees them,
    appends carry them forward, optimize materializes them, and
    re-delete is a no-op."""
    t = str(tmp_path / "dv_tbl")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("g")
    )
    tl.commit(spark, df.repartition(4), t)                       # v0

    rep = tl.delete_rows(spark, t, F.col("k") % 7 == 0)          # v1
    assert rep["version"] == 1 and rep["n_deleted"] == 15
    assert tl.read_version(spark, t).count() == 85
    assert tl.read_version(spark, t).where(F.col("k") % 7 == 0).count() == 0
    # the data FILES are untouched — v0 still reads the full set
    assert tl.read_version(spark, t, 0).count() == 100
    assert tl._version_doc(spark, t, 1)["files"] == \
        tl._version_doc(spark, t, 0)["files"]
    assert tl.history(spark, t)[1]["mode"] == "delete"

    # re-deleting the same predicate matches nothing, publishes nothing
    rep = tl.delete_rows(spark, t, F.col("k") % 7 == 0)
    assert rep["n_deleted"] == 0 and tl.current_version(spark, t) == 1

    # a second delete accumulates
    tl.delete_rows(spark, t, F.col("k") == 1)                    # v2
    assert tl.read_version(spark, t).count() == 84

    # an append carries the vectors forward: old deletes still apply,
    # new rows visible
    tl.commit(
        spark,
        spark.createDataFrame([(1000, 0)], "k long, g long"),
        t,
    )                                                            # v3
    assert tl.read_version(spark, t).count() == 85
    assert tl.read_version(spark, t).where(F.col("k") == 7).count() == 0

    # optimize MATERIALIZES the vectors: same visible rows, no dv
    rep = tl.optimize(spark, t, target_bytes=64 * 1024)          # v4
    assert tl.read_version(spark, t).count() == 85
    assert "dv" not in tl._version_doc(spark, t, rep["version"])

    # vacuum keeps the kept window's vectors, reclaims dead ones
    import os

    dv_root = tmp_path / "dv_tbl" / "dv"
    assert os.path.isdir(dv_root)
    tl.vacuum(spark, t, keep_last=1, min_age_seconds=0)
    # no dv is live at the optimized head; files under dv/ are gone
    leftover = [
        f
        for root, _, names in os.walk(dv_root)
        for f in names
        if not f.startswith(("_", "."))
    ]
    assert leftover == []
    assert tl.read_version(spark, t).count() == 85

    # reserved internal names refuse
    bad = spark.range(3).select(F.col("id").alias("__dv_fp"))
    t2 = str(tmp_path / "dv_bad")
    tl.commit(spark, bad, t2)
    with pytest.raises(ValueError, match="__dv_fp"):
        tl.delete_rows(spark, t2, F.lit(True))


def test_deletion_vector_review_fixes(spark, tmp_path):
    """Self-review r12: (a) optimize on a fully-DV-deleted table
    publishes an empty overwrite instead of crashing in the sizing
    sampler; (c) a data column named _metadata is refused (it would
    shadow the pseudo-column and write garbage positions)."""
    t = str(tmp_path / "dvr_tbl")
    df = spark.range(100).select(F.col("id").alias("k"))
    tl.commit(spark, df.repartitionByRange(4, "k"), t)           # v0

    tl.delete_rows(spark, t, F.col("k") < 10)                    # v1
    assert tl.read_version(spark, t).count() == 90

    # (a): delete everything, then optimize -> empty overwrite
    tl.delete_rows(spark, t, F.lit(True))                        # v2
    assert tl.read_version(spark, t).count() == 0
    rep = tl.optimize(spark, t)                                  # v3
    assert rep["n_output_files"] == 0
    out = tl.read_version(spark, t)
    assert out.count() == 0 and out.columns == ["k"]
    assert "dv" not in tl._version_doc(spark, t, rep["version"])

    # (c): _metadata data column refused
    t2 = str(tmp_path / "dvr_meta")
    meta = spark.range(3).select(
        F.col("id").alias("k"),
        F.struct(F.lit("x").alias("file_path")).alias("_metadata"),
    )
    tl.commit(spark, meta, t2)
    with pytest.raises(ValueError, match="_metadata"):
        tl.delete_rows(spark, t2, F.lit(True))


def test_checkpoint_doc_accelerates_log_walks(spark, tmp_path):
    """X139: every CHECKPOINT_EVERY-th publish writes a checkpoint doc
    whose compact history rows + watermark map make history() and
    last_committed_batch's fallback scan O(versions since checkpoint)
    — and the accelerated answers are IDENTICAL to the full doc walk."""
    t = str(tmp_path / "ck_tbl")
    # 23 versions: appends with a delete and an overwrite mixed in,
    # plus streaming-style batch ids from two writers
    for v in range(23):
        df = spark.range(v * 5, v * 5 + 5).select(F.col("id").alias("k"))
        if v == 7:
            tl.delete_rows(spark, t, F.col("k") % 9 == 0)
        elif v == 13:
            tl.commit(spark, df, t, mode="overwrite")
        elif v % 3 == 0 and v > 0:
            tl.commit(spark, df, t, batch_id=v, stream_id="s1")
        elif v % 5 == 0 and v > 0:
            tl.commit(spark, df, t, batch_id=v, stream_id="s2")
        else:
            tl.commit(spark, df, t)
    cur = tl.current_version(spark, t)
    assert cur == 22
    assert tl.latest_checkpoint_version(spark, t) == 20
    assert tl.latest_checkpoint_version(spark, t, 19) == 10

    # history(): checkpoint-accelerated == full doc walk
    fast = tl.history(spark, t)
    orig = tl._log_maxima
    try:
        # hide the checkpoints from the shared listing
        tl._log_maxima = lambda s, tb: (orig(s, tb)[0], [])
        slow = tl.history(spark, t)
    finally:
        tl._log_maxima = orig
    assert fast == slow and len(fast) == 23
    assert [r["mode"] for r in fast].count("delete") == 1
    assert [r["mode"] for r in fast].count("overwrite") == 1

    # checkpoint content: complete rows, new-file deltas, watermarks
    ck = tl._read_json(spark, tl._checkpoint_path(t, 20))
    assert [r["version"] for r in ck["history"]] == list(range(21))
    del_row = next(r for r in ck["history"] if r["mode"] == "delete")
    assert del_row["new_files"] == []
    ow_row = next(r for r in ck["history"] if r["mode"] == "overwrite")
    assert len(ow_row["new_files"]) == ow_row["n_files"] > 0
    assert ck["watermarks"]["s1"] == max(
        v for v in range(1, 21) if v % 3 == 0
    )
    assert ck["watermarks"]["s2"] == max(
        v for v in range(1, 21) if v % 5 == 0 and v % 3 != 0
    )
    assert ck["files"] == tl._version_doc(spark, t, 20)["files"]

    # last_committed_batch: with no sidecar the scan floors at the
    # checkpoint and the answer matches the full walk (count the doc
    # reads to prove the floor actually fires)
    reads = []
    orig_doc = tl._version_doc
    try:
        tl._version_doc = lambda s, tb, v: (
            reads.append(v) or orig_doc(s, tb, v)
        )
        got = tl.last_committed_batch(spark, t, "s2")
    finally:
        tl._version_doc = orig_doc
    assert got == ck["watermarks"]["s2"]
    assert min(reads, default=99) > 20, reads  # never walked below ck

    # torn checkpoint: degrades to the deep scan, same answer
    import os

    ckp = tmp_path / "ck_tbl" / "_log" / "_checkpoint_v20.json"
    good_ck = ckp.read_text()
    try:
        ckp.write_text("{not json")
        reads.clear()
        tl._version_doc = lambda s, tb, v: (
            reads.append(v) or orig_doc(s, tb, v)
        )
        assert tl.last_committed_batch(spark, t, "s2") == got
        # tail v22..v21 missed, deep scan found s2's commit at v20
        assert reads == [22, 21, 20], reads
    finally:
        tl._version_doc = orig_doc
        ckp.write_text(good_ck)
    assert os.path.exists(ckp)

    # explicit write_checkpoint at an interior version + idempotence
    rep = tl.write_checkpoint(spark, t, 22)
    assert rep["checkpoint_version"] == 22
    with pytest.raises(tl.CommitConflict):
        tl.write_checkpoint(spark, t, 22)
    with pytest.raises(ValueError, match="not in"):
        tl.write_checkpoint(spark, t, 99)


def test_shallow_clone(spark, tmp_path):
    """X141: clone() publishes a zero-copy v0 referencing the source's
    files + deletion vectors; divergence is independent, and the
    CLONE's vacuum can never delete source-owned files."""
    src = str(tmp_path / "clone_src")
    dst = str(tmp_path / "clone_dst")
    tl.commit(spark, spark.range(10).select(F.col("id").alias("k")), src)
    tl.commit(spark, spark.range(10, 15).select(F.col("id").alias("k")), src)
    tl.delete_rows(spark, src, F.col("k") == 3)  # v2 carries a DV

    rep = tl.clone(spark, src, dst)
    assert rep["version"] == 0
    got = sorted(r["k"] for r in tl.read_version(spark, dst).collect())
    assert got == [k for k in range(15) if k != 3]  # DV honored
    # zero copy: the clone's doc references the SOURCE's files
    assert (
        tl._version_doc(spark, dst, 0)["files"]
        == tl._version_doc(spark, src, 2)["files"]
    )

    # divergence: the clone's append never touches the source
    tl.commit(spark, spark.range(100, 101).select(F.col("id").alias("k")), dst)
    assert tl.read_version(spark, src).count() == 14
    assert tl.read_version(spark, dst).count() == 15

    # the clone's vacuum sweeps only its OWN data dirs
    tl.commit(
        spark,
        spark.range(200, 201).select(F.col("id").alias("k")),
        dst,
        mode="overwrite",
    )
    tl.vacuum(spark, dst, keep_last=1, min_age_seconds=0)
    assert tl.read_version(spark, src).count() == 14  # src intact
    assert tl.read_version(spark, dst).count() == 1

    # interior-version clone + validation
    d2 = str(tmp_path / "clone_v0")
    tl.clone(spark, src, d2, version=0)
    assert tl.read_version(spark, d2).count() == 10
    with pytest.raises(ValueError, match="already exists"):
        tl.clone(spark, src, d2)
    with pytest.raises(ValueError, match="not in"):
        tl.clone(spark, src, str(tmp_path / "clone_x"), version=9)
    with pytest.raises(ValueError, match="no such"):
        tl.clone(spark, str(tmp_path / "nope"), str(tmp_path / "clone_y"))


def test_restore_metadata_rollback(spark, tmp_path):
    """X143: restore() republishes an old version's state as the NEXT
    version — metadata-only rollback, history intact."""
    t = str(tmp_path / "restore_tbl")
    tl.commit(spark, spark.range(10).select(F.col("id").alias("k")), t)
    tl.delete_rows(spark, t, F.col("k") % 2 == 0)                 # v1
    tl.commit(
        spark,
        spark.range(100, 103).select(F.col("id").alias("k")),
        t,
        mode="overwrite",
    )                                                             # v2

    doc = tl.restore(spark, t, 1)                                 # v3
    assert doc["version"] == 3 and tl.current_version(spark, t) == 3
    assert sorted(r["k"] for r in tl.read_version(spark, t).collect()) == [
        1, 3, 5, 7, 9,
    ]
    # full history intact; the rolled-back version still time-travels
    assert [h["version"] for h in tl.history(spark, t)] == [0, 1, 2, 3]
    assert tl.read_version(spark, t, 2).count() == 3
    # restore-to-current: no-op, no version minted
    assert tl.restore(spark, t, 3)["version"] == 3
    assert tl.current_version(spark, t) == 3
    with pytest.raises(ValueError, match="not in"):
        tl.restore(spark, t, 9)

    # a restore whose PREDECESSOR shares its file list (v4 =
    # restore-to-0 right after v3 = restore-to-1, both referencing v0's
    # files) still publishes the whole snapshot
    tl.restore(spark, t, 0)  # v4: same files as v3, no vectors
    assert sorted(
        r["k"] for r in tl.read_version(spark, t).collect()
    ) == list(range(10))


def test_log_shape_property_checkpoint_equivalence(spark, tmp_path):
    """Property (seeded-random log shapes): for arbitrary
    append/delete/overwrite/restore/merge/constraint sequences
    crossing checkpoint boundaries — including X149's files-unchanged
    metadata publishes, the zero-delta append class — the
    checkpoint-accelerated history() is IDENTICAL to the full doc
    walk."""
    import random

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        t = str(tmp_path / f"prop_{seed}")
        tl.commit(
            spark, spark.range(6).select(F.col("id").alias("k")), t
        )
        base = 6
        while (tl.current_version(spark, t) or 0) < 13:
            op = rng.choice(["append", "append", "delete", "overwrite",
                             "restore", "merge", "constraint"])
            if op == "constraint":
                # X149: a files-unchanged metadata publish (set or
                # drop) — the zero-delta append class the checkpoint
                # writer must carry through without inventing or
                # dropping deltas
                cons = (
                    tl._version_doc(
                        spark, t, tl.current_version(spark, t)
                    ).get("constraints") or {}
                )
                if "k_bound" in cons:
                    tl.drop_constraint(spark, t, "k_bound")
                else:
                    tl.set_constraint(
                        spark, t, "k_bound", "k < 1000000"
                    )
            elif op == "merge":
                # X144: upsert a random live key + insert a fresh one
                # (sorted before rng.choice — collect() order is not
                # deterministic, and the seed must reproduce; an
                # emptied table upserts a second FRESH key instead of
                # duplicating base — review r14)
                cur_rows = sorted(
                    r.k for r in tl.read_version(spark, t).collect()
                )
                upd = rng.choice(cur_rows) if cur_rows else base + 1
                msrc = spark.createDataFrame(
                    [(int(upd),), (int(base),)], "k long"
                )
                tl.merge_rows(spark, t, msrc, ["k"])
                base += 2
            elif op == "append":
                tl.commit(
                    spark,
                    spark.range(base, base + 3).select(
                        F.col("id").alias("k")
                    ),
                    t,
                )
                base += 3
            elif op == "delete":
                tl.delete_rows(
                    spark, t, F.col("k") % rng.choice([2, 3, 5]) == 0
                )
            elif op == "overwrite":
                tl.commit(
                    spark,
                    spark.range(base, base + 4).select(
                        F.col("id").alias("k")
                    ),
                    t,
                    mode="overwrite",
                )
                base += 4
            else:
                cur = tl.current_version(spark, t)
                tl.restore(spark, t, rng.randrange(cur + 1))
        cur = tl.current_version(spark, t)
        assert tl.latest_checkpoint_version(spark, t) == 10

        # history equivalence
        fast = tl.history(spark, t)
        orig = tl._log_maxima
        try:
            tl._log_maxima = lambda s, tb: (orig(s, tb)[0], [])
            slow = tl.history(spark, t)
        finally:
            tl._log_maxima = orig
        assert fast == slow


def test_checkpoint_shape_dedup_bounds_and_failure_observability(
    spark, tmp_path, monkeypatch, caplog
):
    """ADVICE r13 closures on the checkpoint docs:

    (a) schema shapes are DEDUPED — one ``shapes`` table entry per
        distinct shape, rows carry ``shape_id`` (doc size no longer
        O(versions x schema width));
    (b) ``CHECKPOINT_HISTORY`` bounds the embedded history depth, and
        ``history()`` degrades transparently: it doc-walks the versions
        below the retained window and stays identical to the full walk;
    (c) pre-r14 checkpoints (per-row inline ``shape``) still load —
        the incremental builder interns them on read;
    (d) a failing auto-checkpoint no longer passes silently: the
        commit succeeds but logs a warning and bumps
        ``tl.checkpoint_failures`` (a permanently broken accelerator
        is observable)."""
    import json as _json
    import logging

    t = str(tmp_path / "ck_shape")
    for v in range(13):
        df = spark.range(v * 4, v * 4 + 4).select(F.col("id").alias("k"))
        if v == 5:
            tl.delete_rows(spark, t, F.col("k") % 7 == 0)
        else:
            tl.commit(spark, df, t)

    # (a) deduped shapes: one distinct shape, every row references it
    ck = tl._read_json(spark, tl._checkpoint_path(t, 10))
    assert ck["shapes"] == [[["k", "bigint"]]]
    assert all("shape" not in r for r in ck["history"])
    assert {r["shape_id"] for r in ck["history"]} == {0}

    # (c) old-format compat: rewrite the doc to the pre-r14 inline-
    # shape form; history() and a later INCREMENTAL write_checkpoint
    # must both still work
    ckp = tmp_path / "ck_shape" / "_log" / "_checkpoint_v10.json"
    old = dict(ck)
    old["history"] = [
        {**{k: v for k, v in r.items() if k != "shape_id"},
         "shape": ck["shapes"][r["shape_id"]]}
        for r in ck["history"]
    ]
    del old["shapes"]
    ckp.write_text(_json.dumps(old))
    fast = tl.history(spark, t)
    orig = tl._log_maxima
    try:
        tl._log_maxima = lambda s, tb: (orig(s, tb)[0], [])
        slow = tl.history(spark, t)
    finally:
        tl._log_maxima = orig
    assert fast == slow and len(fast) == 13

    rep = tl.write_checkpoint(spark, t, 12)  # incremental from old format
    assert [r["version"] for r in rep["history"]] == list(range(13))
    assert {r["shape_id"] for r in rep["history"]} == {0}
    assert rep["shapes"] == [[["k", "bigint"]]]

    # (b) bounded history depth: retained window only, history()
    # degrades to doc walks below it — answers identical
    monkeypatch.setattr(tl, "CHECKPOINT_HISTORY", 4)
    t2 = str(tmp_path / "ck_bounded")
    for v in range(12):
        tl.commit(
            spark,
            spark.range(v * 3, v * 3 + 3).select(F.col("id").alias("k")),
            t2,
        )
    ck2 = tl._read_json(spark, tl._checkpoint_path(t2, 10))
    assert [r["version"] for r in ck2["history"]] == [7, 8, 9, 10]
    assert len(ck2["shapes"]) == 1  # re-interned, no dead entries
    fast2 = tl.history(spark, t2)
    try:
        tl._log_maxima = lambda s, tb: (orig(s, tb)[0], [])
        slow2 = tl.history(spark, t2)
    finally:
        tl._log_maxima = orig
    assert fast2 == slow2 and [r["version"] for r in fast2] == list(range(12))

    # (d) failing auto-checkpoint: commit succeeds, warning logged,
    # counter bumped
    t3 = str(tmp_path / "ck_fail")
    tl.checkpoint_failures.pop(t3, None)

    def boom(*a, **kw):
        raise RuntimeError("synthetic checkpoint failure")

    monkeypatch.setattr(tl, "write_checkpoint", boom)
    with caplog.at_level(logging.WARNING,
                         logger="tableone_pyspark_spark.sources.tablelog"):
        for v in range(11):
            tl.commit(
                spark,
                spark.range(3).select(F.col("id").alias("k")),
                t3,
            )
    assert tl.current_version(spark, t3) == 10  # commits unharmed
    assert tl.checkpoint_failures[t3] == 1
    assert any(
        "auto-checkpoint failed" in r.message for r in caplog.records
    )


def test_load_ck_history_mixed_format():
    """A pre-r14 writer extending a new-format checkpoint appends
    inline-``shape`` rows AFTER ``shape_id`` rows (its incremental
    build copies rows verbatim). The loader must resolve shape_id
    rows against the doc's OWN shapes table while interning the
    inline rows — not rebuild a fresh table the old ids would
    misindex (review r14)."""
    doc = {
        "history": [
            {"version": 0, "mode": "append", "shape_id": 0},
            {"version": 1, "mode": "overwrite", "shape_id": 1},
            # appended by an old writer: inline, one NEW shape and one
            # repeat of shape 0
            {"version": 2, "mode": "append",
             "shape": [["a", "int"], ["b", "string"]]},
            {"version": 3, "mode": "append", "shape": [["k", "bigint"]]},
        ],
        "shapes": [[["k", "bigint"]], [["k", "double"]]],
    }
    rows, shapes = tl._load_ck_history(doc)
    resolved = [shapes[r["shape_id"]] for r in rows]
    assert resolved == [
        [["k", "bigint"]],
        [["k", "double"]],
        [["a", "int"], ["b", "string"]],
        [["k", "bigint"]],  # deduped against the seeded table
    ]
    assert len(shapes) == 3


def test_merge_rows_clauses_and_guards(spark, tmp_path):
    """X144 MERGE with deletion vectors: clause semantics (Delta MERGE
    defaults), one published version, time travel intact, NULL-key
    non-match semantics, duplicate-source raise, DV-aware matching
    (already-deleted rows are not re-matched) and chained merges."""

    def mk(name):
        t = str(tmp_path / name)
        base = spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        tl.commit(spark, base.coalesce(2), t)
        return t

    key = lambda x: (x[0] is None, x[0])  # noqa: E731
    src = spark.createDataFrame(
        [(3, 999), (5, 555), (42, 420), (None, 7)], "k long, v long"
    )

    # update + insert (the default): matched replaced, rest appended,
    # NULL key inserted (never matches)
    t = mk("m_ui")
    rep = tl.merge_rows(spark, t, src, ["k"])
    assert (rep["version"], rep["n_deleted"], rep["n_inserted"]) == (1, 2, 4)
    got = sorted(((r.k, r.v) for r in tl.read_version(spark, t).collect()),
                 key=key)
    exp = sorted(
        [(i, i * 10) for i in range(10) if i not in (3, 5)]
        + [(3, 999), (5, 555), (42, 420), (None, 7)],
        key=key,
    )
    assert got == exp
    assert tl.read_version(spark, t, 0).count() == 10  # travel intact
    assert tl.history(spark, t)[-1]["mode"] == "merge"

    # update + ignore: matched only; NULL-key source rows dropped
    t = mk("m_uig")
    rep = tl.merge_rows(spark, t, src, ["k"], when_not_matched="ignore")
    assert (rep["n_deleted"], rep["n_inserted"]) == (2, 2)
    got = sorted(((r.k, r.v) for r in tl.read_version(spark, t).collect()),
                 key=key)
    assert got == sorted(
        [(i, i * 10) for i in range(10) if i not in (3, 5)]
        + [(3, 999), (5, 555)],
        key=key,
    )

    # delete + insert: matched removed, unmatched (incl. NULL) appended
    t = mk("m_di")
    rep = tl.merge_rows(spark, t, src, ["k"], when_matched="delete")
    assert (rep["n_deleted"], rep["n_inserted"]) == (2, 2)
    got = sorted(((r.k, r.v) for r in tl.read_version(spark, t).collect()),
                 key=key)
    assert got == sorted(
        [(i, i * 10) for i in range(10) if i not in (3, 5)]
        + [(42, 420), (None, 7)],
        key=key,
    )

    # delete + ignore: pure keyed delete
    t = mk("m_dig")
    rep = tl.merge_rows(
        spark, t, src, ["k"],
        when_matched="delete", when_not_matched="ignore",
    )
    assert (rep["n_deleted"], rep["n_inserted"]) == (2, 0)
    assert tl.read_version(spark, t).count() == 8

    # no-op merge publishes nothing
    t = mk("m_noop")
    only_new = spark.createDataFrame([(77, 1)], "k long, v long")
    rep = tl.merge_rows(
        spark, t, only_new, ["k"],
        when_matched="delete", when_not_matched="ignore",
    )
    assert rep == {"version": 0, "n_deleted": 0, "n_inserted": 0}
    assert tl.current_version(spark, t) == 0

    # guards
    t = mk("m_guards")
    with pytest.raises(ValueError, match="duplicate source key"):
        tl.merge_rows(
            spark, t,
            spark.createDataFrame([(3, 1), (3, 2)], "k long, v long"),
            ["k"],
        )
    with pytest.raises(ValueError, match="schema differs"):
        tl.merge_rows(
            spark, t,
            spark.createDataFrame([(3, "x")], "k long, v string"),
            ["k"],
        )
    with pytest.raises(ValueError, match="when_matched"):
        tl.merge_rows(spark, t, src, ["k"], when_matched="upsert")
    with pytest.raises(ValueError, match="when_not_matched"):
        tl.merge_rows(spark, t, src, ["k"], when_not_matched="drop")
    with pytest.raises(ValueError, match="key columns not in source"):
        tl.merge_rows(spark, t, src, ["nope"])
    with pytest.raises(ValueError, match="at least one key"):
        tl.merge_rows(spark, t, src, [])

    # DV-aware matching: a row already deletion-vector-deleted must
    # not be re-matched (its position is not live), and the merge's
    # vector must not resurrect it
    t = mk("m_dv")
    tl.delete_rows(spark, t, F.col("k") == 3)          # v1: DV-delete k=3
    rep = tl.merge_rows(spark, t, src, ["k"])          # v2: merge
    assert rep["n_deleted"] == 1  # only k=5 is live-matched
    got = sorted(((r.k, r.v) for r in tl.read_version(spark, t).collect()),
                 key=key)
    # k=3 comes back as the source's INSERT row (it no longer matched)
    assert (3, 999) in got and (3, 30) not in got

    # chained merges: the second merge's vector names the FIRST
    # merge's appended files (they are prev files by then)
    src2 = spark.createDataFrame([(42, 4242), (None, 8)], "k long, v long")
    rep2 = tl.merge_rows(spark, t, src2, ["k"])
    assert rep2["n_deleted"] == 1  # 42's postimage from merge-1
    got = sorted(((r.k, r.v) for r in tl.read_version(spark, t).collect()),
                 key=key)
    assert (42, 4242) in got and (42, 420) not in got
    # NULL-keyed rows never match: both NULL inserts survive
    assert [x for x in got if x[0] is None] == [(None, 7), (None, 8)]


def test_merge_duplicate_keyed_target_multiplicity(spark, tmp_path):
    """Delta MERGE multiplicity (review r14): a TARGET holding two
    rows with the same key gets EACH row updated — the merge retracts
    both positions and appends two postimages, never silently
    collapsing the pair to one row."""
    t = str(tmp_path / "m_mult")
    dup_target = spark.createDataFrame(
        [(5, 50), (5, 51), (7, 70)], "k long, v long"
    )
    tl.commit(spark, dup_target.coalesce(1), t)
    rep = tl.merge_rows(
        spark, t,
        spark.createDataFrame([(5, 999)], "k long, v long"),
        ["k"],
    )
    assert (rep["n_deleted"], rep["n_inserted"]) == (2, 2), rep
    got = sorted((r.k, r.v) for r in tl.read_version(spark, t).collect())
    assert got == [(5, 999), (5, 999), (7, 70)], got


def test_timestamp_time_travel(spark, tmp_path):
    """X145 — TIMESTAMP AS OF: version_at resolves an instant to the
    version current at that time (greatest committed_at <= ts);
    read_version(as_of=) reads that version; before-first-commit
    raises, future resolves to latest; datetime and ISO-string inputs
    accepted."""
    import time as _time
    from datetime import datetime

    t = str(tmp_path / "ts_travel")
    marks = []
    for v in range(3):
        tl.commit(
            spark,
            spark.range(v * 5, v * 5 + 5).select(F.col("id").alias("k")),
            t,
        )
        marks.append(_time.time())  # strictly after commit v
        _time.sleep(0.02)

    for v, m in enumerate(marks):
        assert tl.version_at(spark, t, m) == v
    assert tl.version_at(spark, t, _time.time() + 3600) == 2  # future
    with pytest.raises(ValueError, match="before"):
        tl.version_at(spark, t, marks[0] - 10)
    # datetime + ISO forms
    assert tl.version_at(spark, t, datetime.fromtimestamp(marks[1])) == 1
    assert (
        tl.version_at(
            spark, t, datetime.fromtimestamp(marks[1]).isoformat()
        )
        == 1
    )

    assert tl.read_version(spark, t, as_of=marks[0]).count() == 5
    assert tl.read_version(spark, t, as_of=marks[1]).count() == 10
    with pytest.raises(ValueError, match="not both"):
        tl.read_version(spark, t, version=1, as_of=marks[1])


def test_convert_parquet_in_place(spark, tmp_path):
    """X147: convert_parquet publishes an existing plain parquet dir
    as v0 with ZERO data movement — the converted table time-travels,
    takes appends/DV deletes/merges, its vacuum never touches the
    source files (the clone rule), per-file stats opt in for pruned
    reads from v0, and the honest guards fire: existing destination,
    empty dir, hive layout, and mixed per-file schemas all raise."""
    import os

    src = str(tmp_path / "plain")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    df.repartition(4).write.parquet(src)
    t = str(tmp_path / "converted")
    doc = tl.convert_parquet(spark, src, t, stats_cols=["k"])
    assert doc["version"] == 0 and len(doc["files"]) == 4
    # zero-copy: every referenced file lives under the SOURCE dir
    assert all(os.path.realpath(src) in os.path.realpath(f) for f in doc["files"])
    assert sorted(r["k"] for r in tl.read_version(spark, t).collect()) == list(range(100))
    # stats from v0: a pruned read skips files
    pruned = tl.read_version(spark, t, prune=[("k", ">=", 90)])
    assert {r["k"] for r in pruned.collect()} >= set(range(90, 100))
    # the converted table takes the full write path
    tl.commit(spark, spark.createDataFrame([(1000, 1)], "k long, v long"), t)
    tl.delete_rows(spark, t, F.col("k") == 0)
    assert tl.current_version(spark, t) == 2
    got = sorted(r["k"] for r in tl.read_version(spark, t).collect())
    assert got == list(range(1, 100)) + [1000]
    # vacuum can never delete the shared source files
    tl.vacuum(spark, t, min_age_seconds=0)
    assert spark.read.parquet(src).count() == 100
    assert sorted(
        r["k"] for r in tl.read_version(spark, t).collect()
    ) == list(range(1, 100)) + [1000]
    # guards
    with pytest.raises(ValueError, match="already exists"):
        tl.convert_parquet(spark, src, t)
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    with pytest.raises(ValueError, match="no parquet"):
        tl.convert_parquet(spark, empty, str(tmp_path / "c2"))
    hive = str(tmp_path / "hive")
    df.write.partitionBy("v").parquet(hive)
    with pytest.raises(ValueError, match="hive|key=value|partition"):
        tl.convert_parquet(spark, hive, str(tmp_path / "c3"))
    mixed = str(tmp_path / "mixed")
    spark.range(5).select(F.col("id").alias("k")).write.parquet(mixed)
    spark.range(5).select(
        F.col("id").alias("k"), F.lit("x").alias("extra")
    ).write.mode("append").parquet(mixed)
    with pytest.raises(ValueError, match="distinct file"):
        tl.convert_parquet(spark, mixed, str(tmp_path / "c4"))


def test_blind_append_rebases_on_slot_race(spark, tmp_path, monkeypatch):
    """X148 — Delta's blind-append conflict resolution: an append that
    loses the publish slot to a concurrent commit REBASES (one doc
    retry, no data rewrite) and both writers' rows land; overwrites
    and pinned-base writes still raise, and an interleaved
    schema-changing commit refuses the rebase."""
    t = str(tmp_path / "race_tbl")
    tl.commit(
        spark, spark.range(5).select(F.col("id").alias("k")), t,
        stats_cols=["k"],
    )  # v0
    orig = tl._write_log_doc_exclusive

    def install_racer(competitor_df, competitor_mode):
        state = {"raced": False}

        def racy(s, table, name, doc):
            if not state["raced"] and table == t and name.startswith("v"):
                state["raced"] = True
                monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
                tl.commit(spark, competitor_df, t, mode=competitor_mode)
                monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy)
                return orig(s, table, name, doc)  # slot taken -> conflict
            return orig(s, table, name, doc)

        monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy)

    # blind append loses v1 to a concurrent append -> rebases to v2
    install_racer(
        spark.range(100, 103).select(F.col("id").alias("k")), "append"
    )
    rep = tl.commit(
        spark, spark.range(10, 13).select(F.col("id").alias("k")), t,
        stats_cols=["k"],
    )
    monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
    assert rep["version"] == 2
    assert sorted(
        r["k"] for r in tl.read_version(spark, t).collect()
    ) == [0, 1, 2, 3, 4, 10, 11, 12, 100, 101, 102]
    # stats: the rebase carries the winner's doc forward AND keeps
    # this commit's own per-file stats — exactly v0's files (opted
    # in) plus OUR files carry stats; the competitor's (no
    # stats_cols) are honestly stat-less
    d0 = tl._version_doc(spark, t, 0)["files"]
    d1 = tl._version_doc(spark, t, 1)["files"]
    competitor_files = set(d1) - set(d0)
    my_files = set(rep["files"]) - set(d1)
    assert set(d0) <= set(rep["stats"])          # v0's stats carried
    assert not (set(rep["stats"]) & competitor_files)  # honest gap
    assert set(rep["stats"]) & my_files          # ours collected
    # (zero-row part files are legitimately stat-less — never skipped)
    # rebase also survives an interleaved DV delete (dv carried)
    tl.delete_rows(spark, t, F.col("k") == 0)  # v3
    install_racer(
        spark.range(200, 201).select(F.col("id").alias("k")), "append"
    )
    rep2 = tl.commit(
        spark, spark.range(300, 301).select(F.col("id").alias("k")), t
    )
    monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
    assert rep2["version"] == 5 and rep2.get("dv")
    assert 0 not in {r["k"] for r in tl.read_version(spark, t).collect()}

    # a losing OVERWRITE still raises
    install_racer(
        spark.range(400, 401).select(F.col("id").alias("k")), "append"
    )
    with pytest.raises(tl.CommitConflict):
        tl.commit(
            spark,
            spark.range(500, 501).select(F.col("id").alias("k")),
            t,
            mode="overwrite",
        )
    monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)

    # a schema-changing interleaved commit refuses the rebase
    install_racer(
        spark.range(5).select(
            F.col("id").alias("k"), F.lit("x").alias("extra")
        ),
        "overwrite",
    )
    with pytest.raises(ValueError, match="schema"):
        tl.commit(
            spark, spark.range(600, 601).select(F.col("id").alias("k")), t
        )
    monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)

    # pinned-base writes never rebase (read-modify-write must see it)
    cur = tl.current_version(spark, t)
    tl.commit(
        spark, spark.range(700, 701).select(
            F.col("id").alias("k"), F.lit("x").alias("extra")
        ), t, mode="overwrite",
    )
    with pytest.raises(tl.CommitConflict):
        tl.commit(
            spark,
            spark.range(800, 801).select(
                F.col("id").alias("k"), F.lit("x").alias("extra")
            ),
            t,
            expected_base=cur,
        )


def test_persisted_check_constraints(spark, tmp_path):
    """X149: set_constraint persists a CHECK in the table so every
    writer enforces it — commits (append/overwrite), merges, clones
    (carried), maintenance publishes (inherited) — with SQL NULL-
    passes semantics, existing-data validation at ADD time, and loud
    drop-of-missing."""
    t = str(tmp_path / "con_tbl")
    tl.commit(
        spark,
        spark.createDataFrame([(1, 10), (2, None)], "k long, v long"),
        t,
    )  # v0
    doc = tl.set_constraint(spark, t, "k_pos", "k > 0")  # v1
    assert doc["version"] == 1 and doc["constraints"] == {"k_pos": "k > 0"}
    assert doc["files"] == tl._version_doc(spark, t, 0)["files"]
    # violating append refuses and publishes nothing
    with pytest.raises(ValueError, match="k_pos"):
        tl.commit(spark, spark.createDataFrame([(-1, 1)], "k long, v long"), t)
    assert tl.current_version(spark, t) == 1
    # NULL passes (SQL CHECK rule); a passing append lands
    tl.commit(
        spark,
        spark.createDataFrame([(None, 7), (3, None)], "k long, v long"),
        t,
    )  # v2
    assert tl.current_version(spark, t) == 2
    # overwrite is gated too
    with pytest.raises(ValueError, match="k_pos"):
        tl.commit(
            spark, spark.createDataFrame([(0, 1)], "k long, v long"), t,
            mode="overwrite",
        )
    # merge postimages are gated
    with pytest.raises(ValueError, match="k_pos"):
        tl.merge_rows(
            spark, t,
            spark.createDataFrame([(-5, 1)], "k long, v long"), ["k"],
        )
    # existing-data validation at ADD time (v=10 row violates v < 5)
    with pytest.raises(ValueError, match="already violate"):
        tl.set_constraint(spark, t, "v_small", "v < 5")
    # maintenance inherits: optimize + restore keep the set live
    tl.optimize(spark, t)                                    # v3
    tl.restore(spark, t, 2)                                  # v4
    with pytest.raises(ValueError, match="k_pos"):
        tl.commit(spark, spark.createDataFrame([(-2, 1)], "k long, v long"), t)
    # clone carries the source's constraints
    c = str(tmp_path / "con_clone")
    tl.clone(spark, t, c)
    with pytest.raises(ValueError, match="k_pos"):
        tl.commit(spark, spark.createDataFrame([(-3, 1)], "k long, v long"), c)
    # drop: enforcement stops; dropping a missing name is loud
    tl.drop_constraint(spark, t, "k_pos")                    # v5
    tl.commit(spark, spark.createDataFrame([(-4, 1)], "k long, v long"), t)
    with pytest.raises(ValueError, match="no CHECK constraint"):
        tl.drop_constraint(spark, t, "k_pos")
    with pytest.raises(ValueError, match="identifier"):
        tl.set_constraint(spark, t, "bad name", "k > 0")


def test_rebase_never_duplicates_a_streaming_batch(spark, tmp_path, monkeypatch):
    """Review r14 (exactly-once): a blind streaming append that loses
    its slot to a CONCURRENT REPLAY of the same (stream_id, batch_id)
    must raise CommitConflict, NOT rebase — rebasing would commit the
    micro-batch twice; a race with a DIFFERENT stream's batch still
    rebases normally."""
    t = str(tmp_path / "sdup_tbl")
    tl.commit(spark, spark.range(3).select(F.col("id").alias("k")), t)  # v0
    orig = tl._write_log_doc_exclusive

    def install_racer(df, **commit_kw):
        state = {"raced": False}

        def racy(s, table, name, doc):
            if not state["raced"] and table == t and name.startswith("v"):
                state["raced"] = True
                monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
                tl.commit(spark, df, t, **commit_kw)
                monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy)
                return orig(s, table, name, doc)
            return orig(s, table, name, doc)

        monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy)

    # same (stream, batch) replay wins the race -> conflict, no dup
    install_racer(
        spark.range(10, 13).select(F.col("id").alias("k")),
        stream_id="s1", batch_id=7,
    )
    with pytest.raises(tl.CommitConflict, match="duplicate replay"):
        tl.commit(
            spark,
            spark.range(10, 13).select(F.col("id").alias("k")),
            t, stream_id="s1", batch_id=7,
        )
    monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
    assert sorted(
        r["k"] for r in tl.read_version(spark, t).collect()
    ) == [0, 1, 2, 10, 11, 12]  # exactly once
    # a DIFFERENT stream's batch interleaving still rebases
    install_racer(
        spark.range(20, 21).select(F.col("id").alias("k")),
        stream_id="s2", batch_id=3,
    )
    rep = tl.commit(
        spark, spark.range(30, 31).select(F.col("id").alias("k")),
        t, stream_id="s1", batch_id=8,
    )
    monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
    assert rep["version"] == 3 and rep["batch_id"] == 8
    assert sorted(
        r["k"] for r in tl.read_version(spark, t).collect()
    ) == [0, 1, 2, 10, 11, 12, 20, 30]


def test_vacuum_dry_run_and_describe_detail(spark, tmp_path):
    """Dry-run vacuum deletes nothing and reports exactly what a real
    vacuum then reclaims; describe_detail summarizes a version from
    one doc read (counts, columns, constraints, checkpoint), with
    opt-in byte sizing."""
    t = str(tmp_path / "dd_tbl")
    tl.commit(
        spark, spark.range(20).select(F.col("id").alias("k")), t,
        stats_cols=["k"],
    )                                                          # v0
    tl.commit(
        spark,
        spark.range(100, 105).select(F.col("id").alias("k")),
        t,
        mode="overwrite",
    )                                                          # v1
    tl.set_constraint(spark, t, "k_pos", "k >= 0")             # v2
    tl.delete_rows(spark, t, F.col("k") == 100)                # v3

    d = tl.describe_detail(spark, t)
    assert d["version"] == 3 and d["current_version"] == 3
    assert d["mode"] == "delete" and d["n_dv_files"] >= 1
    assert d["columns"] == ["k"] and d["constraints"] == {"k_pos": "k >= 0"}
    assert d["latest_checkpoint"] is None
    d0 = tl.describe_detail(spark, t, version=0, with_size=True)
    assert d0["mode"] == "append" and d0["n_stats_files"] == d0["n_files"]
    assert d0["size_bytes"] > 0
    with pytest.raises(ValueError, match="not in"):
        tl.describe_detail(spark, t, version=9)

    # dry run: v0's files are outside keep_last=2's window (v2..v3
    # share v1's files) — reported, NOT deleted
    rep = tl.vacuum(spark, t, keep_last=2, min_age_seconds=0, dry_run=True)
    assert rep["n_deleted"] == 0 and rep["n_would_delete"] > 0
    assert len(rep["would_delete"]) == rep["n_would_delete"]
    assert tl.read_version(spark, t, 0).count() == 20  # nothing gone
    real = tl.vacuum(spark, t, keep_last=2, min_age_seconds=0)
    assert real["n_deleted"] == rep["n_would_delete"]  # exact preview
    with pytest.raises(Exception):
        tl.read_version(spark, t, 0).count()  # v0 now unreadable
    assert sorted(
        r["k"] for r in tl.read_version(spark, t).collect()
    ) == [101, 102, 103, 104]


def test_clone_as_of_timestamp(spark, tmp_path):
    """X145 x X141: clone(as_of=) clones the version current at a
    wall-clock instant; version and as_of together refuse."""
    t = str(tmp_path / "cas_src")
    tl.commit(spark, spark.range(3).select(F.col("id").alias("k")), t)  # v0
    tl.commit(spark, spark.range(3, 7).select(F.col("id").alias("k")), t)  # v1
    mid = (
        tl._version_doc(spark, t, 0)["committed_at"]
        + tl._version_doc(spark, t, 1)["committed_at"]
    ) / 2
    c = str(tmp_path / "cas_dst")
    doc = tl.clone(spark, t, c, as_of=mid)
    assert doc["version"] == 0
    assert sorted(r["k"] for r in tl.read_version(spark, c).collect()) == [0, 1, 2]
    with pytest.raises(ValueError, match="not both"):
        tl.clone(spark, t, str(tmp_path / "cas_d2"), version=1, as_of=mid)


def test_vacuum_distributed_delete_path(spark, tmp_path, monkeypatch):
    """Above VACUUM_DISTRIBUTED_DELETES reclaimable files the deletes
    run executor-side (one Spark job over the path list) — same
    outcome as the driver loop: exact count, live files untouched,
    kept window readable. Threshold lowered to force the path."""
    import os

    t = str(tmp_path / "tbl_dist")
    tl.commit(spark, spark.range(100).repartition(8), t)  # v0: 8 files
    tl.commit(
        spark, spark.range(200, 210).repartition(4), t, mode="overwrite"
    )  # v1
    tl.commit(
        spark, spark.range(300, 303), t, mode="overwrite"
    )  # v2
    monkeypatch.setattr(tl, "VACUUM_DISTRIBUTED_DELETES", 2)
    pre = tl.vacuum(spark, t, keep_last=2, min_age_seconds=0,
                    dry_run=True)
    assert pre["n_would_delete"] >= 8  # v0's files at least
    rep = tl.vacuum(spark, t, keep_last=2, min_age_seconds=0)
    assert rep["n_deleted"] == pre["n_would_delete"]
    assert rep["kept_versions"] == [1, 2]
    # live files untouched, kept window readable
    assert sorted(
        r["id"] for r in tl.read_version(spark, t, 1).collect()
    ) == list(range(200, 210))
    assert tl.read_version(spark, t).count() == 3
    with pytest.raises(Exception):
        tl.read_version(spark, t, 0).collect()
    # v0's data dirs hold no data files anymore (bookkeeping may stay
    # until the next >=min_age dir sweep)
    d0 = tl._version_doc(spark, t, 0)["files"]
    for f in d0:
        assert not os.path.exists(f.replace("file:", ""))
    # idempotent: nothing left to reclaim
    again = tl.vacuum(spark, t, keep_last=2, min_age_seconds=0,
                      dry_run=True)
    assert again["n_would_delete"] == 0


def test_in_commit_timestamps_monotone_and_restore_as_of(
    spark, tmp_path, monkeypatch
):
    """r15: committed_at is clamped monotone against the predecessor
    (Delta's in-commit-timestamp idea) — a writer with a SKEWED-BACK
    wall clock cannot reorder the log's timeline, so version_at is
    exact; restore(as_of=) rides the same resolution."""
    t = str(tmp_path / "ict_tbl")
    tl.commit(spark, spark.range(3).select(F.col("id").alias("k")), t)
    c0 = tl._version_doc(spark, t, 0)["committed_at"]

    real_time = tl.time.time
    monkeypatch.setattr(tl.time, "time", lambda: c0 - 3600.0)  # skewed
    tl.commit(spark, spark.range(10, 12).select(F.col("id").alias("k")), t)
    monkeypatch.setattr(tl.time, "time", real_time)
    c1 = tl._version_doc(spark, t, 1)["committed_at"]
    assert c1 > c0  # clamped, not the skewed wall clock
    # the skewed stamp resolves deterministically: at c0 the table
    # was v0 (v1's stamp is strictly later)
    assert tl.version_at(spark, t, c0) == 0
    assert tl.version_at(spark, t, c1) == 1

    tl.commit(spark, spark.range(20, 21).select(F.col("id").alias("k")), t)
    # restore to the instant of v1 -> publishes v1's state as v3
    rep = tl.restore(spark, t, as_of=c1)
    assert rep["version"] == 3
    assert sorted(
        r["k"] for r in tl.read_version(spark, t).collect()
    ) == [0, 1, 2, 10, 11]
    with pytest.raises(ValueError, match="not both"):
        tl.restore(spark, t, 1, as_of=c1)
    with pytest.raises(ValueError, match="not both"):
        tl.restore(spark, t)


def test_user_metadata_stamped_and_surfaced(spark, tmp_path):
    """r15 — Delta's commitInfo userMetadata: a caller-supplied audit
    string on commit/merge versions, surfaced by describe_detail and
    the doc-walked history rows; versions without one carry none."""
    t = str(tmp_path / "um_tbl")
    tl.commit(
        spark, spark.createDataFrame([(1,)], "k long"), t,
        user_metadata="backfill job #42",
    )
    tl.commit(spark, spark.createDataFrame([(2,)], "k long"), t)
    tl.merge_rows(
        spark, t,
        spark.createDataFrame([(1,), (9,)], "k long"), ["k"],
        user_metadata="dedupe run",
    )
    assert (
        tl.describe_detail(spark, t, version=0)["user_metadata"]
        == "backfill job #42"
    )
    assert tl.describe_detail(spark, t, version=1)["user_metadata"] is None
    assert (
        tl.describe_detail(spark, t, version=2)["user_metadata"]
        == "dedupe run"
    )
    h = {r["version"]: r.get("user_metadata") for r in tl.history(spark, t)}
    assert h[0] == "backfill job #42" and h[1] is None
    assert h[2] == "dedupe run"


def test_generated_columns_fill_enforce_inherit(spark, tmp_path):
    """X153 — GENERATED ALWAYS AS: writes omitting the column get it
    computed; writes supplying it are gated null-safely; maintenance
    publishes, merges, and clones inherit/carry the expression set;
    drop stops both behaviors."""
    t = str(tmp_path / "gen_tbl")
    tl.commit(
        spark,
        spark.createDataFrame(
            [(1, 10.0, 20.0)], "k long, a double, total double"
        ),
        t,
    )  # v0: total already = a * 2
    tl.set_generated(spark, t, "total", "a * 2")  # v1

    # (a) omitted -> computed (and column order restored)
    tl.commit(
        spark,
        spark.createDataFrame([(2, 3.0)], "k long, a double"),
        t,
    )  # v2
    got = {
        r["k"]: r["total"] for r in tl.read_version(spark, t).collect()
    }
    assert got == {1: 20.0, 2: 6.0}
    assert tl.read_version(spark, t).columns == ["k", "a", "total"]

    # (b) supplied-and-wrong -> refused, nothing published
    with pytest.raises(ValueError, match="GENERATED ALWAYS AS"):
        tl.commit(
            spark,
            spark.createDataFrame(
                [(3, 5.0, 99.0)], "k long, a double, total double"
            ),
            t,
        )
    assert tl.current_version(spark, t) == 2
    # supplied-and-right passes
    tl.commit(
        spark,
        spark.createDataFrame(
            [(3, 5.0, 10.0)], "k long, a double, total double"
        ),
        t,
    )  # v3

    # (c) merge enforces too (source schema must supply the column)
    with pytest.raises(ValueError, match="GENERATED"):
        tl.merge_rows(
            spark, t,
            spark.createDataFrame(
                [(2, 4.0, 1.0)], "k long, a double, total double"
            ),
            ["k"],
        )
    rep = tl.merge_rows(
        spark, t,
        spark.createDataFrame(
            [(2, 4.0, 8.0)], "k long, a double, total double"
        ),
        ["k"],
    )  # v4
    assert rep["n_deleted"] == 1 and rep["n_inserted"] == 1

    # (d) optimize inherits (no silent shed) and clone carries
    opt = tl.optimize(spark, t, target_bytes=1 << 20)  # v5
    assert tl.describe_detail(spark, t)["generated"] == {"total": "a * 2"}
    c = str(tmp_path / "gen_clone")
    tl.clone(spark, t, c)
    assert tl.describe_detail(spark, c)["generated"] == {"total": "a * 2"}
    with pytest.raises(ValueError, match="GENERATED"):
        tl.commit(
            spark,
            spark.createDataFrame(
                [(9, 1.0, 7.0)], "k long, a double, total double"
            ),
            c,
        )

    # (e) drop stops filling and gating
    tl.drop_generated(spark, t, "total")  # v6
    tl.commit(
        spark,
        spark.createDataFrame(
            [(7, 1.0, 777.0)], "k long, a double, total double"
        ),
        t,
    )  # v7: disagrees, but no longer generated
    assert tl.describe_detail(spark, t)["generated"] == {}
    with pytest.raises(ValueError, match="no generated expression"):
        tl.drop_generated(spark, t, "total")


def test_set_generated_validation(spark, tmp_path):
    """X153 guards: unknown column, self-reference, disagreeing
    existing rows (NULL history passes — the backfill-free rule)."""
    t = str(tmp_path / "genv_tbl")
    tl.commit(
        spark,
        spark.createDataFrame(
            [(1, 2.0, None), (2, 3.0, 6.0)],
            "k long, a double, total double",
        ),
        t,
    )
    with pytest.raises(ValueError, match="not in the table schema"):
        tl.set_generated(spark, t, "nope", "a * 2")
    with pytest.raises(ValueError, match="references the column"):
        tl.set_generated(spark, t, "total", "total + 1")
    # r16 (ADVICE r15) — the guard is resolver-based, not textual:
    # case-variant and backquoted self-references are caught...
    with pytest.raises(ValueError, match="references the column"):
        tl.set_generated(spark, t, "total", "TOTAL + 1")
    with pytest.raises(ValueError, match="references the column"):
        tl.set_generated(spark, t, "total", "`total` + 1")
    # ...while the column name inside a STRING LITERAL is fine
    tl.set_generated(
        spark, t, "total", "CASE WHEN 'total' = 'x' THEN 0.0 ELSE a * 2 END"
    )
    tl.drop_generated(spark, t, "total")
    # row (2, 3.0, 6.0) = a*2 OK; row 1 is NULL -> passes
    tl.set_generated(spark, t, "total", "a * 2")
    # now a table whose live rows DISAGREE refuses
    t2 = str(tmp_path / "genv2_tbl")
    tl.commit(
        spark,
        spark.createDataFrame(
            [(1, 2.0, 5.0)], "k long, a double, total double"
        ),
        t2,
    )
    with pytest.raises(ValueError, match="disagree"):
        tl.set_generated(spark, t2, "total", "a * 2")


def test_table_properties_and_vacuum_defaults(spark, tmp_path):
    """X155 — persisted table properties: inherited by every publish,
    carried by clones, surfaced by describe_detail, and consumed as
    vacuum's retention defaults (explicit args still win)."""
    import os

    t = str(tmp_path / "props_tbl")
    tl.commit(spark, spark.range(5).select(F.col("id").alias("k")), t)
    tl.set_property(spark, t, "vacuum.keep_last", 1)
    tl.set_property(spark, t, "vacuum.min_age_seconds", 0)
    tl.set_property(spark, t, "owner", "data-eng")  # free-form
    assert tl.table_properties(spark, t) == {
        "vacuum.keep_last": "1",
        "vacuum.min_age_seconds": "0",
        "owner": "data-eng",
    }
    with pytest.raises(ValueError, match="invalid value"):
        tl.set_property(spark, t, "vacuum.keep_last", 0)

    # inherited through data commits and maintenance
    tl.commit(spark, spark.range(5, 8).select(F.col("id").alias("k")), t,
              mode="overwrite")
    tl.optimize(spark, t, target_bytes=1 << 20)
    assert tl.describe_detail(spark, t)["properties"]["owner"] == "data-eng"

    # clone carries
    c = str(tmp_path / "props_clone")
    tl.clone(spark, t, c)
    assert tl.table_properties(spark, c)["owner"] == "data-eng"

    # vacuum consumes the table's own retention policy: keep_last=1,
    # min_age=0 -> the pre-overwrite files reclaim with NO args
    d0 = tl._version_doc(spark, t, 0)["files"]
    rep = tl.vacuum(spark, t)
    assert rep["kept_versions"][-1] == tl.current_version(spark, t)
    assert len(rep["kept_versions"]) == 1
    assert rep["n_deleted"] >= len(d0)
    for f in d0:
        assert not os.path.exists(f.replace("file:", ""))
    # explicit args still win over properties
    rep2 = tl.vacuum(spark, t, keep_last=5, min_age_seconds=3600,
                     dry_run=True)
    assert rep2["n_would_delete"] == 0

    with pytest.raises(ValueError, match="no table property"):
        tl.unset_property(spark, t, "nope")
    tl.unset_property(spark, t, "owner")
    assert "owner" not in tl.table_properties(spark, t)


def test_optimize_rebases_across_blind_appends(spark, tmp_path, monkeypatch):
    """r15 — maintenance-vs-ingest: an OPTIMIZE that loses the publish
    slot to a concurrent blind append rebases (rewrite output + the
    interleaved append's files at the new head, nothing lost); an
    interleaved DV delete makes the rewrite stale and still raises."""
    t = str(tmp_path / "opt_race")
    tl.commit(
        spark,
        spark.range(100).select(F.col("id").alias("k")).repartition(8),
        t,
        stats_cols=["k"],
    )  # v0
    orig = tl._write_log_doc_exclusive
    state = {"raced": False}

    def racy(s, table_, name, doc):
        if not state["raced"] and table_ == t and name.startswith("v"):
            state["raced"] = True
            monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
            tl.commit(
                spark,
                spark.range(200, 203).select(F.col("id").alias("k")),
                t,
            )  # the winner: v1
            monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy)
        return orig(s, table_, name, doc)

    monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy)
    rep = tl.optimize(spark, t, target_bytes=1 << 20)
    monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
    assert state["raced"] and rep["version"] == 2, rep
    assert rep["n_carried_files"] >= 1, rep
    assert sorted(
        r["k"] for r in tl.read_version(spark, t).collect()
    ) == list(range(100)) + [200, 201, 202]
    # the carried append's stats survive alongside the rewrite's
    d2 = tl._version_doc(spark, t, 2)
    assert set(d2.get("stats") or {})  # rewrite files have k stats

    # a non-append interleave (DV delete) makes the rewrite stale
    state["raced"] = False

    def racy_del(s, table_, name, doc):
        if not state["raced"] and table_ == t and name.startswith("v"):
            state["raced"] = True
            monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
            tl.delete_rows(spark, t, F.col("k") == 0)
            monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy_del)
        return orig(s, table_, name, doc)

    monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy_del)
    with pytest.raises(tl.CommitConflict, match="non-append"):
        tl.optimize(spark, t, target_bytes=1 << 20)
    monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
    # nothing corrupted: the delete's version is the head
    assert sorted(
        r["k"] for r in tl.read_version(spark, t).collect()
    ) == list(range(1, 100)) + [200, 201, 202]


def test_checkpoint_every_table_property(spark, tmp_path):
    """X155 — checkpoint.every: the auto-checkpoint cadence comes from
    the table's own properties (module default otherwise)."""
    t = str(tmp_path / "ckev_tbl")
    tl.commit(spark, spark.createDataFrame([(0,)], "k long"), t)  # v0
    tl.set_property(spark, t, "checkpoint.every", 3)  # v1
    tl.commit(spark, spark.createDataFrame([(1,)], "k long"), t)  # v2
    assert tl.latest_checkpoint_version(spark, t) is None
    tl.commit(spark, spark.createDataFrame([(2,)], "k long"), t)  # v3
    assert tl.latest_checkpoint_version(spark, t) == 3
    for i in range(3, 6):
        tl.commit(spark, spark.createDataFrame([(i,)], "k long"), t)
    assert tl.latest_checkpoint_version(spark, t) == 6
    with pytest.raises(ValueError, match="invalid value"):
        tl.set_property(spark, t, "checkpoint.every", 0)


def test_log_shape_property_with_r15_publish_kinds(spark, tmp_path):
    """Property (seeded-random log shapes, r15 extension): sequences
    mixing X152 additive evolution (a real schema change mid-log),
    X153 set/drop_generated and X155 set/unset_property (more
    files-unchanged metadata publishes), generated-column fills,
    appends/deletes/merges/overwrites — crossing checkpoint
    boundaries — keep history() IDENTICAL to the full doc walk, and
    the final read equal to a python-side replay of the live row
    set."""
    import random

    for seed in (5, 17):
        rng = random.Random(seed)
        t = str(tmp_path / f"prop15_{seed}")
        tl.commit(
            spark, spark.range(6).select(F.col("id").alias("k")), t
        )
        base = 6

        def cur_cols():
            doc = tl._version_doc(spark, t, tl.current_version(spark, t))
            return [n for n, _ in tl._schema_shape(doc["schema"])]

        def frame(lo, hi):
            df = spark.range(lo, hi).select(F.col("id").alias("k"))
            for c in cur_cols():
                if c != "k":
                    df = df.withColumn(c, (F.col("k") * 2.0))
            return df.select(*cur_cols())

        while (tl.current_version(spark, t) or 0) < 14:
            op = rng.choice(
                ["append", "append", "delete", "overwrite", "merge",
                 "evolve", "generated", "property"]
            )
            if op == "evolve" and "x1" not in cur_cols():
                tl.commit(
                    spark,
                    spark.range(base, base + 2).select(
                        F.col("id").alias("k"),
                        (F.col("id") * 2.0).alias("x1"),
                    ),
                    t,
                    merge_schema=True,
                )
                base += 2
            elif op == "generated" and "x1" in cur_cols():
                doc = tl._version_doc(
                    spark, t, tl.current_version(spark, t)
                )
                if "x1" in (doc.get("generated") or {}):
                    tl.drop_generated(spark, t, "x1")
                else:
                    tl.set_generated(spark, t, "x1", "k * 2.0")
            elif op == "property":
                props = tl.table_properties(spark, t)
                if "owner" in props:
                    tl.unset_property(spark, t, "owner")
                else:
                    tl.set_property(spark, t, "owner", f"seed{seed}")
            elif op == "append":
                tl.commit(spark, frame(base, base + 3), t)
                base += 3
            elif op == "delete":
                tl.delete_rows(
                    spark, t, F.col("k") % rng.choice([2, 3, 5]) == 0
                )
            elif op == "overwrite":
                # keeps the CURRENT column set — the stream pins the
                # newest shape, older versions stay additive subsets
                tl.commit(spark, frame(base, base + 4), t,
                          mode="overwrite")
                base += 4
            elif op == "merge":
                cur_rows = sorted(
                    r.k for r in tl.read_version(spark, t).collect()
                )
                upd = rng.choice(cur_rows) if cur_rows else base + 1
                tl.merge_rows(
                    spark, t,
                    frame(0, 2).select(
                        F.lit(int(upd)).alias("k"),
                        *[
                            (F.lit(int(upd)) * 2.0).alias(c)
                            for c in cur_cols()
                            if c != "k"
                        ],
                    ).limit(1).unionByName(
                        frame(base, base + 1)
                    ),
                    ["k"],
                )
                base += 1
        cur = tl.current_version(spark, t)
        assert tl.latest_checkpoint_version(spark, t) == 10

        fast = tl.history(spark, t)
        orig = tl._log_maxima
        try:
            tl._log_maxima = lambda s, tb: (orig(s, tb)[0], [])
            slow = tl.history(spark, t)
        finally:
            tl._log_maxima = orig
        assert fast == slow

        # generated invariant: wherever x1 exists and is non-null it
        # equals k * 2 (fills and gates agreed through every publish)
        out = tl.read_version(spark, t)
        if "x1" in out.columns:
            assert (
                out.where(
                    F.col("x1").isNotNull()
                    & (F.col("x1") != F.col("k") * 2.0)
                ).count()
                == 0
            )


def test_optimize_rebase_across_evolved_append(spark, tmp_path, monkeypatch):
    """r15 claim made executable: an OPTIMIZE racing an ADDITIVE-
    EVOLUTION append rebases onto the head's EVOLVED schema — the
    rewritten old-shape files NULL-fill the new column by name."""
    t = str(tmp_path / "opt_evo_race")
    tl.commit(
        spark,
        spark.range(50).select(F.col("id").alias("k")).repartition(4),
        t,
    )  # v0
    orig = tl._write_log_doc_exclusive
    state = {"raced": False}

    def racy(s, table_, name, doc):
        if not state["raced"] and table_ == t and name.startswith("v"):
            state["raced"] = True
            monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
            tl.commit(
                spark,
                spark.createDataFrame([(100, 7.5)], "k long, w double"),
                t,
                merge_schema=True,
            )  # the winner: v1, evolved
            monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy)
        return orig(s, table_, name, doc)

    monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy)
    rep = tl.optimize(spark, t, target_bytes=1 << 20)
    monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
    assert state["raced"] and rep["version"] == 2, rep
    out = tl.read_version(spark, t)
    assert out.columns == ["k", "w"]  # the head's evolved schema
    got = {r["k"]: r["w"] for r in out.collect()}
    assert len(got) == 51 and got[100] == 7.5
    assert all(got[i] is None for i in range(50))  # NULL-filled rewrite


def test_commit_rebase_reenforces_interleaved_generated(
    spark, tmp_path, monkeypatch
):
    """r15 claim made executable: a blind append racing a concurrent
    set_generated re-enforces the NEW expression on its already-
    written files — disagreeing rows refuse the rebase, agreeing rows
    land."""
    t = str(tmp_path / "gen_race")
    tl.commit(
        spark,
        spark.createDataFrame([(1, 2.0)], "k long, k2 double"),
        t,
    )  # v0 (k2 == k * 2 — the future expression holds)
    orig = tl._write_log_doc_exclusive

    def install(state):
        def racy(s, table_, name, doc):
            if not state["raced"] and table_ == t and name.startswith("v"):
                state["raced"] = True
                monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
                tl.set_generated(spark, t, "k2", "k * 2.0")
                monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy)
            return orig(s, table_, name, doc)

        monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy)

    # disagreeing write: the interleaved set_generated must refuse it
    state = {"raced": False}
    install(state)
    with pytest.raises(ValueError, match="GENERATED"):
        tl.commit(
            spark,
            spark.createDataFrame([(5, 99.0)], "k long, k2 double"),
            t,
        )
    monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
    assert state["raced"]
    cur = tl.current_version(spark, t)
    assert tl._version_doc(spark, t, cur).get("generated") == {
        "k2": "k * 2.0"
    }
    assert tl.read_version(spark, t).count() == 1  # nothing landed

    # agreeing write under the same race lands via rebase
    tl.drop_generated(spark, t, "k2")
    state = {"raced": False}
    install(state)
    rep = tl.commit(
        spark,
        spark.createDataFrame([(5, 10.0)], "k long, k2 double"),
        t,
    )
    monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
    assert state["raced"]
    got = {r["k"]: r["k2"] for r in tl.read_version(spark, t).collect()}
    assert got == {1: 2.0, 5: 10.0}
    assert tl._version_doc(spark, t, rep["version"]).get("generated") == {
        "k2": "k * 2.0"
    }  # the interleaved metadata carried into the rebased publish


def test_optimize_hilbert_curve(spark, tmp_path):
    """r15 — OPTIMIZE ... curve='hilbert': content-identical rewrite
    whose stats-pruned reads skip files on BOTH clustered columns."""
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    t = str(tmp_path / "hil_tbl")
    tl.commit(
        spark,
        orders.select("o_orderkey", "o_custkey").repartition(4),
        t,
        stats_cols=["o_orderkey", "o_custkey"],
    )
    opt = tl.optimize(
        spark, t, target_bytes=4096,
        zorder_by=["o_orderkey", "o_custkey"], curve="hilbert",
    )
    assert opt["version"] == 1 and opt["n_output_files"] >= 4, opt
    # content identity
    assert (
        tl.read_version(spark, t).count() == orders.count()
    )
    mx = orders.agg(F.max("o_orderkey")).first()[0]
    for col, cut in (("o_orderkey", mx // 4), ("o_custkey", 50)):
        pruned = tl.read_version(spark, t, prune=[(col, "<=", cut)])
        n_read = pruned.select(F.input_file_name()).distinct().count()
        assert n_read < opt["n_output_files"], (col, n_read, opt)
        assert (
            pruned.where(F.col(col) <= cut).count()
            == orders.where(F.col(col) <= cut).count()
        )
    with pytest.raises(ValueError, match="curve"):
        tl.optimize(spark, t, zorder_by=["o_orderkey"], curve="peano")
    # r16 (ADVICE r15): a non-default curve with no clustering columns
    # must refuse loudly, not fall through to an arrival-order rewrite
    with pytest.raises(ValueError, match="zorder_by"):
        tl.optimize(spark, t, curve="hilbert")


def test_persisted_clustering_keys(spark, tmp_path):
    """X159 — Delta liquid clustering's CLUSTER BY as table
    properties: a bare optimize() consumes cluster.by/cluster.curve;
    explicit args win; zorder_by=[] opts out; the policy follows a
    column rename and blocks dropping a clustering key."""
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    t = str(tmp_path / "liq_tbl")
    tl.commit(
        spark,
        orders.select("o_orderkey", "o_custkey").repartition(4),
        t,
        stats_cols=["o_orderkey", "o_custkey"],
    )
    with pytest.raises(ValueError, match="invalid value"):
        tl.set_property(spark, t, "cluster.curve", "peano")
    with pytest.raises(ValueError, match="invalid value"):
        tl.set_property(spark, t, "cluster.by", " , ")
    tl.set_property(spark, t, "cluster.by", "o_orderkey,o_custkey")
    tl.set_property(spark, t, "cluster.curve", "hilbert")
    # a BARE optimize re-clusters by the persisted policy
    opt = tl.optimize(spark, t, target_bytes=4096)
    assert opt["n_output_files"] >= 3, opt
    mx = orders.agg(F.max("o_orderkey")).first()[0]
    for col, cut in (("o_orderkey", mx // 4), ("o_custkey", 50)):
        pruned = tl.read_version(spark, t, prune=[(col, "<=", cut)])
        n_read = pruned.select(F.input_file_name()).distinct().count()
        assert n_read < opt["n_output_files"], (col, n_read, opt)
    # explicit opt-out: zorder_by=[] is a plain compaction, no raise
    # even though the property names a hilbert curve
    tl.optimize(spark, t, target_bytes=1 << 20, zorder_by=[])
    # the policy follows a rename...
    tl.rename_column(spark, t, "o_custkey", "cust")
    assert tl.table_properties(spark, t)["cluster.by"] == "o_orderkey,cust"
    opt = tl.optimize(spark, t, target_bytes=4096)
    assert opt["n_output_files"] >= 3
    pruned = tl.read_version(spark, t, prune=[("cust", "<=", 50)])
    assert (
        pruned.select(F.input_file_name()).distinct().count()
        < opt["n_output_files"]
    )
    # ...and blocks dropping a clustering key until unset
    with pytest.raises(ValueError, match="cluster.by"):
        tl.drop_column(spark, t, "cust")
    tl.unset_property(spark, t, "cluster.by")
    tl.drop_column(spark, t, "cust")
    assert tl.read_version(spark, t).columns == ["o_orderkey"]


def test_optimize_incremental_clustering(spark, tmp_path):
    """X161 — incremental clustered OPTIMIZE (Delta's incremental
    liquid clustering): under an unchanged policy, a second optimize
    rewrites ONLY files added since the last clustered rewrite; the
    previously-clustered files carry BYTE-IDENTICAL (same paths, same
    modification times); pruned reads keep skipping across the merged
    layout; and a third bare call with nothing new is FREE (no
    publish)."""
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    t = str(tmp_path / "inc_tbl")
    half = orders.where(F.col("o_orderkey") % 2 == 0)
    rest = orders.where(F.col("o_orderkey") % 2 == 1)
    tl.commit(
        spark,
        half.select("o_orderkey", "o_custkey").repartition(4),
        t, stats_cols=["o_orderkey", "o_custkey"],
    )
    tl.set_property(spark, t, "cluster.by", "o_orderkey,o_custkey")
    opt1 = tl.optimize(spark, t, target_bytes=4096)           # full
    assert opt1["n_output_files"] >= 3 and opt1["n_clustered_carried"] == 0
    doc1 = tl._version_doc(spark, t, opt1["version"])
    assert doc1["clustered"]["by"] == ["o_orderkey", "o_custkey"]
    clustered_files = set(doc1["clustered"]["files"])
    assert clustered_files == set(doc1["files"])
    fs, _ = tl._fs(spark, t)
    mtimes_before = {
        f: fs.getFileStatus(tl._path(spark, f)).getModificationTime()
        for f in clustered_files
    }
    # append new data, then a bare optimize: rewrite ∝ new data
    tl.commit(
        spark,
        rest.select("o_orderkey", "o_custkey").repartition(3),
        t, stats_cols=["o_orderkey", "o_custkey"],
    )
    opt2 = tl.optimize(spark, t, target_bytes=4096)
    assert opt2["n_clustered_carried"] == len(clustered_files), opt2
    assert opt2["n_input_files"] == 3, opt2  # only the appended files
    doc2 = tl._version_doc(spark, t, opt2["version"])
    # carried files: same paths, same bytes on disk (never rewritten)
    assert clustered_files < set(doc2["files"])
    for f in clustered_files:
        assert (
            fs.getFileStatus(tl._path(spark, f)).getModificationTime()
            == mtimes_before[f]
        ), f"clustered file rewritten: {f}"
    # content identity across the merged layout
    assert tl.read_version(spark, t).count() == orders.count()
    # carried stats survive: pruned reads skip files in BOTH strata
    # (with this few files the z-split lands on the custkey bits, so
    # prune on that dimension)
    mx = orders.agg(F.max("o_custkey")).first()[0]
    cut = int(mx * 0.25)
    pruned = tl.read_version(spark, t, prune=[("o_custkey", "<=", cut)])
    n_read = pruned.select(F.input_file_name()).distinct().count()
    assert n_read < len(doc2["files"]), (n_read, len(doc2["files"]))
    # prune is file-level skipping — the row filter on top is exact
    assert (
        pruned.where(F.col("o_custkey") <= cut).count()
        == orders.where(F.col("o_custkey") <= cut).count()
    )
    # third bare call: nothing new — FREE, no version published
    head = tl.current_version(spark, t)
    opt3 = tl.optimize(spark, t, target_bytes=4096)
    assert opt3["n_output_files"] == 0 and opt3["version"] == head
    assert opt3["n_clustered_carried"] == len(doc2["files"])
    assert tl.current_version(spark, t) == head
    # full=True forces the whole-table rewrite
    opt4 = tl.optimize(spark, t, target_bytes=4096, full=True)
    assert opt4["n_clustered_carried"] == 0
    assert opt4["n_input_files"] == len(doc2["files"])
    assert tl.read_version(spark, t).count() == orders.count()


def test_optimize_incremental_policy_change_and_dv(spark, tmp_path):
    """X161 guards: a policy change (columns or curve) voids the
    marker (full rewrite); a DV touching a clustered file forces that
    file back into the rewrite set and the published version carries
    no vectors."""
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    t = str(tmp_path / "inc_guard")
    tl.commit(
        spark,
        orders.select("o_orderkey", "o_custkey").repartition(4),
        t, stats_cols=["o_orderkey"],
    )
    opt1 = tl.optimize(
        spark, t, target_bytes=4096, zorder_by=["o_orderkey"],
    )
    assert opt1["n_clustered_carried"] == 0
    # curve change → full rewrite even though columns match
    opt2 = tl.optimize(
        spark, t, target_bytes=4096, zorder_by=["o_orderkey"],
        curve="hilbert",
    )
    assert opt2["n_clustered_carried"] == 0
    assert opt2["n_input_files"] == opt1["n_output_files"]
    # same policy again → free no-op
    opt3 = tl.optimize(
        spark, t, target_bytes=4096, zorder_by=["o_orderkey"],
        curve="hilbert",
    )
    assert opt3["n_output_files"] == 0
    # DV-delete rows living in SOME clustered files, then re-optimize:
    # touched files are rewritten (they leave the carry set), the
    # published version carries no dv, and the deleted rows are gone
    n_before = tl.read_version(spark, t).count()
    lo = orders.agg(F.min("o_orderkey")).first()[0]
    rep = tl.delete_rows(spark, t, F.col("o_orderkey") == lo)
    assert rep["n_deleted"] >= 1
    opt4 = tl.optimize(
        spark, t, target_bytes=4096, zorder_by=["o_orderkey"],
        curve="hilbert",
    )
    assert 0 < opt4["n_clustered_carried"] < opt2["n_output_files"], opt4
    assert opt4["n_input_files"] >= 1
    doc4 = tl._version_doc(spark, t, opt4["version"])
    assert not doc4.get("dv")
    assert tl.read_version(spark, t).count() == n_before - rep["n_deleted"]
    got = tl.read_version(spark, t).where(F.col("o_orderkey") == lo)
    assert got.count() == 0


def test_delete_rebases_across_blind_appends(spark, tmp_path, monkeypatch):
    """X162 — Delta's WriteSerializable matrix for DELETE vs blind
    append: a DV delete losing the publish slot to a concurrent blind
    append rebases onto the new head (its vector targets base files;
    the append only added). The appended rows survive even when they
    match the predicate — the delete serializes BEFORE the append
    (the documented phantom-row trade). A race lost to another
    delete still refuses."""
    t = str(tmp_path / "del_race")
    tl.commit(
        spark,
        spark.range(100).select(F.col("id").alias("k")).repartition(4),
        t,
    )  # v0
    orig = tl._write_log_doc_exclusive
    state = {"raced": False}

    def racy(s, table_, name, doc):
        if not state["raced"] and table_ == t and name.startswith("v"):
            state["raced"] = True
            monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
            # the winner appends rows INSIDE the delete's predicate
            tl.commit(
                spark, spark.range(5, 8).select(F.col("id").alias("k")), t
            )  # v1
            monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy)
        return orig(s, table_, name, doc)

    monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy)
    rep = tl.delete_rows(spark, t, F.col("k") < 10)
    monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
    assert state["raced"] and rep["version"] == 2, rep
    assert rep["n_deleted"] == 10
    got = sorted(r["k"] for r in tl.read_version(spark, t).collect())
    # base rows 0..9 deleted; the append's 5,6,7 SURVIVE (phantoms)
    assert got == [5, 6, 7] + list(range(10, 100))
    d2 = tl._version_doc(spark, t, 2)
    assert d2["mode"] == "delete" and d2.get("dv")

    # a race lost to ANOTHER DELETE refuses (vectors matched against
    # different live views)
    state["raced"] = False

    def racy_del(s, table_, name, doc):
        if not state["raced"] and table_ == t and name.startswith("v"):
            state["raced"] = True
            monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
            tl.delete_rows(spark, t, F.col("k") == 99)
            monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy_del)
        return orig(s, table_, name, doc)

    monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy_del)
    with pytest.raises(tl.CommitConflict, match="non-append"):
        tl.delete_rows(spark, t, F.col("k") == 50)
    monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
    # nothing corrupted: the winner's delete is the head
    got = sorted(r["k"] for r in tl.read_version(spark, t).collect())
    assert got == [5, 6, 7] + list(range(10, 99))


def test_merge_rebases_across_blind_appends(spark, tmp_path, monkeypatch):
    """X162 — MERGE vs blind append: same rebase rule; the interleaved
    append's files and stats carry through the merge's head publish;
    a race lost to a rename (schema_change) still refuses."""
    t = str(tmp_path / "mrg_race")
    tl.commit(
        spark,
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        ).repartition(2),
        t,
    )  # v0
    orig = tl._write_log_doc_exclusive
    state = {"raced": False}

    def racy(s, table_, name, doc):
        if not state["raced"] and table_ == t and name.startswith("v"):
            state["raced"] = True
            monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
            tl.commit(
                spark,
                spark.createDataFrame([(9, "z")], "k long, v string"),
                t,
                stats_cols=["k"],
            )  # v1
            monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy)
        return orig(s, table_, name, doc)

    monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy)
    rep = tl.merge_rows(
        spark, t,
        spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string"),
        keys=["k"],
    )
    monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
    assert state["raced"] and rep["version"] == 2, rep
    assert rep["n_deleted"] == 1 and rep["n_inserted"] == 2
    got = {r["k"]: r["v"] for r in tl.read_version(spark, t).collect()}
    # 2 updated, 4 inserted, the raced append's 9 carried through
    assert got == {1: "a", 2: "B", 3: "c", 4: "d", 9: "z"}
    # the interleaved append's stats survive the rebase
    d2 = tl._version_doc(spark, t, 2)
    assert any("k" in s for s in (d2.get("stats") or {}).values())

    # a race lost to a RENAME refuses — the merge's files and vector
    # were written under the old mapping decisions
    state["raced"] = False

    def racy_ren(s, table_, name, doc):
        if not state["raced"] and table_ == t and name.startswith("v"):
            state["raced"] = True
            monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
            tl.rename_column(spark, t, "v", "w")
            monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy_ren)
        return orig(s, table_, name, doc)

    monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy_ren)
    with pytest.raises(tl.CommitConflict, match="non-append"):
        tl.merge_rows(
            spark, t,
            spark.createDataFrame([(1, "A")], "k long, v string"),
            keys=["k"],
        )
    monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
    assert tl.read_version(spark, t).columns == ["k", "w"]


def test_optimize_min_file_bytes_scopes_plain_compaction(spark, tmp_path):
    """X164 — opt-in incremental PLAIN compaction (Delta's OPTIMIZE
    minFileSize candidate selection): files >= min_file_bytes carry
    byte-identical with their stats; only the small-file tail is
    compacted; fewer than two candidates is a free no-op; DV-touched
    files are always rewritten; default (None) keeps the full
    rewrite; min_file_bytes + zorder_by refuses."""
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    t = str(tmp_path / "mfb_tbl")
    big = orders.select("o_orderkey", "o_custkey").coalesce(1)
    tl.commit(spark, big, t, stats_cols=["o_orderkey"])       # v0: 1 big file
    tl.commit(spark, orders.limit(40).select("o_orderkey", "o_custkey")
              .repartition(4), t, stats_cols=["o_orderkey"])  # v1: 4 small
    doc1 = tl._version_doc(spark, t, 1)
    fs, _ = tl._fs(spark, t)
    sizes = {f: fs.getFileStatus(tl._path(spark, f)).getLen()
             for f in doc1["files"]}
    thr = max(sizes.values())  # only the big v0 file is >= thr
    mt_big = {f: fs.getFileStatus(tl._path(spark, f)).getModificationTime()
              for f, sz in sizes.items() if sz >= thr}
    assert len(mt_big) == 1
    rep = tl.optimize(spark, t, target_bytes=1 << 20, min_file_bytes=thr)
    assert rep["n_compact_carried"] == 1 and rep["n_input_files"] == 4, rep
    for f, m in mt_big.items():
        assert fs.getFileStatus(
            tl._path(spark, f)).getModificationTime() == m
    n_total = orders.count()
    assert tl.read_version(spark, t).count() == n_total + 40
    # carried stats survive for the big file
    d2 = tl._version_doc(spark, t, rep["version"])
    assert any(f in (d2.get("stats") or {}) for f in mt_big)
    # everything target-sized now: free no-op (no publish)
    head = tl.current_version(spark, t)
    rep2 = tl.optimize(spark, t, target_bytes=1 << 20, min_file_bytes=1024)
    assert rep2["n_output_files"] == 0 and tl.current_version(spark, t) == head
    # one lone small file + big carries: still a no-op (pure churn)
    tl.commit(spark, orders.limit(5).select("o_orderkey", "o_custkey")
              .coalesce(1), t)
    rep3 = tl.optimize(spark, t, target_bytes=1 << 20, min_file_bytes=1024)
    assert rep3["n_output_files"] == 0, rep3
    # a DV forces the touched big file back into the rewrite
    lo = orders.agg(F.min("o_orderkey")).first()[0]
    tl.delete_rows(spark, t, F.col("o_orderkey") == lo)
    rep4 = tl.optimize(spark, t, target_bytes=1 << 20,
                       min_file_bytes=1 << 30)
    assert rep4["n_output_files"] >= 1, rep4
    assert not tl._version_doc(spark, t, rep4["version"]).get("dv")
    assert tl.read_version(spark, t).where(
        F.col("o_orderkey") == lo).count() == 0
    # validation
    with pytest.raises(ValueError, match="PLAIN compaction only"):
        tl.optimize(spark, t, min_file_bytes=1024, zorder_by=["o_orderkey"])
    with pytest.raises(ValueError, match="positive"):
        tl.optimize(spark, t, min_file_bytes=0)


def test_clone_carries_widened_and_clustered(spark, tmp_path):
    """Self-review r17: a shallow clone references the SOURCE's files
    — the widened record (and its 'widen' reader stamp) and the X161
    clustered marker must ride along, or the clone under-gates old
    readers and pays a full re-cluster on its first bare optimize."""
    t = str(tmp_path / "cw_src")
    tl.commit(spark, spark.createDataFrame([(1, 2.5)], "k int, v float"), t)
    tl.commit(spark, spark.createDataFrame([(2**40, 3.5)], "k bigint, v double"),
              t, merge_schema=True)
    tl.set_property(spark, t, "cluster.by", "k")
    tl.optimize(spark, t, target_bytes=1 << 20)
    c = str(tmp_path / "cw_dst")
    tl.clone(spark, t, c)
    d0 = tl._version_doc(spark, c, 0)
    assert d0.get("widened") == {"k": ["int", "bigint"], "v": ["float", "double"]}
    assert "widen" in (d0.get("reader_requires") or [])
    assert d0.get("clustered"), "clone lost the clustered marker"
    # the clone's first bare optimize is incremental (nothing new -> free)
    rep = tl.optimize(spark, c, target_bytes=1 << 20)
    assert rep["n_output_files"] == 0 and rep["n_clustered_carried"] >= 1, rep
    assert sorted(r["k"] for r in tl.read_version(spark, c).collect()) == [
        1, 2**40
    ]


def test_bloom_policy_on_table_writes(spark, tmp_path):
    """X165 — persisted parquet Bloom-filter policy (the X96 writer as
    table metadata): bloom.cols/bloom.fpp/bloom.ndv properties stamp
    footer Bloom filters on every commit/merge/optimize write —
    presence asserted via the footer-bytes delta against a policy-free
    control write of the same data; equality reads stay exact; the
    policy follows a rename and sheds a dropped column; invalid
    values refuse at set."""
    t = str(tmp_path / "bloom_tbl")
    c = str(tmp_path / "bloom_ctl")
    rows = spark.range(100_000).select(
        (F.col("id") * 7919 % 1_000_003).alias("k"),
        (F.col("id") % 7).alias("v"),
    ).coalesce(1)
    tl.commit(spark, rows, t)                    # v0: policy-free
    tl.set_property(spark, t, "bloom.cols", "k")
    tl.set_property(spark, t, "bloom.ndv", "100000")
    tl.commit(spark, rows, t)                    # v3: bloom-stamped
    tl.commit(spark, rows, c)                    # control, no policy
    fs, _ = tl._fs(spark, t)

    def tot(files):
        return sum(
            fs.getFileStatus(tl._path(spark, f)).getLen() for f in files
        )

    d0 = tl._version_doc(spark, t, 0)["files"]
    d3 = tl._version_doc(spark, t, tl.current_version(spark, t))["files"]
    new = [f for f in d3 if f not in set(d0)]
    ctl = tl._version_doc(spark, c, 0)["files"]
    assert tot(new) > tot(ctl) * 1.1, (
        "bloom-stamped files are not measurably larger than the "
        f"control: {tot(new)} vs {tot(ctl)}"
    )
    # equality read exact across bloom + non-bloom files
    probe = rows.limit(1).collect()[0]["k"]
    got = tl.read_version(spark, t).where(F.col("k") == probe)
    assert got.count() == 2  # the row exists in v0 AND v3 files
    # optimize rewrite keeps the footers (size delta vs control again)
    rep = tl.optimize(spark, t, target_bytes=64 << 20)
    dopt = tl._version_doc(spark, t, rep["version"])["files"]
    assert tot(dopt) > 2 * tot(ctl) * 1.1, (tot(dopt), tot(ctl))
    # the policy follows a rename...
    tl.rename_column(spark, t, "k", "kid")
    assert tl.table_properties(spark, t)["bloom.cols"] == "kid"
    # ...and sheds a dropped column
    tl.drop_column(spark, t, "kid")
    assert "bloom.cols" not in tl.table_properties(spark, t)
    # validation
    with pytest.raises(ValueError, match="invalid value"):
        tl.set_property(spark, t, "bloom.fpp", "1.5")
    with pytest.raises(ValueError, match="invalid value"):
        tl.set_property(spark, t, "bloom.ndv", "0")
    with pytest.raises(ValueError, match="invalid value"):
        tl.set_property(spark, t, "bloom.cols", " , ")


def test_blind_append_survives_deep_race_streak(spark, tmp_path, monkeypatch):
    """r17 concurrency-soak finding: a 5-writer herd with zero
    backoff could lose all retries in a row even though every writer
    would fit. Pin the fix — jittered backoff BEFORE the head re-read
    + a deeper retry budget: a blind append that loses TEN straight
    slot races (an interleaved winner before every attempt) still
    lands, with every interleaved append's rows intact."""
    monkeypatch.setattr(tl, "REBASE_BACKOFF_BASE", 0.001)  # keep it fast
    t = str(tmp_path / "streak")
    tl.commit(spark, spark.range(3).select(F.col("id").alias("k")), t)
    orig = tl._write_log_doc_exclusive
    state = {"steals": 0}

    def racy(s, table_, name, doc):
        if table_ == t and name.startswith("v") and state["steals"] < 10:
            state["steals"] += 1
            n = state["steals"]
            monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
            tl.commit(
                spark,
                spark.range(100 + n, 101 + n).select(F.col("id").alias("k")),
                t,
            )
            monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy)
        return orig(s, table_, name, doc)

    monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy)
    rep = tl.commit(
        spark, spark.range(50, 53).select(F.col("id").alias("k")), t
    )
    monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
    assert state["steals"] == 10
    assert rep["version"] == 11, rep  # v0 + 10 stolen + ours
    got = sorted(r["k"] for r in tl.read_version(spark, t).collect())
    assert got == [0, 1, 2, 50, 51, 52] + list(range(101, 111))
