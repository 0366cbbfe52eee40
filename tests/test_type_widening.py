"""X163 — lossless type widening on the tablelog format (Delta's
type widening): ``commit(merge_schema=True)`` with a column WIDER
along the _WIDENINGS chain (tinyint→smallint→int→bigint,
float→double, {tinyint,smallint,int}→double) widens the DECLARED
schema; old files keep their narrow physical type and every read
path promotes via Spark 4's native parquet type promotion. A
write NARROWER than the declared type casts up at write time
(store-assignment), so new files always store the declared width.
Widened docs stamp the 'widen' reader feature (X160) — an older
build refuses loudly instead of failing mid-scan. Nothing ever
narrows; non-widening retypes keep refusing.

No counterpart in the reference repo (it has no table format); the
public behavior contract is Delta Lake's type-widening documentation.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tableone_pyspark_spark.sources import tablelog as tl


def _widen_table(spark, tmp_path, name="wid_tbl"):
    """v0 int/float rows; v1 widens to bigint/double via an append."""
    t = str(tmp_path / name)
    tl.commit(
        spark,
        spark.createDataFrame([(1, 1.5), (2, 2.5)], "k int, v float"),
        t,
    )
    tl.commit(
        spark,
        spark.createDataFrame([(2**40, 9.5)], "k bigint, v double"),
        t, merge_schema=True,
    )
    return t


def test_evolve_matrix():
    """Unit: the widening matrix — up widens, down keeps declared,
    sideways refuses; the chain is transitive."""
    import json

    # schema-JSON spellings differ from simpleString ones
    _j = {"tinyint": "byte", "smallint": "short", "int": "integer",
          "bigint": "long"}

    def sj(fields):
        return json.dumps(
            {
                "type": "struct",
                "fields": [
                    {"name": n, "type": _j.get(t, t), "nullable": True,
                     "metadata": {}}
                    for n, t in fields
                ],
            }
        )

    ev = tl._evolve_schema(sj([("k", "int")]), sj([("k", "bigint")]))
    assert tl._schema_shape(ev) == [("k", "bigint")]
    ev = tl._evolve_schema(sj([("k", "tinyint")]), sj([("k", "double")]))
    assert tl._schema_shape(ev) == [("k", "double")]
    # narrower write: declared stays
    ev = tl._evolve_schema(sj([("k", "bigint")]), sj([("k", "int")]))
    assert tl._schema_shape(ev) == [("k", "bigint")]
    # bigint→double is lossy past 2^53 — refused
    with pytest.raises(ValueError, match="additive-only"):
        tl._evolve_schema(sj([("k", "bigint")]), sj([("k", "double")]))
    with pytest.raises(ValueError, match="additive-only"):
        tl._evolve_schema(sj([("k", "int")]), sj([("k", "string")]))


def test_widen_batch_time_travel_and_stamps(spark, tmp_path):
    t = _widen_table(spark, tmp_path)
    d1 = tl._version_doc(spark, t, 1)
    assert d1["widened"] == {"k": ["int", "bigint"], "v": ["float", "double"]}
    assert "widen" in d1["reader_requires"]
    # current read: wide schema, old narrow files promoted
    df = tl.read_version(spark, t)
    assert dict(df.dtypes) == {"k": "bigint", "v": "double"}
    assert sorted(r["k"] for r in df.collect()) == [1, 2, 2**40]
    # time travel: v0 still reads at its own narrow declared schema
    v0 = tl.read_version(spark, t, 0)
    assert dict(v0.dtypes) == {"k": "int", "v": "float"}
    assert v0.count() == 2


def test_narrow_write_casts_up_at_write(spark, tmp_path):
    """A post-widening write with the old narrow types is accepted
    under merge_schema and lands as declared-width FILES (no metadata
    change, no growing promotion surface)."""
    t = _widen_table(spark, tmp_path)
    rep = tl.commit(
        spark,
        spark.createDataFrame([(7, 7.5)], "k int, v float"),
        t, merge_schema=True,
    )
    # the new file itself stores bigint/double
    new_files = [f for f in rep["files"] if f not in
                 tl._version_doc(spark, t, 1)["files"]]
    assert new_files
    raw = spark.read.parquet(*new_files)
    assert dict(raw.dtypes) == {"k": "bigint", "v": "double"}
    assert sorted(r["k"] for r in tl.read_version(spark, t).collect()) == [
        1, 2, 7, 2**40
    ]
    # without merge_schema the narrow shape still refuses (strict)
    with pytest.raises(ValueError, match="merge_schema"):
        tl.commit(spark, spark.createDataFrame([(8, 1.0)], "k int, v float"), t)


def test_widen_dv_merge_and_optimize(spark, tmp_path):
    """Row-level ops and maintenance on a widened table: DV delete
    anti-joins across mixed-width files; merge retracts/appends at the
    wide shape; optimize materializes everything at declared width and
    the inherited widened record stays (conservative — restore can
    re-expose narrow files)."""
    t = _widen_table(spark, tmp_path)
    rep = tl.delete_rows(spark, t, F.col("k") == 2)
    assert rep["n_deleted"] == 1
    assert sorted(r["k"] for r in tl.read_version(spark, t).collect()) == [
        1, 2**40
    ]
    rep = tl.merge_rows(
        spark, t,
        spark.createDataFrame([(1, 100.0), (3, 3.5)], "k bigint, v double"),
        keys=["k"],
    )
    assert rep["n_deleted"] == 1 and rep["n_inserted"] == 2
    got = {r["k"]: r["v"] for r in tl.read_version(spark, t).collect()}
    assert got == {1: 100.0, 3: 3.5, 2**40: 9.5}
    opt = tl.optimize(spark, t, target_bytes=1 << 20)
    doc = tl._version_doc(spark, t, opt["version"])
    assert doc.get("widened")  # inherited through the rewrite
    assert {r["k"]: r["v"] for r in tl.read_version(spark, t).collect()} == got


def test_widen_rename_drop_restore_interplay(spark, tmp_path):
    t = _widen_table(spark, tmp_path)
    tl.rename_column(spark, t, "k", "kid")
    doc = tl._version_doc(spark, t, tl.current_version(spark, t))
    assert doc["widened"] == {
        "kid": ["int", "bigint"], "v": ["float", "double"]
    }
    assert sorted(r["kid"] for r in tl.read_version(spark, t).collect()) == [
        1, 2, 2**40
    ]
    tl.drop_column(spark, t, "v")
    doc = tl._version_doc(spark, t, tl.current_version(spark, t))
    assert doc["widened"] == {"kid": ["int", "bigint"]}
    # restore to the pre-rename widened version: reads stay exact
    tl.restore(spark, t, 1)
    df = tl.read_version(spark, t)
    assert dict(df.dtypes) == {"k": "bigint", "v": "double"}
    assert sorted(r["k"] for r in df.collect()) == [1, 2, 2**40]
