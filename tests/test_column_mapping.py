"""X157 — column mapping on the tablelog format (Delta's column
mapping, the mechanism behind ``ALTER TABLE RENAME/DROP COLUMN``):
data files store a column's stable PHYSICAL name (pinned at creation,
never changed afterwards); every version doc carries a sparse
``colmap`` {logical: physical} and reads project physical→logical.
Rename and drop are then METADATA-ONLY publishes — one doc write,
whatever the table size — and a dropped column's physical name is
RETIRED so a later re-add can never resurrect its data.

Covers: read-back + physical stability across pre/post-rename files,
stats re-keying (prune on the new name), DV/merge/optimize after a
rename, time travel / clone / restore carrying per-version maps,
drop + re-add no-resurrection, and the guard set (case-variant
targets, constraint/generated references, last column).

No counterpart in the reference repo (it has no table format); the
public behavior contract is Delta Lake's column-mapping
documentation (docs.delta.io delta-column-mapping).
"""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from tableone_pyspark_spark.sources import tablelog as tl


@pytest.fixture()
def renamed_tbl(spark, tmp_path):
    """v0 = (k, v, price) with stats; v1 = rename price→cost; v2 =
    post-rename append. The canonical mixed-file table: one file set
    written under the original name, one under the new logical name —
    both store the SAME physical name."""
    t = str(tmp_path / "cm_tbl")
    tl.commit(
        spark,
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "k long, v string, price double",
        ),
        t,
        stats_cols=["k", "price"],
    )
    tl.rename_column(spark, t, "price", "cost")
    tl.commit(
        spark,
        spark.createDataFrame([(4, "d", 40.0)], "k long, v string, cost double"),
        t,
        stats_cols=["k", "cost"],
    )
    return t


def _cost_by_k(df):
    return {r["k"]: r["cost"] for r in df.collect()}


def test_rename_readback_and_physical_stability(spark, renamed_tbl):
    t = renamed_tbl
    assert sorted(tl.read_version(spark, t).columns) == ["cost", "k", "v"]
    assert _cost_by_k(tl.read_version(spark, t)) == {
        1: 10.0, 2: 20.0, 3: 30.0, 4: 40.0,
    }
    # EVERY data file — including the post-rename append — stores the
    # creation-time physical name; the logical name never reaches disk
    import pyarrow.parquet as pq

    names = set()
    for f in glob.glob(f"{t}/data/*/*.parquet"):
        names |= set(pq.read_schema(f).names)
    assert "price" in names and "cost" not in names, names
    # time travel to v0 shows the OLD logical name with the same data
    v0 = tl.read_version(spark, t, 0)
    assert "price" in v0.columns
    assert {r["k"]: r["price"] for r in v0.collect()} == {
        1: 10.0, 2: 20.0, 3: 30.0,
    }


def test_rename_rekeys_stats_and_prunes(spark, renamed_tbl):
    t = renamed_tbl
    # stats recorded pre-rename were re-keyed; the post-rename append
    # recorded stats under the new name — prune= works on 'cost'
    # across BOTH file generations and loses nothing
    pr = tl.read_version(spark, t, prune=[("cost", ">=", 25.0)])
    assert {r["k"] for r in pr.where(F.col("cost") >= 25.0).collect()} == {
        3, 4,
    }
    doc = tl._version_doc(spark, t, tl.current_version(spark, t))
    assert all(
        "cost" in st and "price" not in st
        for st in doc["stats"].values()
    ), doc["stats"]


def test_dv_merge_optimize_after_rename(spark, renamed_tbl):
    t = renamed_tbl
    tl.delete_rows(spark, t, F.col("cost") == 20.0)  # v3, positional DV
    rep = tl.merge_rows(
        spark,
        t,
        spark.createDataFrame(
            [(1, "a", 11.0), (9, "z", 90.0)], "k long, v string, cost double"
        ),
        ["k"],
    )  # v4: update k=1, insert k=9 — new files store the physical name
    assert rep == {"version": 4, "n_deleted": 1, "n_inserted": 2}
    assert _cost_by_k(tl.read_version(spark, t)) == {
        1: 11.0, 3: 30.0, 4: 40.0, 9: 90.0,
    }
    # optimize accepts the LOGICAL name for zorder and re-records
    # logical-keyed stats over the physical-named rewrite
    opt = tl.optimize(
        spark, t, target_bytes=4096, zorder_by=["k", "cost"],
        stats_cols=["k", "cost"],
    )
    assert opt["version"] == 5 and opt["n_output_files"] >= 1
    assert _cost_by_k(tl.read_version(spark, t)) == {
        1: 11.0, 3: 30.0, 4: 40.0, 9: 90.0,
    }


def test_clone_restore_and_datasource_carry_mapping(spark, renamed_tbl, tmp_path):
    t = renamed_tbl
    c = str(tmp_path / "cm_clone")
    tl.clone(spark, t, c)
    assert _cost_by_k(tl.read_version(spark, c)) == {
        1: 10.0, 2: 20.0, 3: 30.0, 4: 40.0,
    }
    # batch time travel: v0 = the OLD name
    v0 = tl.read_version(spark, t, 0)
    assert "price" in v0.columns and v0.count() == 3
    # restore to v0 re-publishes the pre-rename mapping verbatim
    tl.restore(spark, t, 0)
    cur = tl.read_version(spark, t)
    assert "price" in cur.columns and cur.count() == 3


def test_drop_then_readd_never_resurrects(spark, tmp_path):
    t = str(tmp_path / "cm_drop")
    tl.commit(
        spark,
        spark.createDataFrame(
            [(1, "OLD1"), (2, "OLD2")], "k long, v string"
        ),
        t,
    )
    tl.drop_column(spark, t, "v")
    assert tl.read_version(spark, t).columns == ["k"]
    # the physical name is retired: re-adding logical 'v' maps to a
    # FRESH physical, so the old files' bytes stay invisible
    tl.commit(
        spark,
        spark.createDataFrame([(3, "NEW")], "k long, v string"),
        t,
        merge_schema=True,
    )
    got = {r["k"]: r["v"] for r in tl.read_version(spark, t).collect()}
    assert got == {1: None, 2: None, 3: "NEW"}, got
    doc = tl._version_doc(spark, t, tl.current_version(spark, t))
    assert doc["colmap"]["v"] != "v" and "v" in doc["retired"]
    # pre-drop versions still time-travel with the column's data
    v0 = tl.read_version(spark, t, 0)
    assert {r["k"]: r["v"] for r in v0.collect()} == {1: "OLD1", 2: "OLD2"}


def test_overwrite_keeps_mapping_and_retires_dropped(spark, renamed_tbl):
    t = renamed_tbl
    # an overwrite carrying 'cost' keeps its physical name (rename
    # durability) and retires the physicals of columns it drops
    tl.commit(
        spark,
        spark.createDataFrame([(8, 80.0)], "k long, cost double"),
        t,
        mode="overwrite",
    )
    assert _cost_by_k(tl.read_version(spark, t)) == {8: 80.0}
    import pyarrow.parquet as pq

    doc = tl._version_doc(spark, t, tl.current_version(spark, t))
    assert doc["colmap"] == {"cost": "price"}
    assert "v" in doc.get("retired", [])
    last = sorted(doc["files"])[0]
    assert "price" in pq.read_schema(last).names


def test_rename_guards(spark, tmp_path):
    t = str(tmp_path / "cm_guard")
    tl.commit(
        spark,
        spark.createDataFrame(
            [(1, 2.0, 4.0)], "k long, a double, total double"
        ),
        t,
    )
    with pytest.raises(ValueError, match="no such column"):
        tl.rename_column(spark, t, "nope", "x")
    with pytest.raises(ValueError, match="no-op"):
        tl.rename_column(spark, t, "a", "a")
    with pytest.raises(ValueError, match="already exists"):
        tl.rename_column(spark, t, "a", "K")  # case-variant of k
    with pytest.raises(ValueError, match="invalid column name"):
        tl.rename_column(spark, t, "a", "b`c")
    # an expression pinning the name refuses the rename...
    tl.set_constraint(spark, t, "pos_a", "a >= 0")
    with pytest.raises(ValueError, match="pos_a"):
        tl.rename_column(spark, t, "a", "amount")
    tl.drop_constraint(spark, t, "pos_a")
    tl.set_generated(spark, t, "total", "a * 2")
    with pytest.raises(ValueError, match="generated column"):
        tl.rename_column(spark, t, "a", "amount")
    # ...while renaming the generated TARGET itself just re-keys it
    tl.rename_column(spark, t, "total", "twice")
    doc = tl._version_doc(spark, t, tl.current_version(spark, t))
    assert doc["generated"] == {"twice": "a * 2"}
    # the re-keyed expression still fills an omitting append
    tl.commit(spark, spark.createDataFrame([(2, 3.0)], "k long, a double"), t)
    got = {r["k"]: r["twice"] for r in tl.read_version(spark, t).collect()}
    assert got == {1: 4.0, 2: 6.0}


def test_drop_guards(spark, tmp_path):
    t = str(tmp_path / "cm_dropg")
    tl.commit(
        spark,
        spark.createDataFrame(
            [(1, 2.0, 4.0)], "k long, a double, total double"
        ),
        t,
    )
    with pytest.raises(ValueError, match="no such column"):
        tl.drop_column(spark, t, "nope")
    tl.set_generated(spark, t, "total", "a * 2")
    # an INPUT of a generated expression cannot be dropped...
    with pytest.raises(ValueError, match="generated column"):
        tl.drop_column(spark, t, "a")
    # ...dropping the generated TARGET drops its expression with it
    tl.drop_column(spark, t, "total")
    doc = tl._version_doc(spark, t, tl.current_version(spark, t))
    assert "generated" not in doc
    tl.drop_column(spark, t, "a")
    with pytest.raises(ValueError, match="last column"):
        tl.drop_column(spark, t, "k")


def test_rename_chains_and_physical_name_shadowing(spark, tmp_path):
    """The subtle mapping cases: (a) rename chains keep resolving
    through the ORIGINAL physical; (b) a logical name that equals
    ANOTHER column's physical name stays unambiguous (reads select
    physical names, which are unique by construction); (c) re-adding
    a logical name whose identity physical is occupied gets a
    suffixed physical."""
    t = str(tmp_path / "cm_chain")
    tl.commit(
        spark,
        spark.createDataFrame([(1, 10.0)], "a long, b double"),
        t,
    )
    tl.rename_column(spark, t, "a", "x")   # physical of x stays 'a'
    tl.rename_column(spark, t, "b", "a")   # logical 'a' = physical of x!
    got = tl.read_version(spark, t).collect()[0]
    assert (got["x"], got["a"]) == (1, 10.0)
    doc = tl._version_doc(spark, t, tl.current_version(spark, t))
    assert doc["colmap"] == {"x": "a", "a": "b"}
    # appends still write the ORIGINAL physicals
    tl.commit(spark, spark.createDataFrame([(2, 20.0)], "x long, a double"), t)
    import pyarrow.parquet as pq

    names = set()
    import glob as _glob

    for f in _glob.glob(f"{t}/data/*/*.parquet"):
        names |= set(pq.read_schema(f).names)
    assert names == {"a", "b"}, names
    got = {r["x"]: r["a"] for r in tl.read_version(spark, t).collect()}
    assert got == {1: 10.0, 2: 20.0}
    # (c) a merge_schema add of logical 'b' (= x's retired-free but
    # OCCUPIED physical 'b' of column a) must map to a fresh physical
    tl.commit(
        spark,
        spark.createDataFrame([(3, 30.0, "s")], "x long, a double, b string"),
        t,
        merge_schema=True,
    )
    doc = tl._version_doc(spark, t, tl.current_version(spark, t))
    assert doc["colmap"]["b"].startswith("b__c"), doc["colmap"]
    got = {r["x"]: (r["a"], r["b"]) for r in tl.read_version(spark, t).collect()}
    assert got == {1: (10.0, None), 2: (20.0, None), 3: (30.0, "s")}, got


def test_colmap_differential_fuzz(spark, tmp_path):
    """Model-based differential fuzz (the X131 cadence for new
    kernels): seeded random sequences of append / rename / drop /
    add-column / overwrite against a driver-side dict model — after
    every op, read_version must equal the model exactly (names AND
    values), and a final time-travel sweep must reproduce each
    version's snapshot. Catches any seam where a write landed under
    the wrong physical name or a read mapped the wrong direction."""
    import random

    for seed in (7, 23):
        rng = random.Random(seed)
        t = str(tmp_path / f"cm_fuzz_{seed}")
        cols = ["c0", "c1"]  # model: list of logical names
        next_key = [0]

        def mkrows(n, cols_):
            rows = []
            for _ in range(n):
                rows.append(
                    tuple([next_key[0]] + [
                        float(rng.randint(0, 99)) for _ in cols_[1:]
                    ])
                )
                next_key[0] += 1
            return rows

        def schema_of(cols_):
            return ", ".join(
                [f"{cols_[0]} long"] + [f"{c} double" for c in cols_[1:]]
            )

        model: dict[int, dict] = {}  # key -> {col: value}
        snapshots = []  # (version, cols, model copy)

        rows = mkrows(3, cols)
        tl.commit(spark, spark.createDataFrame(rows, schema_of(cols)), t)
        for r in rows:
            model[r[0]] = dict(zip(cols, r))
        v = 0
        snapshots.append((v, list(cols), {k: dict(m) for k, m in model.items()}))

        n_cols = [2]  # fresh-name counter
        for _ in range(10):
            op = rng.choice(["append", "rename", "drop", "add", "overwrite"])
            if op == "append":
                rows = mkrows(2, cols)
                tl.commit(
                    spark, spark.createDataFrame(rows, schema_of(cols)), t
                )
                for r in rows:
                    model[r[0]] = dict(zip(cols, r))
            elif op == "rename" and len(cols) >= 2:
                old = rng.choice(cols[1:])
                n_cols[0] += 1
                new = f"c{n_cols[0]}"
                tl.rename_column(spark, t, old, new)
                cols[cols.index(old)] = new
                for m in model.values():
                    m[new] = m.pop(old)
            elif op == "drop" and len(cols) >= 3:
                victim = rng.choice(cols[1:])
                tl.drop_column(spark, t, victim)
                cols.remove(victim)
                for m in model.values():
                    m.pop(victim)
            elif op == "add":
                n_cols[0] += 1
                new = f"c{n_cols[0]}"
                newcols = cols + [new]
                rows = mkrows(2, newcols)
                tl.commit(
                    spark,
                    spark.createDataFrame(rows, schema_of(newcols)),
                    t,
                    merge_schema=True,
                )
                for m in model.values():
                    m[new] = None
                for r in rows:
                    model[r[0]] = dict(zip(newcols, r))
                cols.append(new)
            elif op == "overwrite":
                rows = mkrows(2, cols)
                tl.commit(
                    spark,
                    spark.createDataFrame(rows, schema_of(cols)),
                    t,
                    mode="overwrite",
                )
                model = {r[0]: dict(zip(cols, r)) for r in rows}
            else:
                continue
            v = tl.current_version(spark, t)
            got = {
                r[cols[0]]: {c: r[c] for c in cols}
                for r in tl.read_version(spark, t).collect()
            }
            want = {
                k: {cols[0]: k, **{c: m[c] for c in cols if c != cols[0]}}
                for k, m in model.items()
            }
            assert got == want, (seed, op, got, want)
            snapshots.append(
                (v, list(cols), {k: dict(m) for k, m in model.items()})
            )
        # time-travel sweep: every snapshot reproduces exactly
        for sv, scols, smodel in snapshots:
            got = {
                r[scols[0]]: {c: r[c] for c in scols}
                for r in tl.read_version(spark, t, sv).collect()
            }
            want = {
                k: {scols[0]: k, **{c: m[c] for c in scols if c != scols[0]}}
                for k, m in smodel.items()
            }
            assert got == want, (seed, sv, got, want)


def test_protocol_feature_gates(spark, tmp_path):
    """X160 — reader/writer feature stamps (Delta's protocol table
    features): a mapped table's docs announce what readers/writers
    must understand; plain tables stay stamp-free (old-doc
    back-compat); a doc requiring UNKNOWN features refuses loudly on
    every engine instead of misreading."""
    import json as _json

    t = str(tmp_path / "proto_tbl")
    tl.commit(spark, spark.createDataFrame([(1, 2.0)], "k long, v double"), t)
    d0 = tl._version_doc(spark, t, 0)
    assert "reader_requires" not in d0 and "writer_requires" not in d0
    tl.rename_column(spark, t, "v", "w")
    d1 = tl._version_doc(spark, t, 1)
    assert d1["reader_requires"] == ["colmap"]
    assert "colmap" in d1["writer_requires"]
    # appends inherit the stamps with the mapping
    tl.commit(spark, spark.createDataFrame([(2, 3.0)], "k long, w double"), t)
    assert tl._version_doc(spark, t, 2)["reader_requires"] == ["colmap"]

    # forge a FUTURE reader feature: every read path refuses
    cur = tl.current_version(spark, t)
    forged = dict(tl._version_doc(spark, t, cur))
    forged["version"] = cur + 1
    forged["reader_requires"] = ["colmap", "rowtracking_v9"]
    with open(f"{t}/_log/v{cur + 1}.json", "w") as fh:
        _json.dump(forged, fh)
    with pytest.raises(ValueError, match="rowtracking_v9"):
        tl.read_version(spark, t)
    # a write on top refuses too (the doc read refuses first)
    with pytest.raises(ValueError, match="rowtracking_v9"):
        tl.commit(
            spark, spark.createDataFrame([(3, 4.0)], "k long, w double"), t
        )

    # forge a future WRITER-only feature: reads fine, writes refuse
    forged["reader_requires"] = ["colmap"]
    forged["writer_requires"] = ["colmap", "autocompact_v9"]
    with open(f"{t}/_log/v{cur + 1}.json", "w") as fh:
        _json.dump(forged, fh)
    assert tl.read_version(spark, t).count() == 2
    with pytest.raises(ValueError, match="autocompact_v9"):
        tl.commit(
            spark, spark.createDataFrame([(3, 4.0)], "k long, w double"), t
        )


def test_feature_stamps_sticky_and_retired(spark, tmp_path):
    """ADVICE r16 (medium): feature stamps must be MONOTONE and a
    bare drop (retired non-empty, colmap empty) must still stamp the
    'colmap' WRITER feature — otherwise a future writer build lacking
    column-mapping support passes the gate, re-adds the dropped
    logical name with an identity physical name, and the retired
    column's still-live file bytes resurrect under the new name.
    Delta keeps protocol features sticky for exactly this reason."""
    t = str(tmp_path / "sticky_tbl")
    tl.commit(
        spark, spark.createDataFrame([(1, 2.0, "a")], "k long, v double, s string"), t
    )
    # drop a NEVER-renamed column: colmap dict is empty, retired is not
    tl.drop_column(spark, t, "s")
    d1 = tl._version_doc(spark, t, 1)
    assert not d1.get("colmap"), "sparse colmap should be empty for identity names"
    assert d1.get("retired"), "drop must retire the physical name"
    assert "colmap" in (d1.get("writer_requires") or []), (
        "a doc with retired physicals must demand the colmap writer feature"
    )
    # readers selecting the declared schema never touch the retired
    # bytes — the reader gate stays permissive for plain readers
    assert "colmap" not in (d1.get("reader_requires") or [])

    # monotone: stamps survive removal of the content that minted them
    tl.set_property(spark, t, "owner", "teamA")
    assert "properties" in tl._version_doc(
        spark, t, tl.current_version(spark, t)
    )["writer_requires"]
    tl.unset_property(spark, t, "owner")
    dprop = tl._version_doc(spark, t, tl.current_version(spark, t))
    assert not dprop.get("properties")
    assert "properties" in dprop["writer_requires"], (
        "sticky: a table that EVER carried properties keeps the stamp"
    )
    tl.set_identity(spark, t, "k", start=100, step=1)
    tl.drop_identity(spark, t, "k")
    dident = tl._version_doc(spark, t, tl.current_version(spark, t))
    assert not dident.get("identity")
    assert "identity" in dident["writer_requires"]
    # appends keep inheriting the union
    tl.commit(spark, spark.createDataFrame([(2, 3.0)], "k long, v double"), t)
    dlast = tl._version_doc(spark, t, tl.current_version(spark, t))
    assert {"colmap", "identity", "properties"} <= set(dlast["writer_requires"])


def test_overwrite_case_variant_refusal(spark, tmp_path):
    """ADVICE r16 (low): the overwrite path must refuse case-variant
    fresh columns the same way the append path's _evolve_schema does
    — 'K' next to a kept 'k', or 'K' and 'k' within one overwrite,
    would otherwise get a silent uuid-suffixed physical and a schema
    whose case-insensitive reads are ambiguous."""
    t = str(tmp_path / "ow_case")
    tl.commit(spark, spark.createDataFrame([(1, 2.0)], "k long, v double"), t)
    with pytest.raises(ValueError, match="case-variant"):
        tl.commit(
            spark,
            spark.createDataFrame([(1, 3.0)], "k long, K double"),
            t, mode="overwrite",
        )
    with pytest.raises(ValueError, match="case-variant"):
        tl.commit(
            spark,
            spark.createDataFrame([(1.0, 2.0)], "X double, x double"),
            t, mode="overwrite",
        )
    # a legitimate overwrite still flows
    tl.commit(
        spark, spark.createDataFrame([(9, 9.0)], "k long, w double"),
        t, mode="overwrite",
    )
    assert tl.read_version(spark, t).columns == ["k", "w"]


def test_rename_drop_case_insensitive_old_name(spark, tmp_path):
    """VERDICT r16 minor: the OLD name in rename/drop resolves
    case-insensitively (unique match) just like the new-name guard
    and Spark's default read resolution — rename_column(t, 'K2', 'x')
    on a table owning k2 renames k2, it does not error."""
    t = str(tmp_path / "ci_old")
    tl.commit(
        spark,
        spark.createDataFrame([(1, 2.0, 3.0)], "k long, k2 double, z double"),
        t,
    )
    tl.rename_column(spark, t, "K2", "x")
    assert tl.read_version(spark, t).columns == ["k", "x", "z"]
    tl.drop_column(spark, t, "Z")
    assert tl.read_version(spark, t).columns == ["k", "x"]
    with pytest.raises(ValueError, match="no such column"):
        tl.rename_column(spark, t, "nope", "y")


def test_rename_race_refuses_blind_append_rebase(spark, tmp_path, monkeypatch):
    """X148 x X157: a blind append whose slot race was lost to an
    interleaved RENAME must surface CommitConflict (its files were
    written under the old mapping decisions), never silently rebase."""
    t = str(tmp_path / "cm_race")
    tl.commit(
        spark, spark.createDataFrame([(1, 10.0)], "k long, price double"), t
    )
    orig = tl._write_log_doc_exclusive
    state = {"raced": False}

    def racer(spark_, table_, name_, doc_):
        if not state["raced"] and name_.startswith("v1"):
            state["raced"] = True
            tl.rename_column(spark_, table_, "price", "cost")
        return orig(spark_, table_, name_, doc_)

    monkeypatch.setattr(tl, "_write_log_doc_exclusive", racer)
    with pytest.raises(tl.CommitConflict, match="column-mapping"):
        tl.commit(
            spark,
            spark.createDataFrame([(2, 20.0)], "k long, price double"),
            t,
        )
    monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
    assert state["raced"]
    # nothing half-published: the rename is v1, the table reads clean
    assert {r["k"] for r in tl.read_version(spark, t).collect()} == {1}
