"""X152 — additive-only schema evolution on the tablelog format
(Delta's ``mergeSchema`` core): ``commit(merge_schema=True)`` appends
may ADD nullable columns; readers NULL-fill them into pre-evolution
files by name; drops and retyping are always refused. Covers every
read path that must NULL-fill: read_version, the live view behind
DV/merge, and optimize/clone/restore carry-through.

No counterpart in the reference repo (it has no table format); the
closest public behavior contract is Delta Lake's automatic schema
evolution documentation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tableone_pyspark_spark.sources import tablelog as tl


def _mk(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


@pytest.fixture()
def base_tbl(spark, tmp_path):
    """v0 = two-column table (k, v) with stats on k."""
    t = str(tmp_path / "evo_tbl")
    tl.commit(
        spark,
        _mk(spark, [(i, f"r{i}") for i in range(6)], "k long, v string"),
        t,
        stats_cols=["k"],
    )
    return t


def test_plain_append_still_refuses_new_columns(spark, base_tbl):
    df = _mk(spark, [(10, "x", 1.5)], "k long, v string, w double")
    with pytest.raises(ValueError, match="merge_schema"):
        tl.commit(spark, df, base_tbl)


def test_additive_append_null_fills_old_files(spark, base_tbl):
    df = _mk(spark, [(10, "x", 1.5), (11, "y", 2.5)],
             "k long, v string, w double")
    rep = tl.commit(spark, df, base_tbl, merge_schema=True)
    assert rep["version"] == 1
    out = tl.read_version(spark, base_tbl).orderBy("k").collect()
    assert [r["k"] for r in out] == list(range(6)) + [10, 11]
    assert [r["w"] for r in out] == [None] * 6 + [1.5, 2.5]
    # evolved schema = old columns in old order + new at the end
    assert tl.read_version(spark, base_tbl).columns == ["k", "v", "w"]
    # pre-evolution version keeps its OWN schema — no retro-fit
    assert tl.read_version(spark, base_tbl, 0).columns == ["k", "v"]


def test_order_only_difference_is_accepted_unchanged(spark, base_tbl):
    df = _mk(spark, [("z", 20)], "v string, k long")
    rep = tl.commit(spark, df, base_tbl, merge_schema=True)
    assert rep["version"] == 1
    out = tl.read_version(spark, base_tbl)
    assert out.columns == ["k", "v"]  # schema unchanged
    assert out.where(F.col("k") == 20).first()["v"] == "z"


def test_retyping_always_refused_and_subset_writes_accepted(spark, base_tbl):
    with pytest.raises(ValueError, match="additive-only"):
        tl.commit(
            spark,
            _mk(spark, [(1.0, "a")], "k double, v string"),
            base_tbl,
            merge_schema=True,
        )
    # a write MISSING a table column is Delta's missing-column append:
    # the table schema keeps v, this commit's rows read back v = NULL
    rep = tl.commit(spark, _mk(spark, [(77,)], "k long"), base_tbl,
                    merge_schema=True)
    assert rep["version"] == 1
    row = (
        tl.read_version(spark, base_tbl)
        .where(F.col("k") == 77)
        .first()
    )
    assert row["v"] is None
    assert tl.read_version(spark, base_tbl).columns == ["k", "v"]


def test_subsequent_plain_append_needs_evolved_schema(spark, base_tbl):
    tl.commit(
        spark,
        _mk(spark, [(10, "x", 1.5)], "k long, v string, w double"),
        base_tbl,
        merge_schema=True,
    )
    # old two-column shape no longer matches
    with pytest.raises(ValueError, match="merge_schema"):
        tl.commit(spark, _mk(spark, [(12, "q")], "k long, v string"),
                  base_tbl)
    # but a merge_schema append of the OLD shape is an additive
    # subset -> accepted, schema unchanged, w NULL-filled for its rows
    rep = tl.commit(
        spark,
        _mk(spark, [(12, "q")], "k long, v string"),
        base_tbl,
        merge_schema=True,
    )
    assert rep["version"] == 2
    row = (
        tl.read_version(spark, base_tbl)
        .where(F.col("k") == 12)
        .first()
    )
    assert row["v"] == "q" and row["w"] is None


def test_prune_stats_survive_evolution(spark, base_tbl):
    tl.commit(
        spark,
        _mk(spark, [(100, "x", 1.5)], "k long, v string, w double"),
        base_tbl,
        merge_schema=True,
        stats_cols=["k", "w"],
    )
    # prune on k skips the other side's files; rows never lost
    lo = tl.read_version(spark, base_tbl, prune=[("k", "<=", 5)])
    assert sorted(r["k"] for r in lo.where(F.col("k") <= 5).collect()) \
        == list(range(6))
    # prune on the NEW column keeps old (stat-less) files — no row
    # of the old files is lost even though they predate w
    pw = tl.read_version(spark, base_tbl, prune=[("w", ">=", 1.0)])
    assert pw.count() == 7  # stat-less old files always kept


def test_dv_delete_and_merge_after_evolution(spark, base_tbl):
    tl.commit(
        spark,
        _mk(spark, [(10, "x", 1.5)], "k long, v string, w double"),
        base_tbl,
        merge_schema=True,
    )
    # DV delete touching PRE-evolution files (live view NULL-fills)
    rep = tl.delete_rows(spark, base_tbl, F.col("k") % 2 == 1)
    assert rep["n_deleted"] == 3  # 1, 3, 5
    left = sorted(
        r["k"] for r in tl.read_version(spark, base_tbl).collect()
    )
    assert left == [0, 2, 4, 10]
    # merge source must match the EVOLVED schema
    with pytest.raises(ValueError, match="merge"):
        tl.merge_rows(
            spark, base_tbl,
            _mk(spark, [(0, "upd")], "k long, v string"), ["k"],
        )
    mrep = tl.merge_rows(
        spark, base_tbl,
        _mk(spark, [(0, "upd", 9.9), (99, "new", 8.8)],
            "k long, v string, w double"),
        ["k"],
    )
    assert mrep["n_deleted"] == 1 and mrep["n_inserted"] == 2
    got = {
        r["k"]: (r["v"], r["w"])
        for r in tl.read_version(spark, base_tbl).collect()
    }
    assert got[0] == ("upd", 9.9) and got[99] == ("new", 8.8)
    assert got[2] == ("r2", None)  # untouched pre-evolution row


def test_optimize_restore_clone_carry_evolution(spark, base_tbl, tmp_path):
    tl.commit(
        spark,
        _mk(spark, [(10, "x", 1.5)], "k long, v string, w double"),
        base_tbl,
        merge_schema=True,
    )
    opt = tl.optimize(spark, base_tbl, target_bytes=1 << 20)
    assert opt["version"] == 2
    out = tl.read_version(spark, base_tbl)
    assert out.columns == ["k", "v", "w"]
    got = {r["k"]: r["w"] for r in out.collect()}
    assert got[10] == 1.5 and got[0] is None
    # restore to the pre-evolution version re-publishes the OLD schema
    rr = tl.restore(spark, base_tbl, 0)
    assert rr["version"] == 3
    assert tl.read_version(spark, base_tbl).columns == ["k", "v"]
    # clone of the evolved version carries the evolved schema
    c = str(tmp_path / "evo_clone")
    tl.clone(spark, base_tbl, c, version=1)
    assert tl.read_version(spark, c).columns == ["k", "v", "w"]


def test_rebase_across_concurrent_evolution(spark, tmp_path, monkeypatch):
    """Two blind appends race; the loser re-evolves onto the winner's
    evolved schema (union of additive changes)."""
    t = str(tmp_path / "evo_race")
    tl.commit(spark, _mk(spark, [(1, "a")], "k long, v string"), t)
    orig = tl._write_log_doc_exclusive
    state = {"raced": False}

    def racy(s, table, name, doc):
        if not state["raced"] and table == t and name.startswith("v"):
            state["raced"] = True
            monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
            tl.commit(
                spark,
                _mk(spark, [(2, "b", 7.0)], "k long, v string, w double"),
                t,
                merge_schema=True,
            )
            monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy)
            return orig(s, table, name, doc)
        return orig(s, table, name, doc)

    monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy)
    rep = tl.commit(
        spark,
        _mk(spark, [(3, "c", True)], "k long, v string, flag boolean"),
        t,
        merge_schema=True,
    )
    monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
    assert rep["version"] == 2
    out = tl.read_version(spark, t)
    assert out.columns == ["k", "v", "w", "flag"]
    got = {r["k"]: (r["w"], r["flag"]) for r in out.collect()}
    assert got == {1: (None, None), 2: (7.0, None), 3: (None, True)}
    # without merge_schema the same race still refuses
    state["raced"] = False

    def racy2(s, table, name, doc):
        if not state["raced"] and table == t and name.startswith("v"):
            state["raced"] = True
            monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)
            tl.commit(
                spark,
                _mk(
                    spark,
                    [(4, "d", 1.0, False, 9)],
                    "k long, v string, w double, flag boolean, z long",
                ),
                t,
                merge_schema=True,
            )
            monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy2)
            return orig(s, table, name, doc)
        return orig(s, table, name, doc)

    monkeypatch.setattr(tl, "_write_log_doc_exclusive", racy2)
    with pytest.raises(ValueError, match="raced a schema-changing"):
        tl.commit(
            spark,
            _mk(
                spark,
                [(5, "e", 2.0, True)],
                "k long, v string, w double, flag boolean",
            ),
            t,
        )
    monkeypatch.setattr(tl, "_write_log_doc_exclusive", orig)


def test_constraints_enforced_on_evolved_column(spark, base_tbl):
    tl.commit(
        spark,
        _mk(spark, [(10, "x", 1.5)], "k long, v string, w double"),
        base_tbl,
        merge_schema=True,
    )
    tl.set_constraint(spark, base_tbl, "w_pos", "w IS NULL OR w > 0")
    with pytest.raises(ValueError, match="w_pos"):
        tl.commit(
            spark,
            _mk(spark, [(11, "y", -3.0)], "k long, v string, w double"),
            base_tbl,
        )
    assert tl.current_version(spark, base_tbl) == 2  # only set_constraint


def test_describe_detail_reports_evolved_columns(spark, base_tbl):
    tl.commit(
        spark,
        _mk(spark, [(10, "x", 1.5)], "k long, v string, w double"),
        base_tbl,
        merge_schema=True,
    )
    assert tl.describe_detail(spark, base_tbl)["columns"] == ["k", "v", "w"]
    assert tl.describe_detail(spark, base_tbl, version=0)["columns"] == [
        "k", "v",
    ]


# ---- property fuzz over the X152 kernels (pure-Python, no Spark) ----

from hypothesis import given, settings
from hypothesis import strategies as st

_TYPES = ["bigint", "double", "string", "boolean", "date"]


def _schema_json(fields: list[tuple[str, str]]) -> str:
    # pure-Python construction — fromDDL needs a live JVM, and these
    # kernels are deliberately JVM-free planning code
    from pyspark.sql.types import (
        BooleanType,
        DateType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    tmap = {
        "bigint": LongType(),
        "double": DoubleType(),
        "string": StringType(),
        "boolean": BooleanType(),
        "date": DateType(),
    }
    return StructType(
        [StructField(n, tmap[t], True) for n, t in fields]
    ).json()


_names = st.lists(
    st.text(alphabet="abcdefgh", min_size=1, max_size=3),
    min_size=1, max_size=6, unique=True,
)


@st.composite
def _tbl_and_write(draw):
    """A table schema plus a write schema that is a random additive
    mutation of it: keep a subset (reordered), add fresh columns."""
    tnames = draw(_names)
    tbl = [(n, draw(st.sampled_from(_TYPES))) for n in tnames]
    keep = [f for f in tbl if draw(st.booleans())]
    keep = draw(st.permutations(keep))
    fresh = draw(
        st.lists(
            st.text(alphabet="qrstuv", min_size=1, max_size=3),
            max_size=4, unique=True,
        )
    )
    new = list(keep) + [
        (n, draw(st.sampled_from(_TYPES))) for n in fresh
    ]
    return tbl, new


@given(_tbl_and_write())
@settings(max_examples=200, deadline=None)
def test_prop_evolve_schema_additive(tw):
    """Evolved schema = table fields verbatim in order, then exactly
    the write's fresh fields in write order, all forced nullable;
    idempotent under re-application of the same write."""
    import json as _json

    tbl, new = tw
    ev = tl._evolve_schema(_schema_json(tbl), _schema_json(new))
    shape = tl._schema_shape(ev)
    assert shape[: len(tbl)] == list(tbl)
    tset = {n for n, _ in tbl}
    assert shape[len(tbl):] == [
        (n, t) for n, t in new if n not in tset
    ]
    for f in _json.loads(ev)["fields"][len(tbl):]:
        assert f["nullable"] is True
    # idempotent: evolving the evolved schema by the same write is a
    # no-op (every write column already present at the same type)
    assert tl._schema_shape(
        tl._evolve_schema(ev, _schema_json(new))
    ) == shape


@given(_tbl_and_write())
@settings(max_examples=200, deadline=None)
def test_prop_evolve_refuses_retyping(tw):
    """Flipping any shared column's type makes evolution raise."""
    tbl, new = tw
    shared = [i for i, (n, _) in enumerate(new)
              if n in {m for m, _ in tbl}]
    if not shared:
        return
    i = shared[0]
    n, t = new[i]
    flipped = list(new)
    flipped[i] = (n, "double" if t != "double" else "bigint")
    with pytest.raises(ValueError, match="additive-only"):
        tl._evolve_schema(_schema_json(tbl), _schema_json(flipped))


@given(_tbl_and_write())
@settings(max_examples=100, deadline=None)
def test_prop_widened_struct_all_nullable(tw):
    tbl, _ = tw
    import json as _json

    js = _schema_json(tbl)
    # flip some nullability off at the json level, then widen
    doc = _json.loads(js)
    for i, f in enumerate(doc["fields"]):
        if i % 2 == 0:
            f["nullable"] = False
    w = tl._widened_struct(_json.dumps(doc))
    assert all(f.nullable for f in w.fields)
    # shape (names + types) is untouched by widening
    assert tl._schema_shape(w.json()) == tl._schema_shape(js)


def test_case_variant_column_refused(spark, base_tbl):
    """Self-review r15: a new column differing only by CASE from an
    existing one would make case-insensitive parquet reads ambiguous
    — refused loudly, never published."""
    df = _mk(spark, [(1, "a", 2.0)], "k long, v string, K double")
    with pytest.raises(ValueError, match="case-variant"):
        tl.commit(spark, df, base_tbl, merge_schema=True)
    assert tl.current_version(spark, base_tbl) == 0
    # r16 (ADVICE r15): TWO new columns differing only by case from
    # EACH OTHER (neither clashing with the table) must hit the same
    # curated refusal, not a downstream parquet-writer error
    df2 = _mk(
        spark, [(1, "a", 2.0, 3.0)], "k long, v string, X double, x double"
    )
    with pytest.raises(ValueError, match="case-variant"):
        tl.commit(spark, df2, base_tbl, merge_schema=True)
    assert tl.current_version(spark, base_tbl) == 0
