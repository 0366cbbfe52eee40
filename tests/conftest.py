"""Shared fixtures: one local SparkSession + the reference's smoke fixture.

The `patients` table mirrors the reference's own test data
(/root/reference/testing.py:18-23) — the de-facto correctness spec.
"""

from __future__ import annotations

import contextlib
import dataclasses
import math
import sys
import warnings
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import SparkSession


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "one_route: the test's subject is one route; both_routes leaves it alone"
    )


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("tableone-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    yield s
    s.stop()


NAN = float("nan")

PATIENT_ROWS = [
    # PID, name, region, plan, age, number_of_claims  (testing.py:18-23)
    (1, "John", "East", "PPO", 18, 10.0),
    (2, "Sally", "West", "PPO", 25, 20.0),
    (3, "John", "South", "HMO", 21, 15.0),
    (4, "Susi", "East", "PPO", 55, 29.0),
    (5, "Sally", "West", "FFS", 65, 55.0),
    (6, None, "South", None, 70, NAN),
    (7, "John", "East", "PPO", 85, NAN),
    (8, "Sally", "West", "FFS", 19, 20.0),
    (9, None, "South", "HMO", 34, 16.0),
    (10, "Sally", "Arctic", None, 28, 18.0),
]

PATIENT_SCHEMA = (
    "PID long, name string, region string, plan string, age long, number_of_claims double"
)


@pytest.fixture(scope="session")
def patients(spark):
    return spark.createDataFrame(PATIENT_ROWS, PATIENT_SCHEMA)


@contextlib.contextmanager
def cells_route():
    """Inside the block every input takes the cells route (the melt and
    ``groupBy`` job), as inputs above the rows route's gate do: no size
    estimate is at or under a gate of -1 bytes."""
    from tableone_pyspark_spark.core import sufficient

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(sufficient, "ROWS_ROUTE_BYTES", -1)
        yield


def _sufficient_repr(suff) -> str:
    """``repr`` of a ``Sufficient`` with every dict in key order: the
    routes fill the dicts in the order their cells arrive."""

    def canon(v):
        if isinstance(v, dict):
            return sorted(((repr(k), canon(x)) for k, x in v.items()))
        return v

    return repr([(f.name, canon(getattr(suff, f.name))) for f in dataclasses.fields(suff)])


@pytest.fixture
def both_routes(request, monkeypatch):
    """Every ``collect_sufficient`` call of the test runs on both routes:
    its size estimate is forced to None (cells: the melt and ``groupBy``
    job) and then to 0 bytes (rows: the projection collected and grouped
    on the driver). The two must return the same statistics, raise the
    same error and warn the same UserWarnings; the test then sees the
    rows route's result, so its assertions hold for both. Tests marked
    ``one_route``, whose subject is one route, are left alone."""
    if request.node.get_closest_marker("one_route"):
        return
    from tableone_pyspark_spark.core import engine, sufficient

    collect = sufficient.collect_sufficient

    def user_warnings(caught):
        # the engine's own; a socket the JVM gateway closes is not one
        return [(w.category, str(w.message)) for w in caught if issubclass(w.category, UserWarning)]

    def on(estimate, args, kwargs):
        with pytest.MonkeyPatch.context() as mp, warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            mp.setattr(sufficient, "_size_estimate", lambda proj: estimate)
            try:
                out, err = collect(*args, **kwargs), None
            except Exception as e:  # noqa: BLE001 - compared, then re-raised
                out, err = None, e
        return out, err, caught

    def on_both(*args, **kwargs):
        cells, cells_err, cells_warned = on(None, args, kwargs)
        rows, rows_err, rows_warned = on(0, args, kwargs)
        assert repr(rows_err) == repr(cells_err)
        assert user_warnings(rows_warned) == user_warnings(cells_warned)
        for w in rows_warned:
            warnings.warn_explicit(w.message, w.category, w.filename, w.lineno)
        if rows_err is not None:
            raise rows_err
        assert _sufficient_repr(rows) == _sufficient_repr(cells)
        return rows

    monkeypatch.setattr(engine, "collect_sufficient", on_both)


def rows_by_index(df):
    """Collected rows keyed by (Index, Values) for assertion convenience."""
    return {(r["Index"], r["Values"]): r.asDict() for r in df.collect()}


def approx(a, b, tol=1e-9):
    if a is None and b is None:
        return True
    if a is None or b is None:
        return False
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=tol, abs_tol=tol)
    return a == b
