"""Shared fixtures: one local SparkSession + the reference's smoke fixture.

The `patients` table mirrors the reference's own test data
(/root/reference/testing.py:18-23) — the de-facto correctness spec.
"""

from __future__ import annotations

import contextlib
import math
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import SparkSession


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
