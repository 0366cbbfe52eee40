"""The Table 1 system's import closure.

Importing the batch API, the CLI, ``streaming_tableone``, the test-data
generators and ``operators.relational`` (``tableone_joined``) loads
exactly these package modules. A module-level import of any other
family from the Table 1 path grows the set and fails here, so deleting
a family that no Table 1 path reaches leaves this test unchanged.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

ENTRY_POINTS = [
    "tableone_pyspark_spark",
    "tableone_pyspark_spark.__main__",
    "tableone_pyspark_spark.streaming.stream_stats",
    "tableone_pyspark_spark.sources.testdata",
    "tableone_pyspark_spark.operators.relational",
]

CLOSURE = {
    "tableone_pyspark_spark",
    "tableone_pyspark_spark.__main__",
    "tableone_pyspark_spark.core",
    "tableone_pyspark_spark.core.engine",
    "tableone_pyspark_spark.core.hypothesis",
    "tableone_pyspark_spark.core.memo",
    "tableone_pyspark_spark.core.sanitize",
    "tableone_pyspark_spark.core.special",
    "tableone_pyspark_spark.core.sufficient",
    "tableone_pyspark_spark.operators",
    "tableone_pyspark_spark.operators.relational",
    "tableone_pyspark_spark.sources",
    "tableone_pyspark_spark.sources.testdata",
    "tableone_pyspark_spark.streaming",
    "tableone_pyspark_spark.streaming.stream_stats",
}


def test_table1_import_closure():
    # a fresh interpreter: the other tests of a pytest run import more
    code = (
        "import importlib, json, sys\n"
        f"for m in {ENTRY_POINTS!r}:\n"
        "    importlib.import_module(m)\n"
        "print(json.dumps(sorted(k for k in sys.modules\n"
        "    if k.split('.')[0] == 'tableone_pyspark_spark')))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    loaded = set(json.loads(out.splitlines()[-1]))
    assert loaded == CLOSURE, {
        "extra": sorted(loaded - CLOSURE),
        "missing": sorted(CLOSURE - loaded),
    }
