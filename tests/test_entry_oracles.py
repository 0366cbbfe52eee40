"""The twelve Table 1 queries of ``__spark_entry__`` against their DuckDB
oracles at sf0.001: the check ``scripts/check_oracles.py`` runs, with
every query oracle-checked (none falls back to rows only)."""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "scripts"))

import __spark_entry__ as entry
import check_oracles

SF_DIR = "/root/testdata/sf0.001"


def test_table1_queries_match_their_oracles(spark):
    names = sorted(entry.queries())
    assert set(entry.oracle_sql(SF_DIR)) == set(names)
    problems = check_oracles.check_queries(spark, names, SF_DIR)
    assert problems.keys() == set(names)
    assert not {k: v for k, v in problems.items() if v}
