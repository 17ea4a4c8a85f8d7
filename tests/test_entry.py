"""Driver-contract smoke tests: entry(), registry shape, and a fast
oracle-parity spot check (full gate: tools/parity.py)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from tools.parity import compare, duck_con  # noqa: E402


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["cnt", "t", "name", "series", "value"]


def test_registry_shapes():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(qs) >= 25
    # every oracle has a query; since round 2 EVERY registry query
    # carries a DuckDB oracle (portable-hash modes closed the gap)
    assert set(oracles) <= set(qs)
    assert set(qs) - set(oracles) == set()


def test_registry_fits_driver_oracle_window():
    """The driver's correctness gate checks exactly the first 50
    registry rows (CORRECTNESS_r03 held a 50-row prefix of 71
    entries, silently leaving 21 queries unverified — VERDICT r3 #1).
    Registering a 51st query must fail HERE, not silently shrink the
    oracle window; merge it into an existing row instead."""
    assert len(entry_mod.queries()) <= 50


def test_parity_spot_check(spark, sf_dir):
    con = duck_con(sf_dir)
    for name in ("read_downsample_q75", "tpch_q1", "text_fingerprints"):
        assert compare(name, spark, con, sf_dir, verbose=False), name
