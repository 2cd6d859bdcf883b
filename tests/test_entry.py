from __future__ import annotations

import importlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def test_entry_smoke(spark):
    mod = importlib.import_module("__spark_entry__")
    df = mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_contract_shape(spark):
    mod = importlib.import_module("__spark_entry__")
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert qs, "queries() must be non-empty"
    for name in oracles:
        assert name in qs, f"oracle {name} has no query"
