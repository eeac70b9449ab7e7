"""Replica of the driver's correctness gate: every declared query must
hash-match its DuckDB oracle at sf0.01 (SURVEY.md §5.1/§5.4)."""

from __future__ import annotations

import pytest

from billing_data_loader_spark.oracle import check_query
from billing_data_loader_spark.plans.catalog import catalog
from billing_data_loader_spark.plans.registry import all_queries

from .conftest import SF_DIR


def _keys():
    return sorted(catalog())


@pytest.mark.parametrize("key", _keys())
def test_oracle_parity(spark, key):
    spec = catalog()[key]
    df = spec.fn(spark, SF_DIR)
    if spec.oracle is None:
        # rows-only check (driver's weaker path for non-SQL-expressible ops)
        assert df.count() >= 0
        return
    ok, msg = check_query(df, spec.oracle, SF_DIR)
    assert ok, f"{key}: {msg}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
    # the driver walks queries() in registration order, nothing reorders it
    assert list(e.queries()) == list(all_queries())
