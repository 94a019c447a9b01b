"""The big parity sweep: every registered query with an oracle must
match DuckDB on sf0.001 (the driver runs the same compare at sf0.01).
Queries without an oracle must at least run and return a DataFrame
with a stable schema.
"""

from __future__ import annotations

import pytest

from .oracle_sweep import REGISTRY, ROWS_ONLY, WITH_ORACLE, leaves_session_as_found


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_match(name, oracle_checks):
    failed = oracle_checks(name)["match"]
    if failed is not None:
        raise failed


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(name, spark, sf_dir):
    q = REGISTRY[name]
    with leaves_session_as_found(spark, name):
        df = q.fn(spark, sf_dir)
        assert df.columns, f"{name}: no columns"
        assert df.count() >= 0


def test_priority_list_sane():
    """_PRIORITY drives which 50 queries get driver evidence: no
    duplicates, every name registered, and the list covers at least a
    full 50-row window so registration order never leaks in."""
    from facebook_ad_library_data_pipeline_spark.registry import _PRIORITY

    assert len(_PRIORITY) == len(set(_PRIORITY)), "duplicate priority entries"
    missing = [n for n in _PRIORITY if n not in REGISTRY]
    assert not missing, f"priority names not registered: {missing}"
    assert len(_PRIORITY) >= 50
