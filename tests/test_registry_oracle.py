"""The big parity sweep: every registered query with an oracle must
match DuckDB on sf0.001 (the driver runs the same compare at sf0.01).
Queries without an oracle must at least run and return a DataFrame
with a stable schema.
"""

from __future__ import annotations

import pytest

from facebook_ad_library_data_pipeline_spark.registry import load_all

from .oracle_harness import assert_matches_oracle

REGISTRY = load_all()
WITH_ORACLE = sorted(n for n, q in REGISTRY.items() if q.oracle)
ROWS_ONLY = sorted(n for n, q in REGISTRY.items() if not q.oracle)


def assert_conf_unchanged(spark, before: dict, name: str) -> None:
    """A query must leave the caller's session conf as it found it:
    same keys, same values, no key newly set to its default."""
    after = dict(spark.conf.getAll)
    changed = {
        k: (before.get(k), after.get(k))
        for k in before.keys() | after.keys()
        if before.get(k) != after.get(k)
    }
    assert not changed, f"{name} changed the session conf (before, after): {changed}"


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_match(name, spark, sf_dir, duck):
    q = REGISTRY[name]
    before = dict(spark.conf.getAll)
    assert_matches_oracle(q.fn(spark, sf_dir), q.oracle, duck)
    assert_conf_unchanged(spark, before, name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(name, spark, sf_dir):
    q = REGISTRY[name]
    before = dict(spark.conf.getAll)
    df = q.fn(spark, sf_dir)
    assert df.columns, f"{name}: no columns"
    assert df.count() >= 0
    assert_conf_unchanged(spark, before, name)


def test_priority_list_sane():
    """_PRIORITY drives which 50 queries get driver evidence: no
    duplicates, every name registered, and the list covers at least a
    full 50-row window so registration order never leaks in."""
    from facebook_ad_library_data_pipeline_spark.registry import _PRIORITY

    assert len(_PRIORITY) == len(set(_PRIORITY)), "duplicate priority entries"
    missing = [n for n in _PRIORITY if n not in REGISTRY]
    assert not missing, f"priority names not registered: {missing}"
    assert len(_PRIORITY) >= 50
