"""Oracle type-lint: catch driver-representation mismatches BEFORE the
driver does.

The driver materializes both engines through pandas before hashing, so
a value-identical result can still hash-mismatch on representation:
DuckDB types ``sum(int CASE)`` as HUGEINT, which pandas renders as
float64 (``1791.0``) against Spark's bigint (``1791``) — the exact
q_tpch_q12 failure in CORRECTNESS_r03. The local harness compares via
``fetchall()`` (HUGEINT -> Python int) and missed it.

This lint runs every registered oracle through ``rel.df()`` (the
pandas path) and asserts dtype-kind compatibility against the Spark
query's result schema. The query runs once per session for this lint
and ``test_oracle_match`` together (the ``oracle_checks`` fixture).
"""

from __future__ import annotations

import pytest

from .oracle_sweep import WITH_ORACLE


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_pandas_dtypes_compatible(name, oracle_checks):
    failed = oracle_checks(name)["lint"]
    if failed is not None:
        raise failed


def test_all_oracles_linted():
    # Guard against the sweep silently shrinking (e.g. import failure
    # dropping a module's registrations).
    assert len(WITH_ORACLE) >= 121, f"only {len(WITH_ORACLE)} oracle-backed queries"
