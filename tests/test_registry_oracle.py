"""The big parity sweep: every registered query with an oracle must
match DuckDB on sf0.001 (the driver runs the same compare at sf0.01).
Queries without an oracle must at least run and return a DataFrame
with a stable schema.
"""

from __future__ import annotations

import os
import re
import tempfile
from contextlib import contextmanager

import pytest

from facebook_ad_library_data_pipeline_spark.registry import load_all

from .oracle_harness import assert_matches_oracle

REGISTRY = load_all()
WITH_ORACLE = sorted(n for n, q in REGISTRY.items() if q.oracle)
ROWS_ONLY = sorted(n for n, q in REGISTRY.items() if not q.oracle)


# Entries Spark itself (not package code) adds to java.io.tmpdir while a
# query runs. The exclusion names exactly these:
# - native libraries extracted on first use of a codec or of the RocksDB
#   state store (deleted at JVM exit);
# - the ArtifactManager root, created on first use (deleted at JVM exit);
# - one Unix-domain socket file per Python worker or Python data source
#   planner process (spark.python.unix.domain.socket.enabled), which
#   Spark never deletes.
_UUID = r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
_SPARK_TMP_ENTRY = re.compile(
    r"liblz4-java-\d+\.so(\.lck)?"
    rf"|snappy-[\d.]+-{_UUID}-libsnappyjava\.so"
    r"|librocksdbjni\d+\.so"
    rf"|artifacts-{_UUID}"
    rf"|\.{_UUID}\.sock"
)


def tmp_entries() -> set[str]:
    return {
        e for e in os.listdir(tempfile.gettempdir()) if not _SPARK_TMP_ENTRY.fullmatch(e)
    }


@contextmanager
def leaves_session_as_found(spark, name: str):
    """A query must leave the caller's session conf as it found it
    (same keys, same values, no key newly set to its default), and the
    temp dir too (same top-level entries: scratch files belong in
    session.work_dir)."""
    conf, tmp = dict(spark.conf.getAll), tmp_entries()
    yield
    after = dict(spark.conf.getAll)
    changed = {
        k: (conf.get(k), after.get(k))
        for k in conf.keys() | after.keys()
        if conf.get(k) != after.get(k)
    }
    assert not changed, f"{name} changed the session conf (before, after): {changed}"
    now = tmp_entries()
    assert now == tmp, (
        f"{name} changed the temp dir: added {sorted(now - tmp)}, "
        f"removed {sorted(tmp - now)}"
    )


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_match(name, spark, sf_dir, duck):
    q = REGISTRY[name]
    with leaves_session_as_found(spark, name):
        assert_matches_oracle(q.fn(spark, sf_dir), q.oracle, duck)


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
