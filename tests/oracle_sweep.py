"""The registry sweep's shared checks.

``test_oracle_match`` (test_registry_oracle.py) and
``test_oracle_pandas_dtypes_compatible`` (test_oracle_lint.py) check the
same query result two ways. ``check_query`` runs the query once and
checks that one result both ways; the session fixture ``oracle_checks``
(conftest.py) calls it the first time either test asks for a query and
hands each test its own outcome, so the streaming queries run their
streams once per test session, not twice.
"""

from __future__ import annotations

import os
import re
import tempfile
from contextlib import contextmanager

from pyspark.sql import types as T

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


_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FRACTIONAL = (T.FloatType, T.DoubleType)


def assert_pandas_dtypes_compatible(name: str, schema: T.StructType, odf) -> None:
    """The oracle's pandas frame ``odf`` must render every column the
    way the driver's pandas path renders the Spark column of ``schema``."""
    spark_types = {f.name.lower(): f.dataType for f in schema.fields}
    for col in odf.columns:
        st = spark_types.get(col.lower())
        assert st is not None, f"{name}: oracle column {col!r} absent from Spark result"
        kind = odf[col].dtype.kind  # i/u int, f float, O object, M datetime, b bool
        has_nulls = bool(odf[col].isna().any())
        if isinstance(st, _INTEGRAL):
            # pandas legitimately promotes nullable ints to float64 —
            # the driver sees the same promotion on the Spark side, so
            # only a null-free float/object oracle column is a real
            # representation bug (the HUGEINT class).
            if not has_nulls:
                assert kind in ("i", "u"), (
                    f"{name}.{col}: Spark {st.simpleString()} vs oracle pandas "
                    f"dtype kind {kind!r} with no nulls — cast the oracle "
                    f"expression (DuckDB HUGEINT/DOUBLE renders differently)"
                )
        elif isinstance(st, _FRACTIONAL):
            assert kind == "f", (
                f"{name}.{col}: Spark {st.simpleString()} vs oracle pandas "
                f"dtype kind {kind!r} — cast the oracle to DOUBLE"
            )
        elif isinstance(st, T.TimestampType):
            assert kind == "M" or odf[col].dtype == object, (
                f"{name}.{col}: Spark timestamp vs oracle dtype {odf[col].dtype}"
            )
        elif isinstance(st, T.BooleanType):
            assert kind == "b" or (has_nulls and kind == "O"), (
                f"{name}.{col}: Spark boolean vs oracle dtype kind {kind!r}"
            )
        elif isinstance(st, T.StringType):
            assert kind == "O" or odf[col].dtype == "string", (
                f"{name}.{col}: Spark string vs oracle dtype kind {kind!r}"
            )
        # Decimal / array / struct Spark types: representation is
        # engine-specific on both sides; the value compare (oracle
        # harness + driver hash) remains the authority there.


def check_query(name: str, spark, sf_dir: str, duck) -> dict[str, Exception | None]:
    """Run query ``name`` once, inside ``leaves_session_as_found``, and
    check its one result against the oracle two ways. Returns each
    check's failure, ``None`` if it passed: ``"lint"``, the pandas dtype
    lint on the result's schema, and ``"match"``, the value compare plus
    the session check. When ``q.fn`` itself raises, both carry its
    error."""
    q = REGISTRY[name]
    failed: dict[str, Exception | None] = {"lint": None, "match": None}
    ran = False
    try:
        with leaves_session_as_found(spark, name):
            sdf = q.fn(spark, sf_dir)
            ran = True
            try:
                assert_pandas_dtypes_compatible(name, sdf.schema, duck.sql(q.oracle).df())
            except Exception as e:
                failed["lint"] = e
            assert_matches_oracle(sdf, q.oracle, duck)
    except Exception as e:
        failed["match"] = e
        if not ran:
            failed["lint"] = e
    return failed
