"""Shared fixtures: one SparkSession per test session, sf0.001 tables."""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from facebook_ad_library_data_pipeline_spark.catalog import TABLES
from facebook_ad_library_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def private_tmp():
    """One private temp dir for the run, set before the JVM starts: the
    driver JVM (``java.io.tmpdir``), this process and every child it
    starts write their temp files there, so a temp-dir check sees only
    what the run itself adds, not what other processes do in /tmp.
    Short, because Unix-domain socket paths under it are limited to
    107 bytes."""
    d = tempfile.mkdtemp(prefix="sg", dir="/tmp")
    saved = {k: os.environ.get(k) for k in ("TMPDIR", "JAVA_TOOL_OPTIONS")}
    os.environ["TMPDIR"] = d
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [saved["JAVA_TOOL_OPTIONS"], f"-Djava.io.tmpdir={d}"])
    )
    saved_tempdir, tempfile.tempdir = tempfile.tempdir, d
    yield d
    tempfile.tempdir = saved_tempdir
    for k, v in saved.items():
        if v is None:
            os.environ.pop(k, None)
        else:
            os.environ[k] = v
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def spark(private_tmp):
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the same tables registered as views —
    the local twin of the driver's oracle harness."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def oracle_checks(spark, sf_dir, duck):
    """``oracle_checks(name)``: the outcome of ``oracle_sweep.check_query``
    for ``name``, computed the first time a test asks for it and shared
    by ``test_oracle_match`` and ``test_oracle_pandas_dtypes_compatible``."""
    from .oracle_sweep import check_query

    checked: dict[str, dict] = {}

    def get(name: str) -> dict:
        if name not in checked:
            checked[name] = check_query(name, spark, sf_dir, duck)
        return checked[name]

    return get
