"""Session policy: host-sized defaults, the exact restore of
``conf_scope`` and the per-application memo ``once`` (no JVM), the
lifetime of ``work_dir`` (one subprocess application), and a codegen
class cache that holds a repeated query mix."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path
from types import SimpleNamespace

import pytest

from facebook_ad_library_data_pipeline_spark import session
from facebook_ad_library_data_pipeline_spark.session import (
    conf_scope,
    default_cpus,
    default_driver_mem,
    once,
    sf_tag,
)


def test_derived_defaults_fit_host():
    assert 1 <= int(default_cpus()) <= len(os.sched_getaffinity(0))
    heap = default_driver_mem()
    assert heap.endswith("m")
    with open("/proc/meminfo") as f:
        total_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    assert 1024 <= int(heap[:-1]) <= 16 * 1024
    assert int(heap[:-1]) * 1024 <= total_kib


class _Conf:
    """The slice of RuntimeConfig conf_scope uses: get with a default,
    set, unset."""

    def __init__(self, settings: dict[str, str]):
        self.settings = dict(settings)

    def get(self, key, default):
        return self.settings.get(key, default)

    def set(self, key, value):
        self.settings[key] = value

    def unset(self, key):
        self.settings.pop(key, None)


def test_conf_scope_restores_exactly_even_on_error():
    spark = SimpleNamespace(conf=_Conf({"spark.sql.shuffle.partitions": "4"}))
    with pytest.raises(RuntimeError):
        scoped = {
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.sources.partitionOverwriteMode": "dynamic",
        }
        with conf_scope(spark, scoped):
            assert spark.conf.settings == scoped
            raise RuntimeError("start failed")
    # the set key gets its old value back; the unset key is unset again,
    # not pinned to its default
    assert spark.conf.settings == {"spark.sql.shuffle.partitions": "4"}


def _app(app_id: str) -> SimpleNamespace:
    """The slice of SparkSession ``once`` reads: the application id."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def memo(monkeypatch):
    """An empty memo for the test, so fake application ids never drop
    the entries of the test session's real application."""
    monkeypatch.setattr(session, "_memo", {})
    monkeypatch.setattr(session, "_memo_app", None)


def _counting(value):
    """A build that returns ``value`` and counts its calls."""

    def build():
        build.calls += 1
        return value

    build.calls = 0
    return build


def test_once_builds_once_per_key(memo):
    spark, build = _app("app-1"), _counting([1, 2])
    first = once(spark, (__name__, "a"), build)
    assert once(spark, (__name__, "a"), build) is first
    assert build.calls == 1
    once(spark, (__name__, "b"), build)
    assert build.calls == 2


def test_once_stores_nothing_when_build_raises(memo):
    spark = _app("app-1")

    def failing():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        once(spark, (__name__, "retry"), failing)
    build = _counting("built")
    assert once(spark, (__name__, "retry"), build) == "built"
    assert build.calls == 1


def test_once_drops_entries_of_a_previous_application(memo):
    build = _counting(object())
    once(_app("app-1"), (__name__, "x"), build)
    once(_app("app-2"), (__name__, "x"), build)
    assert build.calls == 2
    # app-1's entry went when app-2 first asked
    once(_app("app-1"), (__name__, "x"), build)
    assert build.calls == 3


def test_once_memoizes_none(memo):
    spark, build = _app("app-1"), _counting(None)
    assert once(spark, (__name__, "none"), build) is None
    assert once(spark, (__name__, "none"), build) is None
    assert build.calls == 1


def test_sf_tag_names_the_absolute_dir(tmp_path, monkeypatch):
    """Layouts are named by the whole data dir, not its basename: two
    dirs named alike get different names, one dir spelled two ways
    the same."""
    a, b = tmp_path / "a" / "sf0.001", tmp_path / "b" / "sf0.001"
    assert sf_tag(str(a)) != sf_tag(str(b))
    monkeypatch.chdir(tmp_path)
    assert sf_tag("a/sf0.001") == sf_tag(str(a))


def test_stop_removes_work_dir(sf_dir):
    """Layouts land in the application's work dir, and stopping the
    session removes it, but not the data a symlink in it points to.
    Run in a child process: the test session's own SparkContext must
    not be stopped."""
    script = textwrap.dedent(
        """
        import sys
        from pathlib import Path

        from facebook_ad_library_data_pipeline_spark.operators.storage import lineage_events_dir
        from facebook_ad_library_data_pipeline_spark.session import get_spark, work_dir
        from facebook_ad_library_data_pipeline_spark.streaming.events import load_events_stream
        from facebook_ad_library_data_pipeline_spark.streaming.incremental import split_events_dir_ntile

        spark = get_spark("work_dir_lifetime")
        d = work_dir(spark)
        for layout in (lineage_events_dir, split_events_dir_ntile):
            out = Path(layout(spark, sys.argv[1]))
            assert out.parent == d and any(out.iterdir()), (layout.__name__, out, d)
        # the stream source is a symlink into sf_dir: removing the work
        # dir must not follow it
        load_events_stream(spark, sys.argv[1])
        spark.stop()
        assert not d.exists(), d
        assert Path(sys.argv[1], "events.parquet").is_file()
        print("stopped", d)
        """
    )
    repo = Path(__file__).resolve().parent.parent
    path = os.pathsep.join(filter(None, [str(repo), os.environ.get("PYTHONPATH")]))
    env = dict(os.environ, PYTHONPATH=path, SPARK_GRAFT_CPUS="2")
    run = subprocess.run(
        [sys.executable, "-c", script, sf_dir],
        cwd=repo,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-4000:]
    assert "stopped" in run.stdout


def test_generated_kernels_compile_once(spark):
    """A mix of distinct generated classes bigger than Spark's default
    codegen cache (100 entries in 4 LRU segments of 25) compiles each
    class once: re-running it adds no Janino compiles. 60 one-kernel
    queries make 120 entries, one per query under the driver thread's
    classloader and one under the executor task loader."""
    from pyspark.sql import functions as F

    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME()

    def run_mix() -> int:
        before = compiles.getCount()
        for i in range(60):
            df = spark.range(4).select((F.col("id") * 7 + i).alias("x"))
            df.write.format("noop").mode("overwrite").save()
        return compiles.getCount() - before

    assert run_mix() > 0
    assert run_mix() == 0
