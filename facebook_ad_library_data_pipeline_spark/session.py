"""SparkSession factory and the one owner of session policy.

Reference behavior being replaced: a single-process pandas pipeline
(``/root/reference/main.py:13-25``) with UTC-pinned datetimes
(``transform_raw_data.py:53``, ``generate_report.py:14,24``). We pin the
Spark session timezone to UTC so timestamp semantics match both the
reference and the DuckDB oracle (UTC-naive timestamps).

Scale posture: AQE on (runtime coalesce + skew-join splitting),
shuffle partitions = task slots (on a real cluster this is
``2-3 × total executor cores``). Slots and heap are sized to the host
(``default_cpus``/``default_driver_mem``); ``SPARK_GRAFT_CPUS`` and
``SPARK_GRAFT_DRIVER_MEM`` override them.

Session contract: a query never leaves the caller's conf changed. A
query-local setting goes on a ``newSession()`` child or a reader/writer
option. Every stream starts in ``streaming.events.run_stream``, the one
caller of ``conf_scope``, at shuffle partitions = the session's task
slots; only a checkpoint builder whose output names its shard count
passes its own. The one exception: ``catalog.load_table`` and
``events.load_events_stream`` set ``spark.sql.session.timeZone=UTC`` and
``spark.sql.legacy.parquet.nanosAsLong=true`` on the caller's session.
Neither setting has a reader-option form, the frames they return carry
the caller's session (so a child session would not do), and
``get_spark`` sets both at build, so on its sessions they are no-ops.

Scratch files live under ``work_dir``: one dir per Spark application,
inside Spark's own per-application files root, so Spark removes it at
stop and no two applications ever share a scratch path. In-memory
reuse lives in ``once``, one application's lifetime.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from collections.abc import Callable, Hashable, Iterator
from contextlib import contextmanager
from pathlib import Path
from typing import TypeVar

from pyspark import SparkFiles
from pyspark.sql import SparkSession

T = TypeVar("T")


def default_cpus() -> str:
    """Task slots: every CPU this process may run on."""
    return str(len(os.sched_getaffinity(0)))


def default_driver_mem() -> str:
    """Driver heap: a quarter of physical memory, clamped to 1-16g.

    NOT the biggest heap that fits: with an oversized heap (90g) GC
    almost never runs, so the GC-triggered ContextCleaner never purges
    finished broadcasts/shuffle state — profiled 2-50× degradation over
    a 67-query session. The 16g cap keeps GC regular."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(16 * 1024, max(1024, kib // 4 // 1024))}m"


def work_dir(spark: SparkSession) -> Path:
    """This application's scratch dir, created on first use.

    It sits under the driver's files root
    (``<spark.local.dir>/spark-<uuid>/userFiles-<uuid>``), which the
    SparkContext creates at start-up, also on a session the caller
    built, and deletes at ``stop()``. Every path the package writes
    that the caller did not name goes here."""
    d = Path(SparkFiles.getRootDirectory()) / "spark_graft"
    d.mkdir(exist_ok=True)
    return d


def sf_tag(sf_dir: str) -> str:
    """Digest of the absolute ``sf_dir``, for naming what is built from
    it: two data dirs that share a basename get separate layouts."""
    return hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]


# The one in-memory memo: values built for the application _memo_app.
# PySpark runs one SparkContext per process, so entries of an earlier
# application are dead (stopped frames, a stopped session's children)
# and are dropped when a new one first asks.
_memo: dict[tuple, object] = {}
_memo_app: str | None = None


def once(spark: SparkSession, key: tuple[Hashable, ...], build: Callable[[], T]) -> T:
    """``build()`` the first time this application asks for ``key``,
    the stored value after that. ``key`` starts with the owning
    module's ``__name__``, so modules cannot collide. A ``build`` that
    raises stores nothing; a ``None`` result is stored like any other."""
    global _memo_app
    app = spark.sparkContext.applicationId
    if app != _memo_app:
        _memo.clear()
        _memo_app = app
    if key not in _memo:
        _memo[key] = build()
    return _memo[key]  # type: ignore[return-value]


def build_once(spark: SparkSession, name: str, build: Callable[[Path], None]) -> str:
    """``work_dir(spark) / name``, written by ``build(path)`` the first
    time this application asks for it. The path is cleared before the
    build, so a retry after a failed build starts clean."""
    out = work_dir(spark) / name

    def clear_and_build() -> None:
        shutil.rmtree(out, ignore_errors=True)
        build(out)

    once(spark, (__name__, name), clear_and_build)
    return str(out)


@contextmanager
def conf_scope(spark: SparkSession, settings: dict[str, str]) -> Iterator[None]:
    """Apply ``settings`` to ``spark``'s conf for the body, then restore
    each key exactly: its old value, or ``unset`` if it had none (a
    get-then-set restore would turn "unset" into an explicit value).

    The bounded-stream runner's (``streaming.events.run_stream``):
    ``DataStreamWriter.start()`` clones the session, so the started
    query keeps the settings and the caller's conf is back as it was
    before the drain begins."""
    prev = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def get_spark(app_name: str = "facebook_ad_library_data_pipeline_spark") -> SparkSession:
    """Build (or fetch) the tuned local session.

    All knobs are configuration, not custom Catalyst code (SURVEY.md §4):
    UTC session tz, AQE + partition coalescing + skew-join handling,
    Arrow for pandas interchange, shuffle partitions = task slots, and a
    codegen class cache big enough that a repeated query mix compiles
    each generated class once per application (no per-pass recompiles
    for the JIT to warm up again).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or default_cpus()
    # Task retries: local mode takes maxFailures from the MASTER STRING
    # (local[N] pins it to 1; spark.task.maxFailures is ignored), so
    # retry-path tests/evidence (injected first-attempt task failures —
    # the cluster reality of speculative execution and preemption) opt
    # in via env. Unset = fail-fast local[N], so ordinary test runs
    # still surface flaky tasks instead of silently retrying them.
    # `or None`: a SET-BUT-EMPTY var behaves as unset (shells and CI
    # configs blank vars more often than they unset them)
    retries = os.environ.get("SPARK_GRAFT_TASK_RETRIES") or None
    if retries is not None and (not retries.isdecimal() or int(retries) < 1):
        # fail HERE with the env var's name, not later with Spark's
        # opaque "could not parse Master URL"; note the value is
        # maxFailures (1 = fail on first failure, same as unset local[N];
        # 2 = one retry), so 0 is meaningless rather than "default"
        raise ValueError(
            "SPARK_GRAFT_TASK_RETRIES must be a positive integer "
            f"(spark maxFailures: 2 = one retry), got {retries!r}"
        )
    master = f"local[{cpus},{retries}]" if retries else f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(),
        )
        # UI off for bench/test hygiene; perfbench --trace 1 flips it
        # on to read per-stage metrics from the REST API
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Bucketed scans stay bucket-aware even for plain lookups (the
        # planner otherwise auto-disables them and forfeits bucket
        # PRUNING); set at session build so shared-session plans are
        # independent of query execution order (q_bucket_pruned_lookup
        # also sets it defensively for driver-built cold sessions).
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        # events.parquet carries TIMESTAMP(NANOS) which Spark's reader
        # rejects; read as long nanos and convert in the catalog loader
        # (truncating to micros, matching DuckDB's ns→µs behavior).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # State-store maintenance (RocksDB snapshot upload) runs on ONE
        # JVM-wide scheduled task whose interval is captured from the
        # first query that ever loads a state store — a later query's
        # own interval conf is ignored. The 60s production default
        # makes snapshot_checkpoint (which must AWAIT a snapshot
        # upload) stall up to a minute on bounded local runs; 2s ticks
        # over a handful of loaded providers are noise here. Cold
        # driver-built sessions keep the default and rely on
        # snapshot_checkpoint's longer deadline instead.
        .config("spark.sql.streaming.stateStore.maintenanceInterval", "2s")
        # Unix-domain sockets for every JVM<->Python channel (Spark 4.1):
        # workers, Arrow batches, the tws state server. Same-host IPC
        # without loopback-TCP handshake/port churn — measured A/B in
        # OPTIMIZATION_r16.md §8.
        .config("spark.python.unix.domain.socket.enabled", "true")
        # Janino-compiled classes are cached per (context classloader,
        # generated source). The static default of 100 entries is split
        # by Guava into 4 LRU segments of 25; the ads_etl mix compiles
        # 94 classes (under the driver thread's loader and the executor
        # task loader), so every warm pass recompiled 15-19 evicted
        # classes (4 and 2 slots) and the JIT profiled and compiled them
        # afresh. 1000 = 4 x 250, about 10x the largest measured mix.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
