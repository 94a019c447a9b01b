"""Self-test: the benchmark's timing call executes Python-UDF columns.

    python3 perfbench/selftest.py

A ``pandas_udf`` that sleeps and leaves a marker file per batch is put
on a 4-partition DataFrame. The benchmark materializes operations with
``workloads.noop_write``; this checks that the call runs the UDF (marker
files appear, wall time at least one sleep) and shows, for contrast,
that ``count()`` prunes the column (no markers). Exits 0 when the noop
write executed the UDF, 1 otherwise.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from facebook_ad_library_data_pipeline_spark.session import get_spark  # noqa: E402
from perfbench.workloads import noop_write  # noqa: E402

SLEEP_S = 1.0
PARTITIONS = 4


def main() -> int:
    markers = os.path.join(ROOT, ".perfbench_run", f"selftest-{os.getpid()}")
    os.makedirs(markers)

    @F.pandas_udf(T.LongType())
    def slow_identity(ids: pd.Series) -> pd.Series:
        time.sleep(SLEEP_S)
        with open(os.path.join(markers, f"{os.getpid()}-{time.time_ns()}"), "w"):
            pass
        return ids

    spark = get_spark("perfbench-selftest")
    try:
        df = spark.range(0, 400, numPartitions=PARTITIONS).withColumn(
            "slow", slow_identity("id"))
        results = {}
        for name, action in (("count", df.count), ("noop_write", lambda: noop_write(df))):
            before = len(os.listdir(markers))
            t0 = time.perf_counter()
            action()
            results[name] = (time.perf_counter() - t0, len(os.listdir(markers)) - before)
            print(f"{name:<10} {results[name][0]:6.2f} s  udf batches run: {results[name][1]}")
    finally:
        spark.stop()
        shutil.rmtree(markers, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(markers))
        except OSError:
            pass

    wall, batches = results["noop_write"]
    ok = batches >= PARTITIONS and wall >= SLEEP_S
    print("PASS: noop_write executed the pandas_udf column" if ok
          else "FAIL: noop_write did not execute the pandas_udf column")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
