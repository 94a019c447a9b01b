"""Per-layer measurement for the traced run.

Everything here observes the program from outside: spans the benchmark
records around its own calls into each layer, the Spark status REST API
(``/stages`` and ``/sql``, served when ``SPARK_GRAFT_UI=true``), a
``StreamingQueryListener`` registered on the benchmark's session, and a
timing wrapper around ``catalog.load_table``. Spans stay in memory and
are written out once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import re
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from facebook_ad_library_data_pipeline_spark import catalog

PKG = "facebook_ad_library_data_pipeline_spark"
OP_LAYERS = ["operators", "functions", "multimodal", "sources", "streaming"]
TASK_LAYERS = ["adslib"] + OP_LAYERS
_TASK_METRICS = ["tasks", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                 "executor_run_s", "executor_cpu_s", "gc_s", "core_util"]
_STREAM_METRICS = ["batches", "trigger_s", "add_batch_s", "wal_commit_s", "state_commit_s",
                   "state_rows_total", "state_mem_bytes", "rows_dropped_by_watermark", "idle_s"]
ADS_STAGES = ["read_raw_ads", "parse_ads", "validate_split", "dedup_ads"]

# Every per-layer metric the traced run reports, with its unit. A layer
# a workload never calls reports 0.
PER_LAYER: dict[str, str] = {
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "warmup.pass_s": "s",
    "catalog.load_table_s": "s",
    "catalog.load_table_calls": "count",
    "catalog.scan_s": "s",
    "spark.input_bytes": "B",
    "spark.jvm_peak_rss_mb": "MB",
    **{f"adslib.{s}_s": "s" for s in ADS_STAGES},
    "adslib.generate_report_s": "s",
    "adslib.stage_counts_s": "s",
    "adslib.raw_ads_in": "count",
    **{f"adslib.{s}_rows_out": "count" for s in ADS_STAGES},
    "adslib.quarantine_rows_out": "count",
    **{f"{layer}.{m}": u for layer in OP_LAYERS
       for m, u in [("plan_build_s", "s"), ("exec_s", "s"), ("ops", "count"),
                    ("failed_ops", "count")]},
    **{f"{layer}.{m}": ("s" if m.endswith("_s") else "B" if m.endswith("bytes")
                        else "ratio" if m == "core_util" else "count")
       for layer in TASK_LAYERS for m in _TASK_METRICS},
    "python.bytes_to_worker": "B",
    "python.bytes_from_worker": "B",
    "python.rows_returned": "count",
    "sources.write_s": "s",
    "sources.output_bytes_per_input_byte": "ratio",
    **{f"streaming.{m}": ("s" if m.endswith("_s") else "B" if m.endswith("bytes")
                          else "count") for m in _STREAM_METRICS},
    "verify.oracle_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL-metric string from the status API as a number: bytes for
    sizes, seconds for times. Per-task breakdowns ("total (min, med,
    max ...)\\n<total> (...)") read as their total."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.search(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


class _ProgressListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self.lock:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def drain(self) -> list[dict]:
        with self.lock:
            out, self.progress = self.progress, []
        return out


class Tracer:
    """Spans plus per-operation counters for one traced run."""

    def __init__(self, spark: SparkSession, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.api = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
        self.listener = _ProgressListener()
        spark.streams.addListener(self.listener)
        self._load_table = catalog.load_table
        self._patched: list[object] = []
        self.load_table_s = 0.0
        self.load_table_calls = 0
        self._sync()
        self._last_stage = max((s["stageId"] for s in self._get("stages")), default=-1)
        self._sql_seen = len(self._sql_from(0))

    def _sql_from(self, index: int) -> list[dict]:
        # The list is ordered by execution id; ids are JVM-wide and do not
        # restart with a new SparkContext, so page by position, not id.
        return self._get(f"sql?details=true&planDescription=false&offset={index}"
                         "&length=100000")

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, layer: str):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append({"run_id": self.run_id, "span_id": sid, "parent_id": parent,
                               "name": name, "layer": layer, "start": start,
                               "end": time.perf_counter()})

    def flush(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")

    # -- catalog.load_table wrapper -----------------------------------------

    def patch_catalog(self) -> None:
        """Route every module-level reference to ``catalog.load_table``
        through a timing wrapper (queries import it by name)."""
        original = self._load_table

        def load_table(spark, sf_dir, name):
            t0 = time.perf_counter()
            with self.span(f"load_table:{name}", "catalog"):
                df = original(spark, sf_dir, name)
            self.load_table_s += time.perf_counter() - t0
            self.load_table_calls += 1
            return df

        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith(PKG)
                    and getattr(mod, "load_table", None) is original):
                mod.load_table = load_table
                self._patched.append(mod)

    def unpatch_catalog(self) -> None:
        for mod in self._patched:
            mod.load_table = self._load_table
        self._patched = []

    # -- status API ----------------------------------------------------------

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.api}/{path}", timeout=30) as r:
            return json.load(r)

    def _sync(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store and the streaming listener are complete."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def collect_op(self, op_wall_s: float) -> dict[str, float]:
        """Counters of everything that ran since the previous call."""
        self._sync()
        stages = [s for s in self._get("stages?status=complete")
                  if s["stageId"] > self._last_stage]
        stages += [s for s in self._get("stages?status=failed")
                   if s["stageId"] > self._last_stage]
        if stages:
            self._last_stage = max(s["stageId"] for s in stages)
        execs = self._sql_from(self._sql_seen)
        self._sql_seen += len(execs)

        out = {
            "tasks": sum(s["numTasks"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
            "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "input_bytes": 0.0,
            "output_bytes": sum(s["outputBytes"] for s in stages),
            "scan_s": 0.0,
            "py_to": 0.0,
            "py_from": 0.0,
            "py_rows": 0.0,
        }
        for e in execs:
            for node in e.get("nodes", []):
                metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
                if "scan time" in metrics:
                    out["scan_s"] += parse_metric(metrics["scan time"])
                if "size of files read" in metrics:
                    out["input_bytes"] += parse_metric(metrics["size of files read"])
                if "data sent to Python workers" in metrics:
                    out["py_to"] += parse_metric(metrics["data sent to Python workers"])
                    out["py_from"] += parse_metric(
                        metrics.get("data returned from Python workers", "0"))
                    out["py_rows"] += parse_metric(metrics.get("number of output rows", "0"))

        progress = self.listener.drain()
        trigger = sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1e3
        states = [s for p in progress for s in p.get("stateOperators", [])]
        last_state: dict[str, dict] = {}
        for p in progress:  # state size at each query's last batch
            for i, s in enumerate(p.get("stateOperators", [])):
                last_state[f"{p['id']}/{i}"] = s
        out.update({
            "batches": len(progress),
            "trigger_s": trigger,
            "add_batch_s": sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1e3,
            "wal_commit_s": sum(p["durationMs"].get("walCommit", 0) for p in progress) / 1e3,
            "state_commit_s": sum(s.get("commitTimeMs", 0) for s in states) / 1e3,
            "state_rows_total": sum(s.get("numRowsTotal", 0) for s in last_state.values()),
            "state_mem_bytes": sum(s.get("memoryUsedBytes", 0) for s in last_state.values()),
            "rows_dropped_by_watermark": sum(s.get("numRowsDroppedByWatermark", 0)
                                             for s in states),
            "idle_s": max(0.0, op_wall_s - trigger) if progress else 0.0,
        })
        return out


def pass_metrics(records: list[dict], cores: int) -> dict[str, float]:
    """Fold one traced pass's per-operation records into per-layer
    metrics. Each record holds the op's layer, its plan-build and
    execution times, whether it failed or writes files, and the
    counters from ``Tracer.collect_op``."""
    m: dict[str, float] = {}
    for layer in OP_LAYERS:
        mine = [r for r in records if r["layer"] == layer]
        m[f"{layer}.plan_build_s"] = sum(r["plan_build_s"] for r in mine)
        m[f"{layer}.exec_s"] = sum(r["exec_s"] for r in mine)
        m[f"{layer}.ops"] = len(mine)
        m[f"{layer}.failed_ops"] = sum(r["failed"] for r in mine)
    for layer in TASK_LAYERS:
        mine = [r for r in records if r["layer"] == layer]
        c = {k: sum(r["counters"][k] for r in mine) for k in _TASK_METRICS if k != "core_util"}
        for k, v in c.items():
            m[f"{layer}.{k}"] = v
        wall = sum(r["plan_build_s"] + r["exec_s"] for r in mine)
        m[f"{layer}.core_util"] = c["executor_run_s"] / (wall * cores) if wall else 0.0
    total = {k: sum(r["counters"][k] for r in records)
             for k in ["input_bytes", "output_bytes", "scan_s", "py_to", "py_from", "py_rows"]}
    m["catalog.load_table_s"] = sum(r["load_table_s"] for r in records)
    m["catalog.load_table_calls"] = sum(r["load_table_calls"] for r in records)
    m["catalog.scan_s"] = total["scan_s"]
    m["spark.input_bytes"] = total["input_bytes"]
    m["python.bytes_to_worker"] = total["py_to"]
    m["python.bytes_from_worker"] = total["py_from"]
    m["python.rows_returned"] = total["py_rows"]
    m["sources.write_s"] = sum(r.get("write_s", 0.0) for r in records)
    m["sources.output_bytes_per_input_byte"] = (
        total["output_bytes"] / total["input_bytes"] if total["input_bytes"] else 0.0)
    for k in _STREAM_METRICS:
        m[f"streaming.{k}"] = sum(r["counters"][k] for r in records if r["layer"] == "streaming")
    for name in ("generate_report", "pipeline_stage_counts"):
        key = "adslib.stage_counts_s" if name == "pipeline_stage_counts" else f"adslib.{name}_s"
        m[key] = sum(r["plan_build_s"] + r["exec_s"] for r in records if r["name"] == name)
    return m
