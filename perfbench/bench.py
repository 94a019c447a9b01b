"""One benchmark run of one workload, in this process.

Started by ``run.py``, which sizes the session, isolates the temporary
directories, enforces the time limit and cleans up. The run:

1. generates the workload's inputs from the seed;
2. sets up once, cold, as a fresh spark-submit would: ``get_spark``
   (which starts the JVM), ``load_all`` (which imports the query
   modules) and one warm-up pass of the workload's mix (cold JIT,
   Python worker start, first scans); their sum is ``setup_s``;
3. runs passes over the mix, one operation at a time (one client,
   closed loop), until ``--seconds`` have passed;
4. checks the output of every operation's last run, outside the timed
   region;
5. prints a report and, as its last line, the result JSON.

With ``--trace 1`` the timed window is split: the first half runs
untraced, the second half traced, and the result holds the per-layer
metrics of the traced half plus the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from facebook_ad_library_data_pipeline_spark.registry import load_all  # noqa: E402
from facebook_ad_library_data_pipeline_spark.session import get_spark  # noqa: E402
from perfbench import workloads  # noqa: E402

MIN_PASSES = 4
TRACED_MIN_PASSES = 2  # for each half of a traced run
CLK_TCK = os.sysconf("SC_CLK_TCK")

# Every end-to-end metric is printed; the result line carries those in
# BOUNDED, the end-to-end metrics of BENCHMARK.json. The wall-time
# metrics other than setup_s are left out of it: on a shared host, runs
# of the same code whose cores the host lent to other guests for a few
# per cent of the time (steal) took up to half as long again, so their
# spread between runs exceeds any bound BENCHMARK.json may set.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "wall_s": "s",
    "op_latency_p50_s": "s",
    "op_latency_p90_s": "s",
    "input_rows_per_s": "1/s",
}
BOUNDED = ["setup_s", "cpu_s"]


def _error_line(e: BaseException) -> str:
    text = str(e).strip().splitlines()
    return f"{type(e).__name__}: {text[0][:300] if text else ''}"


def run_pass(spark, ops, tracer=None) -> tuple[float, list[dict]]:
    """Run every operation once; return the pass time and one record
    per operation."""
    records = []
    start = time.perf_counter()
    for op in ops:
        rec = {"name": op.name, "layer": op.layer, "failed": 0, "error": None, "handle": None}
        if tracer is not None:
            lt_s, lt_calls = tracer.load_table_s, tracer.load_table_calls
            op_span = tracer.span(op.name, op.layer)
            op_span.__enter__()
        t0 = t1 = time.perf_counter()
        try:
            if tracer is None:
                handle = rec["handle"] = op.build(spark)
                t1 = time.perf_counter()
                op.materialize(handle)
            else:
                with tracer.span("plan_build", op.layer):
                    handle = rec["handle"] = op.build(spark)
                t1 = time.perf_counter()
                with tracer.span("exec", "spark"):
                    op.materialize(handle)
        except Exception as e:  # a failing op is counted, not fatal
            rec["failed"], rec["error"] = 1, _error_line(e)
        t2 = time.perf_counter()
        rec.update(plan_build_s=t1 - t0, exec_s=t2 - t1, latency_s=t2 - t0)
        if tracer is not None:
            op_span.__exit__(None, None, None)
            rec["counters"] = tracer.collect_op(rec["latency_s"])
            rec["load_table_s"] = tracer.load_table_s - lt_s
            rec["load_table_calls"] = tracer.load_table_calls - lt_calls
            if op.written is not None and not rec["failed"]:
                t3 = time.perf_counter()
                for df in op.written(handle):
                    workloads.noop_write(df)
                rec["write_s"] = max(0.0, rec["exec_s"] - (time.perf_counter() - t3))
                tracer.collect_op(0.0)  # drop the counters of the noop writes
        records.append(rec)
    return time.perf_counter() - start, records


def tree_cpu_s(root: int) -> float:
    """CPU time (user + system, including that of reaped children) of
    ``root`` and every live descendant: the driver, the Spark JVM, the
    Python worker daemon and its workers. Read from ``/proc``."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while the list was read
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / CLK_TCK


def timed_window(spark, ops, seconds: float, min_passes: int,
                 tracer=None) -> list[tuple[float, list[dict], float]]:
    """Passes over the mix until ``seconds`` have passed; each is (pass
    time, operation records, CPU seconds the engine's processes spent)."""
    passes = []
    deadline = time.perf_counter() + seconds
    while len(passes) < min_passes or time.perf_counter() < deadline:
        cpu0 = tree_cpu_s(os.getpid())
        dt, records = run_pass(spark, ops, tracer)
        passes.append((dt, records, tree_cpu_s(os.getpid()) - cpu0))
    return passes


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (failed operations enter as +inf)."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def _cpu_jiffies() -> tuple[int, int] | None:
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except (OSError, ValueError, IndexError):
        return None


def _boot_id() -> str | None:
    try:
        with open("/proc/sys/kernel/random/boot_id") as f:
            return f.read().strip()
    except OSError:
        return None


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def ads_stage_metrics(spark, tracer, raw: str, repeats: int = 3) -> dict[str, float]:
    """Per-stage self time of the ads transform from cumulative-prefix
    materializations, and rows out of each stage."""
    prefixes = workloads.ads_stage_prefixes(spark, raw)
    cumulative = []
    for name, df in prefixes[:-1]:
        samples = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            with tracer.span(f"prefix:{name}", "adslib"):
                workloads.noop_write(df)
            samples.append(time.perf_counter() - t0)
        cumulative.append(statistics.median(samples))
    m = {}
    for i, (name, df) in enumerate(prefixes):
        m[f"adslib.{name}_rows_out"] = df.count()
        if name != "quarantine":
            m[f"adslib.{name}_s"] = cumulative[i] - (cumulative[i - 1] if i else 0.0)
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WHY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data-dir", required=True, help="where the generated inputs go")
    args = ap.parse_args()

    jiffies0 = _cpu_jiffies()
    t0 = time.perf_counter()
    inputs = workloads.make_inputs(args.workload, args.data_dir, args.seed)
    datagen_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    registry = load_all()
    t2 = time.perf_counter()
    ops = workloads.build_ops(args.workload, registry, inputs)
    _, warm = run_pass(spark, ops)
    t3 = time.perf_counter()
    setup = {"get_spark_s": t1 - t0, "load_all_s": t2 - t1, "pass_s": t3 - t2, "total_s": t3 - t0,
             "op_s": {r["name"]: round(r["latency_s"], 3) for r in warm},
             "errors": {r["name"]: r["error"] for r in warm if r["failed"]}}

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        plain = timed_window(spark, ops, args.seconds / 2, TRACED_MIN_PASSES)
        tracer = Tracer(spark, f"{args.workload}-{args.seed}-{os.getpid()}")
        tracer.patch_catalog()
        traced = timed_window(spark, ops, args.seconds / 2, TRACED_MIN_PASSES, tracer)
        tracer.unpatch_catalog()
    else:
        plain = timed_window(spark, ops, args.seconds, MIN_PASSES)
        traced = []

    t0 = time.perf_counter()
    check_errors = {}
    last_pass = (plain + traced)[-1][1]
    for op, rec in zip(ops, last_pass):
        try:
            msg = op.check(rec["handle"]) if rec["handle"] is not None else "no output"
        except Exception as e:  # a crashing check is a failed check
            msg = _error_line(e)
        if msg is not None:
            check_errors[op.name] = msg
    verify_s = time.perf_counter() - t0

    records = [r for _, recs, _ in plain + traced for r in recs]
    run_errors = {r["name"]: r["error"] for r in records if r["failed"]}
    failed = sum(1 for r in records if r["failed"] or r["name"] in check_errors)
    attempted = len(records)
    plain_recs = [r for _, recs, _ in plain for r in recs]
    # A failed operation (raised, or its output failed the check) takes
    # forever: it exceeds every percentile and makes the pass endless, so
    # breaking a slow operation can never improve a metric.
    latencies = [math.inf if r["failed"] or r["name"] in check_errors else r["latency_s"]
                 for r in plain_recs]
    op_mean = {op.name: statistics.fmean(lat for r, lat in zip(plain_recs, latencies)
                                         if r["name"] == op.name) for op in ops}
    # One pass: the mean over the timed passes of the sum of their
    # operations' latencies. The JVM is still compiling hot code during
    # these passes, so each is faster than the one before; the mean over
    # all of them varied less between runs than the fastest pass, or the
    # sum of each operation's fastest run, which hinge on when the last
    # compilations land. A failed operation makes wall_s infinite.
    wall_s = sum(op_mean.values())
    # CPU seconds the engine's processes spent per timed pass, mean over
    # the passes; infinite when an operation failed. Time the host gives
    # to other guests on this machine's cores is not charged to them, so
    # it grows far less than wall time with the host's load.
    cpu_s = statistics.fmean(cpu for *_, cpu in plain) if failed == 0 else math.inf
    jvm_rss_mb = _vm_hwm_mb(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    e2e = {
        "setup_s": setup["total_s"],
        "cpu_s": cpu_s,
        "wall_s": wall_s,
        "op_latency_p50_s": percentile(latencies, 0.5),
        "op_latency_p90_s": percentile(latencies, 0.9),
        "input_rows_per_s": sum(op.input_rows for op in ops) / wall_s,
    }
    samples = {"setup_s": 1, "cpu_s": len(plain), "wall_s": len(plain),
               "op_latency_p50_s": len(latencies), "op_latency_p90_s": len(latencies),
               "input_rows_per_s": len(plain)}

    if tracer is not None:
        from perfbench import trace

        cores = spark.sparkContext.defaultParallelism
        per_pass = [trace.pass_metrics(recs, cores) for _, recs, _ in traced]
        metrics = dict.fromkeys(trace.PER_LAYER, 0.0)  # layers this workload never calls
        metrics.update({k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]})
        metrics.update({
            "session.get_spark_s": setup["get_spark_s"],
            "registry.load_all_s": setup["load_all_s"],
            "warmup.pass_s": setup["pass_s"],
            "spark.jvm_peak_rss_mb": jvm_rss_mb,
            "verify.oracle_s": verify_s,
            "trace.overhead_s": statistics.median(dt for dt, *_ in traced)
            - statistics.median(dt for dt, *_ in plain),
            "adslib.raw_ads_in": inputs.ads_expect.n_ads if inputs.ads_expect else 0,
        })
        if args.workload == "ads_etl":
            metrics.update(ads_stage_metrics(spark, tracer, inputs.ads_dir))
        metrics["trace.spans"] = len(tracer.spans)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.flush(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        result_metrics = {k: {"value": metrics[k], "unit": u} for k, u in trace.PER_LAYER.items()}
    else:
        result_metrics = {k: {"value": e2e[k] if math.isfinite(e2e[k]) else None,
                              "unit": END_TO_END[k]} for k in BOUNDED}

    spark.stop()

    jiffies1 = _cpu_jiffies()
    steal = None
    if jiffies0 and jiffies1 and jiffies1[1] > jiffies0[1]:
        steal = 100.0 * (jiffies1[0] - jiffies0[0]) / (jiffies1[1] - jiffies0[1])

    print(f"# workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"passes {len(plain)}+{len(traced)}  ops/pass {len(ops)}")
    for k, u in END_TO_END.items():
        print(f"#   {k:<18} {e2e[k]:>14.4f} {u:<4} n={samples[k]}")
    print(f"#   {'failed_op_frac':<18} {failed / attempted:>14.4f} 1    n={attempted}")
    print(f"#   {'jvm_peak_rss_mb':<18} {jvm_rss_mb:>14.4f} MB   n=1")
    print(f"#   correct: {failed == 0}  verify.oracle_s {verify_s:.3f}")
    for name, err in {**run_errors, **check_errors}.items():
        print(f"#   FAILED {name}: {err}")
    detail = {
        "settings": {k: os.environ.get(k) for k in (
            "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_UI",
            "TMPDIR", "SPARK_LOCAL_DIRS")},
        "steal_pct": steal,
        "boot_id": _boot_id(),
        "datagen_s": datagen_s,
        "setup": setup,
        "failed_op_frac": failed / attempted,
        "pass_s": [round(dt, 3) for dt, *_ in plain + traced],
        "pass_cpu_s": [round(cpu, 2) for *_, cpu in plain + traced],
        "op_mean_s": op_mean,
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
