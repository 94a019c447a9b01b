"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs ``bench.py`` for one workload in a child process with:

* the session sized for this host through the package's own knobs:
  ``SPARK_GRAFT_CPUS`` = half the usable cores (at least one),
  ``SPARK_GRAFT_DRIVER_MEM`` = a quarter of physical memory, 1 to 4 GiB;
* ``PYTHONHASHSEED=0`` for the driver and the Python workers;
* ``TMPDIR``, ``SPARK_LOCAL_DIRS``, the JVM's ``java.io.tmpdir`` and the
  working directory inside a fresh run directory under
  ``.perfbench_run/``, so no run inherits another's checkpoints, stream
  directories or sink debris;
* a time limit, after which the child's whole process group is killed.

It waits until every process of the run has ended, killing what is
left a few seconds after the child exits. Afterwards it reports the
bytes the run left in its temporary directories, deletes the run
directory and prints the child's result JSON as the last line. It exits non-zero, printing no result, when the
child fails.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIME_LIMIT_S = 170
PR_SET_CHILD_SUBREAPER = 36


def spark_cores() -> int:
    """Task slots for the session: half the usable cores. The other half
    keeps the driver, the JIT compiler and GC threads, and the Python
    workers off the task threads' cores, so that a run measures the
    program and not the scheduler of a shared host."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def driver_mem() -> str:
    with open("/proc/meminfo") as f:
        total_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(4, total_kib // 2**20 // 4))}g"


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass
    return total


def _kill_group(pgid: int, sig: int) -> None:
    try:
        os.killpg(pgid, sig)
    except ProcessLookupError:
        pass


def _descendants(root: int) -> list[int]:
    """Every live descendant of ``root``, from the parent links in ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # ended while the list was read
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    found, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        found += kids
        todo += kids
    return found


def _stop_descendants(grace_s: float) -> None:
    """Reap every process left below this one, killing those still alive
    after ``grace_s``. This process is a child subreaper, so the run's
    orphans (the JVM once ``bench.py`` has exited; the Python worker
    daemon, which puts itself in a process group of its own) become its
    children."""
    kill_at = time.monotonic() + grace_s
    give_up_at = kill_at + 10.0
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:  # none left
            return
        now = time.monotonic()
        if now > give_up_at:
            raise RuntimeError("processes of the run survived SIGKILL")
        if now > kill_at:
            for pid in _descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench launcher")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    # Orphans of the run (the JVM, the Python worker daemon) are
    # re-parented to this process, so it can kill and reap every one.
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    data = os.path.join(run_dir, "data")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in (tmp, local, data):
        os.makedirs(d)
    env = dict(os.environ)
    mem = driver_mem()
    env.update({
        "SPARK_GRAFT_CPUS": str(spark_cores()),
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "SPARK_GRAFT_UI": "true" if args.trace else "false",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        # Relative to the working directory (the run directory): Spark
        # binds Unix-domain sockets under java.io.tmpdir, and an absolute
        # path there can exceed the 107-byte socket path limit.
        "JAVA_TOOL_OPTIONS": "-Djava.io.tmpdir=tmp",
        # Fixed string hashing in the driver and the Python workers, so
        # set and dict order cannot differ between runs of one input.
        "PYTHONHASHSEED": "0",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
    })
    cmd = [sys.executable, os.path.join(HERE, "bench.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--data-dir", data]
    child = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, text=True,
                             start_new_session=True)
    timed_out = False
    try:
        out, _ = child.communicate(timeout=TIME_LIMIT_S)
    except subprocess.TimeoutExpired:
        timed_out = True
        _kill_group(child.pid, signal.SIGTERM)
        try:
            out, _ = child.communicate(timeout=10)
        except subprocess.TimeoutExpired:
            _kill_group(child.pid, signal.SIGKILL)
            out, _ = child.communicate()
    finally:
        # After a normal exit the JVM and the worker daemon follow the
        # driver within a moment (their pipes close); give them that,
        # so that Spark's shutdown hooks clean up, then kill the rest.
        _stop_descendants(grace_s=0.0 if timed_out else 5.0)

    leftover = tree_bytes(run_dir) - tree_bytes(data)
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(run_dir))
    except OSError:
        pass
    if timed_out or child.returncode != 0:
        sys.stderr.write(out)
        reason = f"exceeded {TIME_LIMIT_S} s" if timed_out else f"exited with {child.returncode}"
        print(f"# bench.py {reason}", file=sys.stderr)
        return 1
    lines = out.rstrip("\n").split("\n")
    result = json.loads(lines[-1])
    print("\n".join(lines[:-1]))
    print(f"# left behind in the run directory: {leftover} bytes (deleted)")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
