"""polario_spark benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (see ``perfbench/workloads.json``
for sizes, membership and why each was chosen):

- ``hive_lifecycle``: HiveDataset write, appends, partition listing,
  point reads, full scan, subset overwrite, compaction and delete on a
  frame generated in-process from the seed;
- ``registry``: registry entries from both groups of the membership --
  those dominated by the per-entry floor and those dominated by executor
  data work -- with per-layer time for each group and data module.

Each run starts the workload in a fresh Python process and JVM
(``perfbench/workload.py``) on ``local[<half the cpus>]``, with a driver heap
sized from host memory and its own scratch roots under
``.bench_build/`` (Spark local dirs, TMPDIR, the library's work dirs,
the warehouse), all deleted when the run ends. The last line of
standard output is the result: ``{"correct", "attempted", "failed",
"metrics"}``; with ``--trace 0`` the metrics are the end-to-end ones,
with ``--trace 1`` the per-layer ones (spans are also written to
``.bench_build/trace_<workload>.json``). End-to-end times are CPU
seconds of the workload's processes, which leave out time spent
waiting for a CPU; the line before the result carries the wall-clock
figures (``wall_s``, ``op_p50_s``, ``op_tail_s`` and the percentile it
stands at), the CPU time of the median op kind's op (``op_cpu_p50_s``),
the sample count, the error rate, the peak RSS and any failure messages.

The registry workload reads the library's read-only gate corpus (the
sf0.01 tables its oracle gate uses; ``SPARK_GRAFT_ORACLE_SF_DIR``
overrides where); ``hive_lifecycle`` generates its input in-process.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("hive_lifecycle", "registry")
CHILD_TIMEOUT_S = 170


def host_memory_bytes() -> int:
    """Physical memory, capped by a cgroup v2 or v1 limit when one is set."""
    limit = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as fh:
                value = fh.read().strip()
        except OSError:
            continue
        if value.isdigit():
            limit = min(limit, int(value))
    return limit


def driver_memory(total_bytes: int) -> str:
    """A quarter of host memory for the driver heap, between 1g and 8g:
    the workloads need little heap, and the host is shared."""
    return f"{max(1, min(8, total_bytes // 4 // 2**30))}g"


def host_env(run_dir: str) -> dict[str, str]:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env.update({
        # half the CPUs: the JVM's JIT compiler and GC threads and the
        # Python workers need the rest, or the run measures the scheduler
        "SPARK_GRAFT_CPUS": str(max(1, len(os.sched_getaffinity(0)) // 2)),
        "SPARK_GRAFT_DRIVER_MEM": driver_memory(host_memory_bytes()),
        "SPARK_LOCAL_DIRS": local,
        # tempfile.gettempdir() roots the library's work dirs
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    env.pop("OMP_NUM_THREADS", None)
    return env


def session_procs(sid: int) -> list[tuple[int, list[str]]]:
    """(pid, the /proc/<pid>/stat fields after the command name) of each
    process of session ``sid``, zombies included."""
    procs = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            procs.append((int(entry), fields))
    return procs


def live_session_members(sid: int) -> list[int]:
    """Processes of a session that have not exited (zombies excluded)."""
    return [pid for pid, fields in session_procs(sid) if fields[0] != "Z"]


def stop_session(sid: int) -> None:
    """Terminate what is left of the child's session -- the JVM, and the
    PySpark daemon and workers, which run in a process group of their
    own -- and wait until none of it is running."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        for pid in live_session_members(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while live_session_members(sid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if not live_session_members(sid):
            return
    raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "polario_spark", "__init__.py")):
        print(f"no polario_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2

    # a terminated launcher still stops the workload and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    build = os.path.join(ROOT, ".bench_build")
    os.makedirs(build, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=build)
    out = os.path.join(run_dir, "result.json")
    try:
        child = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "workload.py"),
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--run-dir", run_dir, "--out", out],
            env=host_env(run_dir), cwd=run_dir, stdout=sys.stderr,
            start_new_session=True,
        )
        try:
            rc = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"workload exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
            rc = None
        finally:
            stop_session(child.pid)
            child.wait()
        if rc != 0 or not os.path.exists(out):
            print(f"workload process failed (exit {rc})", file=sys.stderr)
            return 1
        with open(out) as fh:
            payload = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(payload["detail"]))
    print(json.dumps(payload["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
