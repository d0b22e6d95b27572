#!/usr/bin/env python3
"""Lake benchmark: run one workload and print its metrics.

    python3 perfbench/run.py --workload medallion_loads --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of this repository. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
ones with ``--trace 1``). The line before it carries the run's settings
(cpus, sf, seed) and the workload's own figures. The exit code is 0 only
when every output matched its check. See perfbench/README.md.

This launcher pins what the program reads from the host, then runs the
measurement in a child process group inside a private work directory, and
removes both when the run ends:

* ``SPARK_GRAFT_CPUS`` = the CPUs this process may use (``nproc``);
* ``SPARK_DRIVER_MEMORY`` = a quarter of host RAM, at most 4 GiB;
* ``PYTHONPATH`` = the checkout, so Spark's Python workers import the
  package from it;
* ``TMPDIR``, ``SPARK_LOCAL_DIRS``, the JVM's ``java.io.tmpdir`` and the
  warehouse = the work directory, which is deleted afterwards (operators
  leave pid-keyed index directories in the temp dir).
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

from lakebench.procs import session_stats

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench"
TIMEOUT_S = 170
REQUIRED = ("energy_datalake_solution_spark/__init__.py", "tests/oracle_harness.py")


def host_memory_mb() -> int:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def child_env(work: Path) -> dict[str, str]:
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": f"{min(4096, host_memory_mb() // 4)}m",
        "PYTHONPATH": os.pathsep.join([str(ROOT), str(HERE)]),
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(tmp),
        "SPARK_GRAFT_WAREHOUSE": str(work / "warehouse"),
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    })
    env.pop("OMP_NUM_THREADS", None)
    return env


def stop_session(sid: int) -> None:
    """Stop every process left in the run's session, and wait until none is.
    The session, not the process group: the PySpark daemon makes a group of
    its own for its workers. A process that has exited but is not yet
    reaped (the worker itself, when the launcher was terminated) is
    already stopped."""
    def running() -> list[int]:
        return [pid for pid, fields in session_stats(sid).items() if fields[0] != "Z"]

    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in running():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 5
        while running() and time.monotonic() < deadline:
            time.sleep(0.05)
        if not running():
            return


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="checked by the worker")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: not a checkout of the lake engine; missing {missing}",
              file=sys.stderr)
        return 2

    # a terminated launcher still stops the run's processes (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = OUT / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    trace_file = OUT / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    cmd = [sys.executable, "-m", "lakebench.worker",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--trace-file", str(trace_file)]
    proc = None
    try:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=child_env(work), start_new_session=True)
        try:
            return proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
            return 3
    finally:
        if proc is not None:
            stop_session(proc.pid)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
