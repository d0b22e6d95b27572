"""The processes of one benchmark run, found through /proc.

A run is one session: the launcher starts the worker with ``setsid``, and
the JVM and Spark's Python workers inherit the session even where they make
a process group of their own (the PySpark daemon does).
"""

from __future__ import annotations

import os
from pathlib import Path


def session_stats(sid: int) -> dict[int, list[str]]:
    """pid -> the /proc/<pid>/stat fields after the command name, for every
    live process of session ``sid``."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            fields = Path(f"/proc/{entry}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:  # the process ended
            continue
        if int(fields[3]) == sid:
            out[int(entry)] = fields
    return out


def session_cpu_s(sid: int) -> float:
    """CPU seconds used so far by the processes of session ``sid``: user
    and system time of each live process plus that of the children it has
    reaped, so a Python worker that ended is still counted. Time the
    hypervisor stole from the CPU is not in these counters."""
    ticks = sum(sum(int(v) for v in fields[11:15])
                for fields in session_stats(sid).values())
    return ticks / os.sysconf("SC_CLK_TCK")

