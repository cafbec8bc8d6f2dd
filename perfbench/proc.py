"""Resident memory of the benchmark's processes, read from ``/proc``:
this Python process plus the driver JVM and any process under it
(PySpark's Python workers)."""

from __future__ import annotations

import os
import sys


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:  # the process ended while being read
        pass
    return out


def tree_pids(spark) -> list[int]:
    pids, todo = [os.getpid()], [spark.sparkContext._gateway.proc.pid]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(_children(pid))
    return pids


_warned = False


def reset_peak(pids: list[int]) -> None:
    """Reset each process's peak resident set (``VmHWM``) to its current
    size. Where the kernel refuses, the peak stays the peak since the
    process started, which is never lower; that is reported once."""
    global _warned
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError as e:
            if not _warned:
                print(f"perfbench: cannot reset peak RSS of {pid}: {e}", file=sys.stderr)
                _warned = True


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024
