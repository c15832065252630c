"""The processes of one benchmark run, found by a marker variable that the
run's worker sets in its environment and every descendant inherits (the
JVM, and the JVM's Python workers, which start their own process group)."""

from __future__ import annotations

import os

MARKER_VAR = "PERFBENCH_RUN"
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def marker(run_dir: str) -> bytes:
    return f"{MARKER_VAR}={run_dir}".encode()


def run_pids(mark: bytes) -> list[int]:
    """Pids of live processes whose environment holds ``mark``."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                if mark in f.read().split(b"\0"):
                    pids.append(int(d))
        except OSError:
            continue
    return pids


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids``, own and of reaped children.
    Unlike wall time, this does not grow when the hypervisor steals the CPU."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK
