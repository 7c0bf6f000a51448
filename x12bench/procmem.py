"""Peak resident memory of the benchmark's process tree, read from /proc.

Read once at the end of a run, with no sampler thread: ``VmHWM`` is the
kernel's own high-water mark per process, so the Spark driver (this Python
process), the Spark JVM it launched and the Python workers the JVM
forked each report their peak without being polled.
"""

from __future__ import annotations

import os


def _parents() -> dict[int, int]:
    out: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                stat = fh.read()
        except OSError:  # the process exited while we listed /proc
            continue
        # field 4 is the parent pid; the command name (field 2) may hold
        # spaces, so split after its closing parenthesis
        out[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    parents = _parents()
    found: list[int] = []
    frontier = [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        found.extend(kids)
        frontier.extend(kids)
    return found


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pid: int | None = None) -> float:
    """Sum of VmHWM over ``pid`` (default: this process) and its
    descendants, in MiB."""
    root = os.getpid() if pid is None else pid
    return sum(_vm_hwm_kb(p) for p in [root, *descendants(root)]) / 1024.0
