"""Process-tree facts read from /proc: peak memory and concurrent JVMs."""

from __future__ import annotations

import os


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it."""
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_hwm_mb(pid: int) -> dict[str, float]:
    """VmHWM (peak resident set) of ``pid`` and its descendants, summed
    by command name: the driver Python, the JVM, the Python workers
    still alive."""
    out: dict[str, float] = {}
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/comm", encoding="utf-8") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        out[comm] = out.get(comm, 0.0) + _status_kb(p, "VmHWM") / 1024.0
    return out


def other_jvms(own_root: int) -> int:
    """Java processes on this machine outside ``own_root``'s tree."""
    mine = set(descendants(own_root))
    n = 0
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) in mine:
            continue
        try:
            with open(f"/proc/{entry}/comm", encoding="utf-8") as fh:
                if fh.read().strip() == "java":
                    n += 1
        except OSError:
            continue
    return n


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat."""
    with open("/proc/stat", encoding="utf-8") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to others between two reads."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / sum(d) if sum(d) else 0.0
