"""Process-tree readings from /proc: peak resident memory and CPU time.

The engine runs as three kinds of process: the driver Python process, the
JVM it launches, and the Python workers the JVM forks (``pyspark.daemon``
and its children). ``psutil`` is not available, so everything here reads
``/proc/<pid>/status`` and ``/proc/<pid>/stat`` directly.
"""

from __future__ import annotations

import os
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces/parens: fields resume after the last ')'
        fields = stat[stat.rfind(")") + 2 :].split()
        out[int(name)] = int(fields[1])
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, key: str) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def cpu_seconds(pid: int) -> float:
    """user+system time of ``pid`` plus that of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0.0
    fields = stat[stat.rfind(")") + 2 :].split()
    # fields[11:15] = utime, stime, cutime, cstime (stat fields 14-17)
    return sum(int(v) for v in fields[11:15]) / _CLK_TCK


def tree_cpu_seconds(root: int) -> float:
    """CPU of every live process below ``root`` (reaped ones count in
    their parent's cutime/cstime); ``root`` itself excluded."""
    return sum(cpu_seconds(pid) for pid in descendants(root))


class RssPeaks:
    """Per-process VmHWM (kernel-tracked peak RSS), summed over every
    process seen. Sample after each delivery: a worker that exits between
    samples is only counted up to its last sample."""

    def __init__(self) -> None:
        self._peak_kb: dict[int, int] = {}

    def sample(self, driver_pid: int, jvm_pid: int | None) -> None:
        pids = [driver_pid]
        if jvm_pid is not None:
            pids += [jvm_pid, *descendants(jvm_pid)]
        for pid in pids:
            hwm = _status_kb(pid, "VmHWM")
            if hwm is not None:
                self._peak_kb[pid] = max(self._peak_kb.get(pid, 0), hwm)

    def total_mb(self) -> float:
        return sum(self._peak_kb.values()) / 1024.0

    def breakdown(self) -> str:
        return " ".join(f"{pid}:{kb / 1024:.0f}" for pid, kb in sorted(self._peak_kb.items()))


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive (zombies count as gone);
    returns those still running at the deadline."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _running(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"
