"""Process-tree CPU and memory from /proc (Linux).

The Spark JVM and its Python workers descend from the benchmark process,
so summing over the tree charges them to the run.
"""

from __future__ import annotations

import glob
import os
import signal
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds) for every live process."""
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                data = f.read()
        except OSError:
            continue
        # comm may hold spaces or parentheses: split at the last ')'
        rest = data.rsplit(")", 1)[1].split()
        out[int(data.split(None, 1)[0])] = (
            int(rest[1]),
            (int(rest[11]) + int(rest[12])) / _CLK_TCK,
        )
    return out


def tree_pids(root: int | None = None, table=None) -> list[int]:
    """`root` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in (_stat_table() if table is None else table).items():
        kids.setdefault(ppid, []).append(pid)
    out, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        out.append(pid)
        frontier.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """utime + stime of this process and its live descendants."""
    table = _stat_table()
    return sum(table[p][1] for p in tree_pids(table=table) if p in table)


def reset_peak_rss() -> None:
    """Reset VmHWM of every process in the tree to its current RSS
    (writing 5 to clear_refs), so a later read gives the window's peak."""
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # process ended meanwhile


def tree_peak_rss_mb() -> float:
    """Sum over the tree of each process's peak RSS since the last reset."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM (all CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK_TCK if len(fields) > 8 else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def wait_gone(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait for `pids` to exit; SIGTERM then SIGKILL whatever is left."""
    deadline = time.monotonic() + timeout_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in pids:
                if _alive(pid):
                    try:
                        os.kill(pid, sig)
                    except OSError:
                        pass
            deadline = time.monotonic() + 5.0
        while time.monotonic() < deadline:
            pids = [p for p in pids if _alive(p)]
            if not pids:
                return
            time.sleep(0.05)
