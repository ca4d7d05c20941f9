"""CPU time and peak resident memory of the benchmark's processes, read
from Linux ``/proc``.

CPU counts the bench process and every live descendant (the Spark JVM
and its Python workers), including time of children they have reaped.
Peak memory is the high-water mark (VmHWM) of the JVM and the bench
process, reset through ``clear_refs`` when a region starts.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name may hold spaces: split after its closing paren
        return f.read().rsplit(")", 1)[1].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, IndexError):
            continue  # exited while we looked
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # utime, stime, cutime, cstime (stat fields 14-17)
        total += sum(int(x) for x in f[11:15])
    return total / _TICK


def reset_peak(pids: list[int]) -> None:
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0


class Region:
    """CPU seconds and peak RSS over one measured region."""

    def __init__(self, jvm_pid: int):
        self.mem_pids = [os.getpid(), jvm_pid]
        self.cpu0 = 0.0

    def __enter__(self) -> "Region":
        reset_peak(self.mem_pids)
        self.cpu0 = cpu_seconds(descendants(os.getpid()))
        return self

    def __exit__(self, *exc) -> None:
        self.cpu_s = cpu_seconds(descendants(os.getpid())) - self.cpu0
        self.peak_rss_mb = peak_rss_mb(self.mem_pids)
