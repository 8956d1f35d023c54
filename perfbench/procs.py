"""Process-tree accounting from /proc, and a host-speed probe.

The engine's work happens in three kinds of process: this Python driver,
the JVM it launches, and the Python workers the JVM forks. CPU time and
peak memory are therefore summed over the whole tree rooted at this
process, not read from the Python heap.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User+system CPU seconds of ``pids``, including the reaped children
    of each (a Python worker that exited is charged to its parent)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _name(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv = f.read().split(b"\0")
    except OSError:
        return "?"
    words = [os.path.basename(a.decode(errors="replace")) for a in argv if a][:4]
    return " ".join(words)[:80]


class PeakRss:
    """Per-process peak resident set (VmHWM), kept across samples so a
    worker that exits still counts; ``mb`` sums the peaks of the tree."""

    def __init__(self) -> None:
        self.peak_kb: dict[int, int] = {}
        self.names: dict[int, str] = {}

    def sample(self) -> None:
        for pid in tree():
            kb = vm_hwm_kb(pid)
            if kb > self.peak_kb.get(pid, 0):
                self.peak_kb[pid] = kb
            if pid not in self.names:
                self.names[pid] = _name(pid)

    def by_process(self) -> list[tuple[str, float]]:
        """(process name, peak MB) per process, largest first."""
        return sorted(((self.names[p], kb / 1024.0) for p, kb in self.peak_kb.items()),
                      key=lambda x: -x[1])

    @property
    def mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0


_PROBE = "import time\nt=time.perf_counter()\ns=0\nfor i in range(2_000_000): s+=i*i\nprint(time.perf_counter()-t)"


def host_probe(procs: int) -> dict:
    """Wall seconds of a fixed CPU loop run in ``procs`` parallel Python
    processes: a diagnostic of host speed at the time of the run."""
    ps = [subprocess.Popen([sys.executable, "-c", _PROBE], stdout=subprocess.PIPE, text=True)
          for _ in range(procs)]
    secs = [float(p.communicate()[0]) for p in ps]
    return {"procs": procs, "loop_s": sorted(secs), "load_avg": os.getloadavg(),
            "at": time.time()}
