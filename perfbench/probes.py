"""Process-tree and host probes read from ``/proc`` (Linux only).

* CPU-seconds of this process and every descendant (the JVM, the Python
  workers), including children they have already reaped;
* peak RSS (``VmHWM``) of the Spark Python workers, reset before each job
  through ``/proc/<pid>/clear_refs``;
* host noise, recorded but never gated: a fixed sha256 canary, the 1-minute
  load average and busy/steal cores from ``/proc/stat`` deltas.
"""

from __future__ import annotations

import hashlib
import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are positional
    return [raw[raw.index("(") + 1 : raw.rindex(")")]] + raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int | None = None) -> dict[int, list[str]]:
    """``{pid: stat fields}`` for ``root`` and all of its descendants."""
    root = os.getpid() if root is None else root
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(int(st[2]), []).append(int(name))
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(root: int | None = None) -> float:
    """utime + stime + reaped-children times, summed over the tree."""
    total = 0
    for st in process_tree(root).values():
        # fields (1-based in proc(5)): 14 utime, 15 stime, 16 cutime, 17 cstime
        total += int(st[12]) + int(st[13]) + int(st[14]) + int(st[15])
    return total / _TICK


def python_workers(root: int | None = None) -> list[int]:
    """Pids of the Spark Python worker processes (daemon and its forks)."""
    out = []
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            out.append(pid)
    return out


def reset_peak_rss(pids: list[int]) -> None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(pids: list[int]) -> float:
    """Largest ``VmHWM`` over ``pids`` in MB (0.0 when none is readable)."""
    best = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]))
                        break
        except OSError:
            pass
    return best * 1024 / 1e6


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Poll until none of ``pids`` is alive; return the ones still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.05)
    return alive


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[1] != "Z"


# -- host noise -------------------------------------------------------------------

def canary_s() -> float:
    """Best of 3 single-thread sha256 passes over 64 MiB (fixed work)."""
    block = bytes(1 << 24)
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _i in range(4):
            h.update(block)
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best


def cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies of the whole host from ``/proc/stat``."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, parts[1:9])
    return user + nice + system + irq + softirq, steal


class HostNoise:
    """Host-noise record for one run: canary and load at start and end,
    busy/steal cores over the window in between."""

    def __init__(self) -> None:
        self.start = {"canary_s": canary_s(), "loadavg_1m": os.getloadavg()[0]}
        self._t0 = time.monotonic()
        self._j0 = cpu_jiffies()

    def finish(self) -> dict:
        wall = max(time.monotonic() - self._t0, 1e-9)
        j1 = cpu_jiffies()
        return {
            "start": self.start,
            "end": {"canary_s": canary_s(), "loadavg_1m": os.getloadavg()[0]},
            "busy_cores": (j1[0] - self._j0[0]) / _TICK / wall,
            "steal_cores": (j1[1] - self._j0[1]) / _TICK / wall,
            "nproc": os.cpu_count(),
        }
