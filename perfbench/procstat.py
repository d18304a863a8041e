"""Process-tree CPU and memory, and host noise, read from ``/proc``.

The measured process tree is this Python driver, the Spark JVM it
launches and the Python UDF workers the JVM forks. Everything here reads
``/proc`` directly, so the numbers include every process of the tree,
not just the interpreter running this file.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 on)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return raw.rsplit(")", 1)[1].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it, from one scan of /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is None or fields[0] == "Z":
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by the tree: user + system of every live process
    plus what its reaped children used (``cutime``/``cstime``), so a
    worker that exits and is waited for inside the tree still counts."""
    ticks = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / CLK_TCK


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes sharing it. Forked Python workers share most of
    their pages with the daemon they came from, so summing plain RSS
    over the tree would count those pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """Resident memory of the tree in MiB, shared pages counted once."""
    return sum(_pss_kb(pid) for pid in descendants(root)) / 1024


def process_age_s() -> float:
    """Seconds since this process started, interpreter start-up included."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK


class RssSampler:
    """Samples the tree's resident memory (``tree_rss_mb``) every
    ``interval`` seconds on a daemon thread and keeps the peak."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self.peak_mb = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self.samples += 1
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostNoise:
    """Host load that is not ours over a window, from /proc/stat.

    ``steal_share`` is time the hypervisor gave our vCPUs to someone
    else; ``busy_outside_share`` is CPU busy time (all CPUs) minus the
    measured tree's own CPU time. Both are shares of the window's total
    CPU capacity. Load average is deliberately not used: it counts
    runnable and uninterruptible threads and reads high on idle VMs."""

    def __init__(self, root: int):
        self.root = root
        self._j0 = _cpu_jiffies()
        self._own0 = tree_cpu_s(root)

    def read(self) -> dict[str, float]:
        j1 = _cpu_jiffies()
        d = [b - a for a, b in zip(self._j0, j1)]
        # user nice system idle iowait irq softirq steal [guest guest_nice]
        total = sum(d[:8]) or 1
        busy = d[0] + d[1] + d[2] + d[5] + d[6]
        own = (tree_cpu_s(self.root) - self._own0) * CLK_TCK
        return {
            "steal_share": d[7] / total,
            "busy_outside_share": max(0.0, busy - own) / total,
        }


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` is alive (zombies count as gone);
    return the ones still alive at the deadline."""
    deadline = time.monotonic() + timeout
    alive = pids
    while True:
        alive = [p for p in alive if (_stat_fields(p) or ["Z"])[0] != "Z"]
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.1)
