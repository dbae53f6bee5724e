"""Process-tree accounting from /proc: CPU time, memory, box context.

The engine under test is three kinds of process: this benchmark process,
the JVM it launches, and the Python workers that the JVM's daemon forks.
All of them are descendants of this process, so every number here is taken
over the tree rooted at ``os.getpid()``.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree() -> list[int]:
    """This process and all its live descendants."""
    root = os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the tree, including reaped children
    (a worker that exited is counted in the ``cutime`` of its parent)."""
    total = 0
    for pid in tree():
        fields = _stat_fields(pid)
        if fields:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICKS


def pss_bytes(pid: int) -> int:
    """Proportional set size: pages a forked Python worker shares with its
    daemon count once across the tree, not once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            return next(int(l.split()[1]) for l in f if l.startswith("Pss:")) * 1024
    except (OSError, StopIteration):
        return 0  # the process ended between listing and reading


def is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def process_start_epoch() -> float:
    """Wall-clock instant this process was created (10 ms resolution)."""
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + int(_stat_fields(os.getpid())[19]) / _TICKS


def cpu_counters() -> tuple[int, int]:
    """(total jiffies, steal jiffies) of the whole box."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class PeakMemory:
    """Samples the tree's PSS on a background thread: peaks of the whole
    tree, of the JVM, and of the Python processes (this process, the daemon, the workers)."""

    INTERVAL_S = 0.5

    def __init__(self) -> None:
        self.peak = {"total": 0, "jvm": 0, "python": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            jvm = python = 0
            for pid in tree():
                if is_jvm(pid):
                    jvm += pss_bytes(pid)
                else:
                    python += pss_bytes(pid)
            for key, val in (("total", jvm + python), ("jvm", jvm), ("python", python)):
                self.peak[key] = max(self.peak[key], val)
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def mb(self) -> dict[str, float]:
        return {k: v / 2**20 for k, v in self.peak.items()}


class BoxContext:
    """Steal share and load around a run: context, not metrics."""

    def __init__(self) -> None:
        self.load_start = loadavg()
        self._cpu0 = cpu_counters()

    def finish(self, **extra) -> dict:
        total, steal = cpu_counters()
        dt = max(total - self._cpu0[0], 1)
        return {
            "steal_share": round((steal - self._cpu0[1]) / dt, 5),
            "loadavg_start": self.load_start,
            "loadavg_end": loadavg(),
            **extra,
        }


def reap(pids: list[int]) -> None:
    """Wait up to 30 s for every pid to end; kill what outlives that."""
    me = os.getpid()
    pids = [p for p in pids if p != me]
    deadline = time.monotonic() + 30.0
    while time.monotonic() < deadline:
        pids = [p for p in pids if _alive(p)]
        if not pids:
            return
        time.sleep(0.1)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(_alive(p) for p in pids):
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    # a zombie has ended; its parent collects it
    return fields is not None and fields[0] != "Z"
