"""Host-side probes: process-tree CPU from /proc, the JVM's peak RSS,
and a fixed calibration kernel."""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float, str]]:
    """pid -> (ppid, utime+stime+cutime+cstime seconds, comm)."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2 :].split()
        ticks = sum(int(x) for x in fields[11:15])
        table[int(entry)] = (int(fields[1]), ticks / _TICK, comm)
    return table


def _descendants(table, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def descendants() -> list[int]:
    """Pids of every live process started under this one."""
    return [p for p in _descendants(_proc_table(), os.getpid()) if p != os.getpid()]


def _alive(pids: list[int]) -> list[int]:
    alive = []
    for pid in pids:
        try:
            os.kill(pid, 0)
            alive.append(pid)
        except ProcessLookupError:
            pass
    return alive


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid has exited; kill what is left at the
    timeout and wait a little more for it."""
    for grace, kill in ((timeout, True), (5.0, False)):
        deadline = time.monotonic() + grace
        while (pids := _alive(pids)) and time.monotonic() < deadline:
            time.sleep(0.05)
        if not pids or not kill:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def tree_cpu_s() -> float:
    """CPU seconds of this process and every descendant (JVM, Python
    workers), including reaped children."""
    table = _proc_table()
    return sum(table[p][1] for p in _descendants(table, os.getpid()) if p in table)


def jvm_peak_rss_mb() -> float:
    table = _proc_table()
    for pid in _descendants(table, os.getpid()):
        if table.get(pid, (0, 0, ""))[2] == "java":
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
    return 0.0


def host_calib_s() -> float:
    """Time of a fixed pure-Python + numpy kernel, run before Spark
    starts: a drifted host shows here, not only in the pass times."""
    import numpy as np

    t0 = time.perf_counter()
    acc = 0
    for i in range(500_000):
        acc += i * i % 7
    m = np.random.default_rng(0).random((300, 300))
    for _ in range(8):
        m = np.tanh(m @ m / 300.0)
    return time.perf_counter() - t0
