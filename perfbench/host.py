"""Host facts and process accounting read from /proc (Linux)."""

from __future__ import annotations

import os
import resource
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def _pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def spark_jvms() -> list[int]:
    """Live JVMs running a Spark driver or executor."""
    out = []
    for pid in _pids():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            out.append(pid)
    return out


def cpu_times() -> tuple[int, int, int]:
    """Host CPU ticks: total, idle + iowait, and steal (time the
    hypervisor ran another guest on this machine's virtual CPUs)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[3] + vals[4], vals[7]


def steal_frac(since: tuple[int, int, int]) -> float:
    total, _, steal = cpu_times()
    return (steal - since[2]) / max(1, total - since[0])


def host_facts(window_s: float = 0.25) -> dict:
    """Load before this run starts anything. The load average still
    holds a previous run's tail, so company is judged from the CPU busy
    share over a short window instead."""
    load1, load5, _ = os.getloadavg()
    others = spark_jvms()
    total0, idle0, _ = cpu_times()
    time.sleep(window_s)
    total1, idle1, _ = cpu_times()
    busy = 1.0 - (idle1 - idle0) / max(1, total1 - total0)
    return {
        "nproc": nproc(),
        "load1": load1,
        "load5": load5,
        "busy_frac": busy,
        "other_spark_jvms": len(others),
        # company: another Spark JVM, or a quarter of the machine's CPU
        # already busy before this run starts
        "had_company": bool(others) or busy > 0.25,
    }


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid in _pids():
        st = _stat(pid)
        if st is not None:
            children.setdefault(int(st[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU of ``root`` and its live descendants, plus the
    reaped children each of them has waited for."""
    total = 0
    for pid in descendants(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def peak_rss_mb(pid: int | None = None) -> float:
    if pid is None:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait for ``pids`` to exit; SIGKILL what is left at the deadline."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _stat(p) is not None
                 and _stat(p)[0] != "Z"]
        if alive:
            time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    return alive
