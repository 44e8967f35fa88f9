"""Process-tree CPU and memory, and host context, read from /proc.

The benchmark process starts the JVM, which starts the Python daemon and
its workers, so the system under test is this process plus its
descendants.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int | str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name; `pid` may also be
    "<pid>/task/<tid>" for one thread."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the process's HotSpot JIT compiler threads ("C1/C2
    CompilerThreadN"; /proc truncates the name to 15 characters)."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    total = 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    continue
        except OSError:
            continue
        fields = _stat(f"{pid}/task/{tid}")
        if fields:
            total += int(fields[11]) + int(fields[12])
    return total


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) of this
    process and every descendant: driver, JVM and Python workers. The JVM's
    JIT compiler threads are left out: how much they compile depends on how
    warm the JVM is, not on the run (the JVM is started with a fixed set of
    compiler threads, so their time never leaves this count's view)."""
    total = 0
    for pid in [os.getpid(), *descendants()]:
        fields = _stat(pid)
        if fields:
            total += sum(int(x) for x in fields[11:15]) - _jit_ticks(pid)
    return total / _TICK


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of every descendant process:
    the JVM and the Python workers, not this driver process."""
    total_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def context() -> dict:
    """1-minute loadavg and the cumulative /proc/stat counters needed to
    compute the steal share between two calls."""
    return {"loadavg1": os.getloadavg()[0], "cpu": _cpu_times(), "t": time.time()}


def steal_share(before: dict, after: dict) -> float:
    """Share of the host's busy CPU time (user, nice, system, irq, softirq,
    steal) that the hypervisor gave to other guests between two calls: the
    share of its run time that any thread of the program lost."""
    d = [b - a for a, b in zip(before["cpu"], after["cpu"])]
    busy = sum(d[:8]) - d[3] - d[4]  # not idle or iowait
    return d[7] / busy if busy > 0 else 0.0


def stop_descendants(timeout: float = 20.0) -> None:
    """Wait for every descendant to exit; terminate, then kill, stragglers."""
    deadline = time.time() + timeout
    sig = signal.SIGTERM
    while True:
        pids = [p for p in descendants() if (_stat(p) or ["Z"])[0] != "Z"]
        if not pids:
            break
        if time.time() > deadline:
            if sig == signal.SIGKILL:
                break
            for p in pids:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            sig, deadline = signal.SIGKILL, time.time() + 5.0
        time.sleep(0.1)
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass
