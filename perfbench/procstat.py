"""Process-tree CPU time, host steal and process age, read from /proc.

Wall time on a shared host moves with hypervisor steal; the CPU seconds
used by this process and its descendants (the session's JVM and the
Python workers it forks) do not, so the benchmark reads both.
"""
from __future__ import annotations

import os
import signal
import time

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields restart after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int | None = None) -> list[int]:
    """Pids of *root* (default: this process) and all its descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds() -> float:
    """User+system CPU of this process tree, reaped children included.

    A worker that exits moves its time into its parent's cutime/cstime
    when reaped, so the sum stays monotone across worker turnover."""
    total = 0
    for pid in descendants():
        fields = _stat_fields(pid)
        if fields:
            # utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICKS


def steal_seconds() -> float:
    """Host-wide steal time so far (the 8th value of the cpu line)."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _TICKS if len(cpu) > 8 else 0.0


def process_age() -> float:
    """Seconds since this process started (survives an exec)."""
    start = int(_stat_fields(os.getpid())[19]) / _TICKS
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start


def reap(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid in *pids* has exited; SIGKILL stragglers."""
    deadline = time.monotonic() + timeout
    live = [p for p in pids if p != os.getpid()]
    while live and time.monotonic() < deadline:
        live = [p for p in live if _alive(p)]
        if live:
            time.sleep(0.1)
    for pid in live:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while any(_alive(p) for p in live):
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    if fields is None or fields[0] == "Z":
        if fields is not None:
            try:   # our own zombie child: collect it
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        return False
    return True
