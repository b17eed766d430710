"""Process-tree CPU and memory, and the host labels of a result.

The extraction job is spread over three kinds of process: this Python
driver, the JVM it launches, and the Python workers the JVM forks. CPU
time and RSS are therefore summed over the whole tree under this process,
read from /proc.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ")"
    return data[data.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and all its descendants,
    including those already exited and reaped inside the tree."""
    ticks = 0
    for pid in [root] + descendants(root):
        fields = _stat_fields(pid)
        if fields:
            # utime stime cutime cstime: fields 14-17 of stat(5)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def reset_peak_rss(root: int) -> None:
    """Reset the kernel's peak-RSS mark (VmHWM) of every process in the
    tree to its current RSS (clear_refs code 5, see proc(5))."""
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def tree_peak_rss_bytes(root: int) -> int:
    """Sum over the live tree of each process's peak RSS since the last
    ``reset_peak_rss``. The kernel keeps the marks, so no sampling thread
    adds CPU time or misses a short peak. Pages the forked Python
    workers share with their daemon count once per worker."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def _proc_stat() -> tuple[int, int]:
    """(total jiffies, steal jiffies) of the host since boot."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


class HostLabels:
    """nproc, steal % and load average over the span of a run, so a slow
    figure from a busy host can be told from a slow program."""

    def __init__(self) -> None:
        self._t0 = _proc_stat()

    def labels(self) -> dict:
        total, steal = _proc_stat()
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "steal_pct": 100.0 * (steal - self._t0[1])
            / max(1, total - self._t0[0]),
            "loadavg_1m": os.getloadavg()[0],
        }


def reap_tree(root: int, timeout_s: float = 30.0) -> None:
    """Wait until no process is left below ``root``; kill what remains
    after ``timeout_s``, and raise if even that does not end them."""
    deadline = time.monotonic() + timeout_s
    killed = False
    while left := descendants(root):
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes did not exit: {left}")
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + 5.0
        time.sleep(0.1)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
