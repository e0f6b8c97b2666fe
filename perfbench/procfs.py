"""Process-tree and host readings from ``/proc``.

The benchmark's driver process starts the Spark JVM, which starts the
Python worker daemon and its forked workers.  CPU and memory are summed
over that whole tree, so work moved between the driver, the JVM and the
workers still shows up in one number.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name, so index 0
    is the state, 1 the parent pid, 11-14 utime/stime/cutime/cstime and
    19 the start time in clock ticks since boot."""
    with open(f"/proc/{pid}/stat") as f:
        data = f.read()
    return data[data.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and every live descendant of it."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat(int(name))[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(root: int | None = None) -> float:
    """User plus system CPU seconds of the tree, including children each
    member has already reaped (a finished worker's time moves into its
    parent's cutime/cstime, so it is neither lost nor counted twice)."""
    total = 0
    for pid in tree_pids(root):
        try:
            f = _stat(pid)
        except OSError:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_peak_rss_mb(root: int | None = None) -> dict[str, float]:
    """Each live process's peak resident set (VmHWM) in MB, keyed
    ``<pid> <command>``; their sum is the tree's peak."""
    out = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = f"{pid} {fields['Name'].strip()}"
            out[name] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def seconds_since_process_start(pid: int | None = None) -> float:
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat(pid or os.getpid())[19]) / _TICK


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, name))
            except OSError:
                pass
    return total


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    return list(os.getloadavg())
