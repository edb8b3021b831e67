"""CPU time and resident memory of this process and all its descendants.

The Spark driver JVM, the PySpark daemon and its Python workers are all
descendants of the benchmark process, so summing over the process tree
read from ``/proc`` covers every core and byte the workload used.
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is parenthesised and may hold spaces
    lp, rp = raw.index("("), raw.rindex(")")
    return raw[lp + 1 : rp], raw[rp + 2 :].split()


def _tree() -> dict[int, tuple[str, int, list[str]]]:
    """{pid: (command, parent pid, stat fields)} of this process and
    every live descendant."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = (st[0], int(st[1][1]), st[1])
    kids: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid]
            todo.extend(kids.get(pid, ()))
    return out


def tree_pids() -> list[int]:
    return list(_tree())


def tree_cpu_s() -> float:
    """User + system CPU seconds of the live tree, including children
    that already ended and were reaped by a process of the tree."""
    ticks = sum(sum(int(x) for x in f[11:15])  # utime stime cutime cstime
                for _, _, f in _tree().values())
    return ticks / _CLK_TCK


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


def _memory_pids() -> list[int]:
    """The tree's processes that hold memory of their own. A JVM starts
    helper programs (chmod, ...) through a vfork()ed copy of itself,
    which reports the JVM's pages as its own until its exec completes.
    The JVM's only children that hold memory of their own are the
    PySpark daemons, so its other children are skipped rather than
    counting the JVM twice."""
    tree = _tree()
    return [pid for pid, (_, ppid, _) in tree.items()
            if not (ppid in tree and _exe(ppid) == "java"
                    and not _exe(pid).startswith("python"))]


def reset_peak_rss() -> None:
    """Set each process's peak RSS (VmHWM) back to its current RSS."""
    for pid in _memory_pids():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:  # ended, or not ours: its peak since start counts
            pass


def tree_peak_rss_mb() -> float:
    """Sum over the tree of each process's peak RSS since the last
    ``reset_peak_rss``. The kernel keeps the peaks, so no short spike is
    missed; the sum is at least the tree's peak summed RSS."""
    kb = 0
    for pid in _memory_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(line.split()[1]) for line in f
                           if line.startswith("VmHWM:"))
        except (OSError, StopIteration):  # ended, or a kernel thread
            pass
    return kb / 1024
