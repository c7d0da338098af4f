"""Process-tree CPU and resident memory from ``/proc``.

The benchmark's process tree is the Python driver, the JVM it launches, and
the Python workers the JVM forks. Tree CPU is the sum of user and system
time of every live process in the tree plus the time of its children that
have already exited (``cutime``/``cstime``), so a worker that exits between
two readings is not lost. Hypervisor steal is not CPU time of the guest, so
tree CPU stays flat when a noisy neighbour slows the wall clock.

Every reader takes the ``/proc`` root as an argument so the self-tests can
run it on a synthetic tree.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(proc: str, pid: int) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name.

    The name sits in parentheses and may itself hold spaces or
    parentheses, so split after the last ``)``. Index 0 is the state
    (field 3 of proc(5)), index 1 the parent pid (field 4)."""
    with open(os.path.join(proc, str(pid), "stat")) as f:
        raw = f.read()
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(proc, int(name))[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int, proc: str = "/proc") -> float:
    """CPU seconds used by the tree so far, reaped children included."""
    ticks = 0
    for pid in tree_pids(root, proc):
        try:
            f = _stat_fields(proc, pid)
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of proc(5)
        ticks += sum(int(x) for x in f[11:15])
    return ticks / CLK_TCK


def tree_peak_rss_mb(root: int, proc: str = "/proc") -> float:
    """Sum over the live processes of the tree of each one's peak resident
    memory (``VmHWM``), in MiB.

    Per-process peaks, read once, rather than sampled totals: a child the
    JVM forks shows the JVM's whole resident set until it execs, and a
    sampler that catches that moment counts the JVM twice."""
    kb = 0
    for pid in tree_pids(root, proc):
        try:
            with open(os.path.join(proc, str(pid), "status")) as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def seconds_since_start(pid: int | str = "self", proc: str = "/proc") -> float:
    """Wall seconds since process ``pid`` started (10 ms resolution)."""
    with open(os.path.join(proc, "uptime")) as f:
        uptime = float(f.read().split()[0])
    # starttime is field 22 of proc(5): clock ticks after boot
    return uptime - int(_stat_fields(proc, pid)[19]) / CLK_TCK
