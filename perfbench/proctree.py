"""CPU and resident-memory accounting over a process tree, read from /proc.

A Spark run on ``local[N]`` spreads its work over the Python driver, the
driver JVM it launches, the ``pyspark.daemon`` and the Python workers the
daemon forks. Spark's own ``executorCpuTime`` sees only JVM task threads, so
the benchmark charges CPU to the whole tree instead.

Workers come and go. A finished worker's CPU moves into its parent's
``cutime``/``cstime`` once the parent reaps it, so a tree total of
``utime + stime + cutime + cstime`` over the live processes keeps the CPU of
every reaped descendant. A descendant that exits before it is reaped is
briefly invisible; one reparented to init is lost. Neither happens to the
Spark daemon's workers, which the daemon reaps itself.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, str, list[str]] | None:
    """(ppid, comm, fields after comm) of one process, None when it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split at the LAST ')'
    lp, rp = raw.index("("), raw.rindex(")")
    rest = raw[rp + 2 :].split()
    return int(rest[1]), raw[lp + 1 : rp], rest


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def tree(root: int) -> dict[int, list[str]]:
    """pid → stat fields for ``root`` and every live descendant."""
    stats: dict[int, tuple[int, list[str]]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s is not None:
                stats[int(name)] = (s[0], s[2])
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[int, list[str]] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in out:
            out[pid] = stats[pid][1]
            todo.extend(children.get(pid, ()))
    return out


def _cpu_s(fields: list[str], with_children: bool = True) -> float:
    # fields[11..14] are utime, stime, cutime, cstime (stat fields 14–17)
    ticks = int(fields[11]) + int(fields[12])
    if with_children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / _TICK


def _role(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    cmd = _cmdline(pid)
    if "java" in cmd.split(" ", 1)[0] or "org.apache.spark" in cmd:
        return "jvm"
    if "pyspark" in cmd or "python" in cmd:
        return "python_workers"
    return "other"


def cpu_by_role(root: int | None = None) -> dict[str, float]:
    """Core-seconds used so far by the tree under ``root`` (default: this
    process), split into ``driver`` (the root Python process alone),
    ``jvm`` and ``python_workers`` (each with its reaped children), plus
    ``total``. The root's own reaped children count under ``other``."""
    root = os.getpid() if root is None else root
    out = {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0, "other": 0.0}
    for pid, fields in tree(root).items():
        role = _role(pid, root)
        if role == "driver":
            out["driver"] += _cpu_s(fields, with_children=False)
            out["other"] += (int(fields[13]) + int(fields[14])) / _TICK
        else:
            out[role] += _cpu_s(fields)
    out["total"] = sum(out.values())
    return out


def rss_bytes(root: int | None = None) -> int:
    """Summed resident set of the tree under ``root`` right now."""
    root = os.getpid() if root is None else root
    # field 24 (rss, in pages) is index 21 after comm
    return sum(int(f[21]) for f in tree(root).values()) * _PAGE


def reset_peaks(root: int | None = None) -> None:
    """Reset every tree process's peak RSS (``VmHWM``) to its current RSS."""
    for pid in tree(os.getpid() if root is None else root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # exited, or not ours to reset


def peak_rss_bytes(root: int | None = None) -> int:
    """Summed peak RSS (``VmHWM``) of the live tree processes since their
    start or the last :func:`reset_peaks`. Exact per process, with no
    sampling; the per-process peaks need not have coincided."""
    total = 0
    for pid in tree(os.getpid() if root is None else root):
        try:
            with open(f"/proc/{pid}/status") as f:
                total += next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
        except (OSError, StopIteration):
            pass
    return total * 1024
