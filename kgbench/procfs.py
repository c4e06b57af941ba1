"""Process-tree CPU time, PySpark worker RSS and the host record, read from
``/proc`` (psutil is not a dependency).

The tree is this driver process plus every descendant: the JVM, the PySpark
daemon and the Python workers it forks. A process's ``cutime``/``cstime``
hold the CPU of children it has already reaped, so summing
``utime + stime + cutime + cstime`` over the live tree counts a worker that
exits between two readings exactly once."""

from __future__ import annotations

import os
import platform
import sys

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            line = f.read()
    except OSError:          # the process exited while we were reading
        return None
    # comm is wrapped in parentheses and may itself contain them
    return line.rsplit(")", 1)[1].split()


def _parents() -> dict:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                out[int(name)] = int(f[1])
    return out


def tree_pids(root: int | None = None) -> list:
    root = os.getpid() if root is None else root
    children: dict = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(root: int | None = None) -> float:
    """User + system CPU seconds of the whole process tree so far."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields after comm: state=0 ppid=1 ... utime=11 stime=12
            # cutime=13 cstime=14
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / CLK_TCK


def host_steal_seconds() -> float:
    """CPU time the hypervisor took from this VM so far, all CPUs summed:
    wall-time figures rise with it while CPU time does not."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK if len(fields) > 8 else 0.0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def worker_peak_rss_mb(root: int | None = None) -> float:
    """Peak RSS (VmHWM) of the largest PySpark Python worker alive now.

    Workers are the processes the PySpark daemon forks; they share the
    daemon's command line, so a worker is a ``pyspark.daemon`` process
    whose parent is one too."""
    pids = tree_pids(root)
    daemons = {p for p in pids if "pyspark.daemon" in _cmdline(p)}
    parents = _parents()
    workers = [p for p in daemons if parents.get(p) in daemons]
    return max((_status_kb(p, "VmHWM") for p in workers), default=0) / 1024.0


def host_record() -> dict:
    import numpy as np
    import pyspark
    try:
        blas = np.show_config(mode="dicts")["Build Dependencies"]["blas"]
    except (TypeError, KeyError):   # older numpy prints instead of returning
        blas = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": np.__version__,
        "numpy_blas": blas,
        "platform": platform.platform(),
        "executable": sys.executable,
    }
