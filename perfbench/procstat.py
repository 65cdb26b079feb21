"""CPU and resident memory of the benchmark's process tree, from /proc.

The tree is the driver Python process and all its descendants: the JVM
that PySpark launches as the Py4J gateway, the ``pyspark.daemon`` the
JVM forks, and the Python workers the daemon forks. CPU of a process
that already exited is still counted, through its parent's
``cutime``/``cstime`` once the parent has reaped it.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _TICK  # utime stime cutime cstime
    rss = int(fields[21]) * _PAGE
    return ppid, cpu, rss


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_usage(root: int) -> dict[int, tuple[float, int]]:
    """pid → (cpu seconds, rss bytes) over the tree of ``root``."""
    out = {}
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            out[pid] = st[1:]
    return out


def gateway_pid(spark) -> int:
    """Pid of the JVM behind the session's Py4J gateway."""
    return spark.sparkContext._gateway.proc.pid


class TreeSampler:
    """Samples the tree's RSS on a background thread to find its peak;
    ``cpu()`` reads the tree's CPU seconds on demand, split into the
    driver process, the JVM and everything below the JVM (the pyspark
    daemon and its Python workers)."""

    def __init__(self, jvm_pid: int, root: int | None = None, interval_s: float = 0.1):
        self.root = root or os.getpid()
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> dict[int, tuple[float, int]]:
        usage = tree_usage(self.root)
        self.peak_rss = max(self.peak_rss, sum(rss for _, rss in usage.values()))
        return usage

    def cpu(self) -> dict[str, float]:
        """CPU seconds so far: ``total``, ``driver``, ``jvm``, ``workers``."""
        usage = self.sample()
        driver = usage.get(self.root, (0.0, 0))[0]
        jvm = usage.get(self.jvm_pid, (0.0, 0))[0]
        total = sum(cpu for cpu, _ in usage.values())
        return {"total": total, "driver": driver, "jvm": jvm, "workers": total - driver - jvm}

    def __enter__(self) -> "TreeSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
