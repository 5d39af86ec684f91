"""Host facts the benchmark records around each run: CPU count, memory,
load, CPU steal, the resident memory of the Spark process tree, and the
identity of the engine package the Python workers import.

Linux-only: everything is read from /proc.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_jiffies() -> list[int]:
    """The aggregate `cpu` line of /proc/stat: user nice system idle iowait
    irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_sample() -> dict:
    return {"t": time.time(), "loadavg": loadavg(), "cpu": cpu_jiffies()}


def steal_share(before: dict, after: dict) -> float:
    """Share of all CPU time between two samples that the hypervisor stole."""
    d = [b - a for a, b in zip(before["cpu"], after["cpu"])]
    total = sum(d[:8])
    return d[7] / total if total > 0 else 0.0


_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # comm may contain spaces; the fields after the closing paren are fixed
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE / 2**20
    except OSError:
        return 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Samples the summed RSS of this process's descendants every
    `interval` seconds: the driver JVM and the Python workers it forks. The benchmark's own process is excluded, since it
    holds the oracle data, not engine state. Peaks are since the last
    reset()."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.reset()

    def reset(self) -> None:
        with self._lock:
            self.peak = {"jvm": 0.0, "workers": 0.0, "total": 0.0}

    def sample(self) -> dict[str, float]:
        kids = _children_map()
        jvm = workers = 0.0
        stack = list(kids.get(os.getpid(), []))
        while stack:
            pid = stack.pop()
            stack.extend(kids.get(pid, []))
            comm = _comm(pid)
            if comm == "java":
                jvm += _rss_mb(pid)
            elif comm.startswith("python"):
                workers += _rss_mb(pid)
            # anything else is a short-lived helper (a shell, or a child the
            # JVM forked that still maps the JVM's pages): not engine memory
        return {"jvm": jvm, "workers": workers, "total": jvm + workers}

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            s = self.sample()
            with self._lock:
                for k, v in s.items():
                    self.peak[k] = max(self.peak[k], v)

    def peaks(self) -> dict[str, float]:
        with self._lock:
            return dict(self.peak)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def package_digest(package: str) -> str:
    """sha256 over (module name, source) of every module in `package`, as
    the current interpreter would import it: from a directory on the driver,
    from the shipped zip on a worker."""
    import importlib
    import importlib.util
    import pkgutil

    pkg = importlib.import_module(package)
    names = [package] + [
        m.name for m in pkgutil.walk_packages(pkg.__path__, package + ".")
    ]
    h = hashlib.sha256()
    for name in sorted(names):
        spec = importlib.util.find_spec(name)
        h.update(name.encode() + b"\0")
        h.update((spec.loader.get_source(name) or "").encode() + b"\0")
    return h.hexdigest()


def check_worker_package(spark, package: str, tasks: int) -> str:
    """Fail unless every Python worker imports `package` with the same
    source as the driver. The engine ships itself as a zip under $TMPDIR and
    reuses any zip already there, so a stale zip would run another commit's
    code on the workers."""
    import sys

    from pyspark import cloudpickle

    want = package_digest(package)
    # workers cannot import this module: ship its functions by value
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    got = set(
        spark.sparkContext.parallelize(range(tasks), tasks)
        .map(lambda _: package_digest(package))
        .collect()
    )
    if got != {want}:
        raise RuntimeError(
            f"engine identity mismatch: driver imports {package} "
            f"{want[:12]}, workers import {sorted(g[:12] for g in got)}"
        )
    return want
