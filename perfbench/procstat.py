"""Host-side measurements read from ``/proc``: peak RSS of this process
tree (the Python driver, the Spark driver JVM and its Python workers), a
short single-core CPU calibration, and the environment record printed
with every result."""

from __future__ import annotations

import os
import platform
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int | None = None) -> float:
    """Summed RSS of ``root`` (default: this process) and its descendants."""
    kids = _children_map()
    todo, total = [root or os.getpid()], 0
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class PeakRss:
    """Samples the process tree's RSS on a background thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def cpu_calibration_s(n: int = 400_000) -> float:
    """Seconds for a fixed pure-Python loop: a drifting value flags a slow
    or contended host window."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return time.perf_counter() - t0


def environment(parallelism: int, local_dir: str) -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "parallelism": parallelism,
        "nproc": os.cpu_count(),
        "spark_local_dir": local_dir,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "loadavg": list(os.getloadavg()),
        "cpu_calibration_s": cpu_calibration_s(),
    }
