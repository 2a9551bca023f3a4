"""Hermetic run environment and host diagnostics read from ``/proc``.

Everything here is the benchmark's own plumbing: it never imports the
program.  ``hermetic`` must run before pyspark is imported, because the
launcher reads its environment variables when the JVM starts.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading

def cores() -> int:
    """The CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def hermetic(root: str, run_dir: str) -> None:
    """Point every path Spark or Python writes at ``run_dir``.

    * Python workers get ``PYTHONPATH`` = the checkout, so the kernels'
      ``origami_spark`` imports resolve inside ``mapInPandas``.
    * Shuffle/spill files, temp files, the warehouse and ``derby.log``
      all land under ``run_dir`` (the cwd is moved there too).
    """
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ.update({
        "PYTHONPATH": root,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(cores()),
        # the driver JVM keeps the program's own memory settings; both
        # JVMs skip the perf-data file the JVM would put in /tmp
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
            "pyspark-shell"),
    })
    os.environ.pop("SPARK_CONF_DIR", None)
    os.chdir(run_dir)


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(base, n))
                files += 1
            except OSError:
                pass
    return total, files


# ---------------------------------------------------------------------------
# CPU steal and load average (diagnostics only: never used to retry a run)
# ---------------------------------------------------------------------------

def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies summed over this process's CPUs."""
    mine = os.sched_getaffinity(0)
    steal = total = 0
    with open("/proc/stat") as f:
        for line in f:
            name, *vals = line.split()
            if not name.startswith("cpu") or name == "cpu":
                continue
            if int(name[3:]) not in mine:
                continue
            nums = [int(v) for v in vals]
            steal += nums[7] if len(nums) > 7 else 0
            total += sum(nums)
    return steal, total


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    return (after[0] - before[0]) / max(after[1] - before[1], 1)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


# ---------------------------------------------------------------------------
# peak summed RSS of this process's descendants (driver JVM + Python workers)
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants_rss_bytes(pid: int) -> dict[str, int]:
    """Summed RSS of ``pid``'s descendants, by command name."""
    kids = _children_map()
    todo, by_comm = list(kids.get(pid, [])), {}
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, []))
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{p}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
        by_comm[comm] = by_comm.get(comm, 0) + rss
    return by_comm


class RssSampler:
    """Samples the summed RSS of this process's descendant JVM and Python
    processes (the driver JVM and the Python workers).

    ``peak()`` reports the maximum since the last ``reset()``; the
    benchmark resets it when each timed iteration starts."""

    def __init__(self, interval: float = 0.1):
        self._interval = interval
        self._peak = 0
        self._peak_by_comm: dict[str, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            by_comm = descendants_rss_bytes(me)
            # the JVM's short-lived forks (to exec chmod and the like)
            # share its pages until exec and would count them twice
            rss = sum(v for k, v in by_comm.items()
                      if k == "java" or k.startswith("python"))
            with self._lock:
                self._peak = max(self._peak, rss)
                for comm, rss in by_comm.items():
                    self._peak_by_comm[comm] = max(
                        self._peak_by_comm.get(comm, 0), rss)
            self._stop.wait(self._interval)

    def reset(self) -> None:
        with self._lock:
            self._peak = 0
            self._peak_by_comm = {}

    def peak(self) -> int:
        with self._lock:
            return self._peak

    def peak_by_comm(self) -> dict[str, int]:
        """Per-command peaks (diagnostics; they need not coincide)."""
        with self._lock:
            return dict(self._peak_by_comm)
