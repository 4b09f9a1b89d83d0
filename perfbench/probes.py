"""Measurements taken from outside the engine: the process tree's
resident memory, and Spark's own job/stage accounting per tagged call.

Stage metrics come from the local UI's REST endpoint
``/api/v1/applications/<app>/stages``, which in local mode carries
executor run time, CPU time, GC time, input, shuffle and spill bytes.
Jobs are attributed to a call with ``setJobGroup`` and looked up in
``statusTracker()``.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import subprocess
import threading
import time
from contextlib import contextmanager
from urllib.parse import urlparse
from urllib.request import urlopen

_PAGE = os.sysconf("SC_PAGE_SIZE")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
        stack += children.get(pid, [])
    return total


class PeakRss:
    """Samples the summed RSS of this process and all its descendants
    (driver Python, the JVM, Spark's Python workers) while running."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))


#: REST stage fields summed per tagged call, with their scale to the
#: reported unit
_STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_mb": ("inputBytes", 1e-6),
    "shuffle_read_mb": ("shuffleReadBytes", 1e-6),
    "shuffle_write_mb": ("shuffleWriteBytes", 1e-6),
    "spill_mb": ("diskBytesSpilled", 1e-6),
}
SPARK_METRICS = ["jobs", "stages", "tasks", *_STAGE_FIELDS]


class SparkCalls:
    """Tags calls with a job group and sums Spark's accounting for any
    set of groups afterwards."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        port = urlparse(self.sc.uiWebUrl).port
        self._stages_url = (
            f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}/stages"
        )

    @contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def job_ids(self, groups: list[str]) -> list[int]:
        tracker = self.sc.statusTracker()
        return sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})

    def totals(self, groups: list[str], timeout_s: float = 10.0) -> dict[str, float]:
        """Jobs, stages, tasks and summed stage metrics of every job run
        under ``groups``.  Waits until the UI store has every stage."""
        tracker = self.sc.statusTracker()
        jobs = self.job_ids(groups)
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        deadline = time.monotonic() + timeout_s
        while True:
            with urlopen(self._stages_url, timeout=30) as resp:
                stages = [s for s in json.load(resp) if s["stageId"] in stage_ids]
            settled = {s["stageId"] for s in stages if s["status"] != "ACTIVE"}
            if settled >= stage_ids or time.monotonic() > deadline:
                break
            time.sleep(0.1)
        ran = [s for s in stages if s["status"] == "COMPLETE"]
        out: dict[str, float] = {
            "jobs": len(jobs),
            "stages": len({s["stageId"] for s in ran}),
            "tasks": sum(s["numCompleteTasks"] for s in ran),
        }
        for name, (field, scale) in _STAGE_FIELDS.items():
            out[name] = sum(s.get(field, 0) for s in ran) * scale
        return out


def environment(spark) -> dict:
    """The stamp that keeps numbers from different boxes apart: the
    effective Spark shape, the host, and the source revision."""
    import pyspark

    sc = spark.sparkContext
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "etl_caltopo_spark")
    for dirpath, dirnames, filenames in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    digest.update(f.read())
    try:
        rev = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or None
    except OSError:
        rev = None
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": sc.getConf().get("spark.driver.memory", "default"),
        "nproc": os.cpu_count(),
        "mem_total_mb": mem_kb // 1024,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "git_rev": rev,
        "package_sha256": digest.hexdigest()[:16],
    }
