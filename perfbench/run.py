"""The repository benchmark: the CalTopo ETL path at volume, in two
shapes.

    python3 perfbench/run.py --workload etl_bulk --seed 1 --seconds 10 --trace 0

Workloads (``BENCHMARK.json`` records why each was chosen; ``etl.py``
holds their sizes):

- ``etl_fanout``: many small maps through the CalTopo source, decode,
  transform, folder join and the sink's driver-collect path.
- ``etl_bulk``: a few large maps through the same layers and the
  sink's per-partition path.

End-to-end metrics: ``setup_s`` (the median of three set-ups, each a
session build, datasource registration and one warm-up run),
``wall_s`` (the median wall of the timed runs) and ``features_per_s``
(features acknowledged by the sink per second of that wall).
``peak_rss_mb`` (peak resident memory of this process, the JVM and
Spark's Python workers during the timed runs) is reported with the
per-layer metrics: the JVM's heap growth makes it swing by ~25% between
runs, too wide for a bound.

Load model: a closed loop with one client.  Within one process the
timed runs go back to back; within a timed run, concurrency is Spark's
``local[nproc]``.
The map and sink servers live in this process and serve pre-generated
bytes.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
set-up and timed loop, then a traced pass, and prints the per-layer
metrics.  The last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``;
the line before it stamps the environment the numbers came from.
``error_rate`` (failed ÷ attempted) is carried by those two counts
rather than as a metric, since it reads 0 on a correct run.

Every file the run writes goes under ``.perfbench_work/`` in the
checkout, and is removed when the run ends.  Every process the run
starts has ended and been reaped when it exits: see
``stop_processes``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ["etl_fanout", "etl_bulk"]

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "features_per_s": "1/s",
}


def per_layer_units() -> dict[str, str]:
    from probes import SPARK_METRICS

    units = {
        "setup.first_s": "s",
        "peak_rss_mb": "MB",
        "datasource.gets": "count",
        "datasource.gets_per_map": "ratio",
        "datasource.mb": "MB",
        "datasource.get_p50_ms": "ms",
        "datasource.get_p99_ms": "ms",
        "datasource.s": "s",
        "decode.s": "s",
        "decode.rows": "count",
        "transform.s": "s",
        "joins.s": "s",
        "joins.folder_rows": "count",
        "joins.matched_share": "ratio",
        "sink.s": "s",
        "sink.count_s": "s",
        "sink.posts": "count",
        "sink.mb": "MB",
        "sink.features_per_post": "ratio",
        "sink.retries": "count",
        "sink.dup_posts": "count",
        "sink.server_busy_s": "s",
    }
    for name in SPARK_METRICS:
        units[f"spark.{name}"] = "s" if name.endswith("_s") else (
            "MB" if name.endswith("_mb") else "count"
        )
    units["trace.unattributed_s"] = "s"
    return units


_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants.

    ``spark-class`` ``exec``s the driver JVM with a process-substitution
    subshell still attached, which the JVM never waits for; without a
    subreaper, that subshell (and the JVM itself, once this process has
    gone) would outlive the run as zombies of PID 1."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me = str(os.getpid())
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[1] == me:
                        out.append(int(entry))
            except OSError:
                pass
    return out


def stop_processes(grace_s: float = 30.0) -> None:
    """End the gateway JVM (and with it Spark's Python workers) and reap
    every descendant, killing whatever is still running after
    ``grace_s``."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=grace_s)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no child left, running or not
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children():
                try:
                    os.kill(child, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


class Run:
    """One benchmark run's arguments, and the attempted/failed tallies
    its last line reports."""

    def __init__(self, args) -> None:
        self.args = args
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def tally(self, attempted: int, problems: list[str]) -> None:
        self.attempted += attempted
        self.failed += len(problems)
        self.problems += problems[: max(0, 20 - len(self.problems))]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # the benchmark measures the sources next to it, never an installed copy
    if not os.path.isdir(os.path.join(ROOT, "etl_caltopo_spark")):
        print(f"perfbench: etl_caltopo_spark not found under {ROOT}", file=sys.stderr)
        return 1

    adopt_orphans()
    # a SIGTERM ends the run through the same clean-up as any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    # keep every temporary file of Python, Spark and both JVMs (the
    # launcher's and the driver's) inside the checkout
    jvm_opts = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = work
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    state = Run(args)
    spark = None

    def build_session():
        """The package's session: built on the first call, fetched and
        re-configured on later ones."""
        nonlocal spark
        from etl_caltopo_spark.session import build_spark

        spark = build_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={"spark.driver.extraJavaOptions": jvm_opts},
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    try:
        from etl import run_etl

        values, env = run_etl(state, build_session)
    finally:
        try:
            if spark is not None:
                spark.stop()
        except Exception as exc:  # e.g. a py4j call cut short by SIGTERM
            print(f"perfbench: spark.stop() failed: {exc!r}", file=sys.stderr)
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # when no other run is using it
        except OSError:
            pass

    units = per_layer_units() if args.trace else END_TO_END
    for problem in state.problems:
        print(f"output mismatch: {problem}", file=sys.stderr)
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": state.failed == 0,
        "attempted": state.attempted,
        "failed": state.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if state.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
