"""SparkSession factory.

Replaces the reference's runtime envelope — one single-threaded AWS
Lambda container holding the whole dataset in memory
(/root/reference/Dockerfile:1-8, /root/reference/task.ts:92) — with a
Spark session configured for multi-executor scale:

- AQE on: runtime partition coalescing, skew-join splitting, and join
  strategy re-planning — the knobs that matter most at 100 TB.
- UTC session timezone everywhere (the reference deals in epoch millis,
  /root/reference/task.ts:23).
- Arrow-accelerated Python interop for the few Pandas-UDF operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Conf that must be set at session build time.
BUILD_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.ui.showConsoleProgress": "false",
}

#: Conf that is safe to (re-)apply on an already-running session.  The
#: driver hands our queries an externally built SparkSession, so every
#: query path calls :func:`apply_runtime_conf` defensively.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
}


def default_driver_memory() -> str:
    """About half the host's RAM.  In local mode the driver JVM is also
    the executor, and the other half is left to Spark's Python workers
    and the OS."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # pragma: no cover - no sysconf
        return "4g"
    return f"{total // 2 // 2**20}m"


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")


def build_spark(
    app_name: str = "etl-caltopo-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``shuffle_partitions`` defaults to the core count of the local
    master; on a real cluster it should be set to ~2-3x total cores (or
    left to AQE's coalescing with a high initial value).
    """
    builder = SparkSession.builder.appName(app_name).master(master or default_master())
    for k, v in BUILD_CONF.items():
        builder = builder.config(k, v)
    # local mode: driver == executor, and Spark's 1g default is far too
    # small for broadcast builds + cached signatures on a large box.
    # Only effective at first JVM start; harmless afterwards.
    builder = builder.config(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
    )
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    apply_runtime_conf(spark)
    return spark


#: application ids whose executors already received the package zip
_PYFILES_SHIPPED: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make ``etl_caltopo_spark`` importable on executor Python workers.

    The driver contract hands queries an externally built SparkSession
    whose working directory / PYTHONPATH need not contain this repo —
    in that case cloudpickled Pandas-UDF closures fail to unpickle on
    workers (ModuleNotFoundError at worker.py subimport).  Shipping a
    zip of the package via ``addPyFile`` puts it on every worker's
    sys.path regardless of how the session was launched.  Once per
    SparkContext; a few dozen small files, so building the zip is
    cheap."""
    import tempfile
    import zipfile

    try:
        sc = spark.sparkContext
        app_id = sc.applicationId
    except Exception:  # pragma: no cover - e.g. Spark Connect: no sc
        return
    if app_id in _PYFILES_SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    fd, zpath = tempfile.mkstemp(prefix="etl_caltopo_spark_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                full = os.path.join(root, fname)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                zf.write(full, rel)
    sc.addPyFile(zpath)
    _PYFILES_SHIPPED.add(app_id)


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally provided session."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - read-only conf on some builds
            pass
    try:
        _ship_package(spark)
    except Exception:  # pragma: no cover - never fail a query over this
        pass
    return spark
