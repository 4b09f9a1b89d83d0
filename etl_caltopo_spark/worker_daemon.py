"""Spark's Python worker daemon, started on the installed pyspark.

``session.BUILD_CONF`` names this module as ``spark.python.daemon.module``,
so Spark starts it as ``python -m etl_caltopo_spark.worker_daemon``.
With ``SPARK_HOME`` set, Spark puts ``pyspark.zip``, the py4j source zip
and its core jar on every worker's ``PYTHONPATH``, and workers import
pyspark from the zip.  Every task then calls
``importlib.invalidate_caches()``, and on Python 3.11 each zipimporter
re-reads its whole archive directory (~27k entries, 0.13-0.22 s a task
on a 4-core box).

When the installed pyspark and py4j are importable without those
archives, and the installed ``pyspark/version.py`` equals the zip's,
:func:`prune` drops the archives from ``sys.path`` and their importers
from ``sys.path_importer_cache``.  Otherwise it changes nothing.  Then
``pyspark.daemon.manager()`` runs unchanged, and every worker it forks
imports the driver's pyspark from site-packages.  Nothing imports
pyspark before :func:`prune` runs: not this module, not the package's
``__init__``.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or name.endswith(".jar")
        or (name.startswith("py4j-") and name.endswith("-src.zip"))
    )


def prune(path: list[str], cache: dict) -> list[str]:
    """Drop Spark's archives from ``path`` (in place) and their entries,
    and those of anything inside them, from ``cache``, when the
    installed pyspark is the one they carry.  Returns the dropped
    entries, ``[]`` when ``path`` and ``cache`` are left as they were."""
    dropped = [p for p in path if _is_spark_archive(p)]
    kept = [p for p in path if p not in dropped]
    if not dropped or PathFinder.find_spec("py4j", kept) is None:
        return []
    spec = PathFinder.find_spec("pyspark", kept)
    if spec is None or not spec.origin:
        return []
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as f:
            installed = f.read()
        for archive in dropped:
            if os.path.basename(archive) == "pyspark.zip":
                with zipfile.ZipFile(archive) as zf:
                    if zf.read("pyspark/version.py") != installed:
                        return []
    except (OSError, KeyError, zipfile.BadZipFile):
        return []
    path[:] = kept
    for key in list(cache):
        if any(key == p or key.startswith(p + os.sep) for p in dropped):
            del cache[key]
    return dropped


if __name__ == "__main__":
    prune(sys.path, sys.path_importer_cache)
    from pyspark.daemon import manager

    manager()
