"""Start every Python process Spark launches on the installed pyspark.

``session.build_spark`` puts this directory first on every Python
worker's path, so ``site`` runs this module before ``pyspark.daemon``
in executor and DataSource planner daemons alike.  :func:`prune` drops
the ``pyspark.zip``, py4j zip and jar that ``SPARK_HOME`` adds (on
Python 3.11 every task re-reads their ~28k entries), then the next
``sitecustomize`` on the path runs.  Imports neither pyspark nor the
package, and does nothing when imported under another name.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder
from importlib.util import module_from_spec


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


if __name__ == "sitecustomize":
    prune(sys.path, sys.path_importer_cache)
    # then the next sitecustomize on the path, as site would have run it;
    # later entries for this directory are skipped, so it never reruns
    here = os.path.dirname(os.path.abspath(__file__))
    entries = [os.path.abspath(p or os.curdir) for p in sys.path]
    start = entries.index(here) + 1
    rest = [p for p, e in zip(sys.path[start:], entries[start:]) if e != here]
    spec = PathFinder.find_spec("sitecustomize", rest)
    if spec is not None and spec.loader is not None:
        sys.modules["sitecustomize"] = module_from_spec(spec)
        spec.loader.exec_module(sys.modules["sitecustomize"])
