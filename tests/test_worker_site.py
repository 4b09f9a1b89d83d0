"""Every Python process Spark starts in a ``build_spark`` session runs
on the installed pyspark (``etl_caltopo_spark/worker_site/
sitecustomize.py``): an executor task, and a Python DataSource's schema
inference and partition planning, see the driver's pyspark and no
importer for Spark's archives; the prune rule leaves the path alone
unless the installed pyspark is the zip's; the hook runs the next
``sitecustomize`` on the path; and it reaches workers from any working
directory, after a caller's own worker path."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import zipfile

import pyspark

from etl_caltopo_spark.session import WORKER_SITE
from etl_caltopo_spark.worker_site.sitecustomize import prune

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: a path entry that is, or lies inside, one of Spark's archives
_SPARK_ARCHIVE = re.compile(r"(pyspark\.zip|py4j-[^/]*-src\.zip|\.jar)(/|$)")


def test_python_task_imports_the_installed_pyspark(spark):
    """A Python task of a ``build_spark`` session runs the driver's
    pyspark, and holds no zipimporter for ``pyspark.zip``, a py4j zip
    or a jar, so its ``importlib.invalidate_caches()`` re-reads none."""

    def _worker_imports(_rows):  # nested: pickled by value
        import sys
        import zipimport

        import pyspark

        zips = [
            key
            for key, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter)
        ]
        yield pyspark.__file__, zips

    ((worker_file, zips),) = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(_worker_imports).collect()
    )
    assert worker_file == pyspark.__file__
    assert [key for key in zips if _SPARK_ARCHIVE.search(key)] == []


def test_datasource_planner_imports_the_installed_pyspark(spark):
    """A Python DataSource's ``schema()`` (``load()``'s schema
    inference) and ``partitions()`` (the read's planning) run in
    planner workers Spark starts apart from executor tasks.  A probe
    source names its column after where those workers imported pyspark
    from and whether they cache an importer for one of Spark's
    archives; its partitions carry the same facts to ``read()``."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
    from pyspark.sql.types import StringType, StructField, StructType

    def where() -> str:  # nested: pickled by value, with _SPARK_ARCHIVE
        import sys
        import zipimport

        import pyspark

        archives = [
            key
            for key, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter) and _SPARK_ARCHIVE.search(key)
        ]
        return f"{pyspark.__file__}|{len(archives)}"

    class ProbeReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(where())]

        def read(self, partition):
            yield (partition.value,)

    class Probe(DataSource):  # nested: pickled by value
        @classmethod
        def name(cls):
            return "worker_site_probe"

        def schema(self):
            return StructType([StructField(where(), StringType())])

        def reader(self, schema):
            return ProbeReader()

    spark.dataSource.register(Probe)
    df = spark.read.format("worker_site_probe").load()
    ((planned,),) = df.collect()

    installed = f"{pyspark.__file__}|0"
    assert df.columns == [installed]
    assert planned == installed


def _spark_path(tmp_path, zip_version: str = "4.1.2", installed: bool = True):
    """A ``sys.path`` as Spark gives a worker: the working directory,
    ``pyspark.zip``, the py4j zip and Spark's jar, then site-packages
    (with pyspark 4.1.2 and py4j when ``installed``).  Returns the path
    and an importer cache with an entry for each of its entries and one
    inside ``pyspark.zip``."""
    site = tmp_path / "site"
    site.mkdir()
    if installed:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_text("__version__: str = '4.1.2'\n")
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    lib = tmp_path / "lib"
    lib.mkdir()
    pyspark_zip = lib / "pyspark.zip"
    with zipfile.ZipFile(pyspark_zip, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", f"__version__: str = '{zip_version}'\n")
    py4j_zip = lib / "py4j-0.10.9.9-src.zip"
    with zipfile.ZipFile(py4j_zip, "w") as zf:
        zf.writestr("py4j/__init__.py", "")
    jar = tmp_path / "spark-core_2.13-4.1.2.jar"
    with zipfile.ZipFile(jar, "w") as zf:
        zf.writestr("org/apache/spark/SparkContext.class", "")
    path = [str(tmp_path / "work"), str(pyspark_zip), str(py4j_zip), str(jar), str(site)]
    cache = {entry: object() for entry in path}
    cache[os.path.join(str(pyspark_zip), "pyspark")] = object()
    return path, cache


def test_prune_drops_spark_archives_and_their_importers(tmp_path):
    path, cache = _spark_path(tmp_path)
    work, pyspark_zip, py4j_zip, jar, site = path
    kept_finders = {work: cache[work], site: cache[site]}

    assert prune(path, cache) == [pyspark_zip, py4j_zip, jar]
    assert path == [work, site]
    assert cache == kept_finders


def test_prune_keeps_path_when_the_zip_is_another_version(tmp_path):
    path, cache = _spark_path(tmp_path, zip_version="4.0.0")
    before_path, before_cache = list(path), dict(cache)

    assert prune(path, cache) == []
    assert path == before_path
    assert cache == before_cache


def test_prune_keeps_path_without_an_installed_pyspark(tmp_path):
    path, cache = _spark_path(tmp_path, installed=False)
    before_path, before_cache = list(path), dict(cache)

    assert prune(path, cache) == []
    assert path == before_path
    assert cache == before_cache


_MARKER = """
import json, sys
with open({log!r}, "a") as f:
    f.write(json.dumps({{"argv": sys.argv, "path": sys.path}}) + "\\n")
"""


def _marker_site(tmp_path):
    """A directory whose ``sitecustomize`` appends the ``sys.argv`` and
    ``sys.path`` it starts with to a log, one JSON line per process.
    Returns the directory and the log."""
    site = tmp_path / "marker_site"
    site.mkdir()
    log = tmp_path / "marker.jsonl"
    (site / "sitecustomize.py").write_text(_MARKER.format(log=str(log)))
    return site, log


def test_hook_prunes_then_runs_the_next_sitecustomize(tmp_path):
    """Started with Spark's archives, then the hook, then another
    ``sitecustomize`` on ``PYTHONPATH``: the archives are gone before
    the other hook runs, the other hook still runs, and start-up
    imports neither pyspark nor the package."""
    version = os.path.join(os.path.dirname(pyspark.__file__), "version.py")
    pyspark_zip = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(pyspark_zip, "w") as zf:
        zf.write(version, "pyspark/version.py")
    py4j_zip = tmp_path / "py4j-0.10.9.9-src.zip"
    with zipfile.ZipFile(py4j_zip, "w") as zf:
        zf.writestr("py4j/__init__.py", "")
    site, log = _marker_site(tmp_path)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [str(pyspark_zip), str(py4j_zip), WORKER_SITE, str(site)]
    )
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            "import json, sys; print(json.dumps(sorted(m for m in sys.modules "
            "if m.startswith(('pyspark', 'py4j', 'etl_caltopo_spark')))))",
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode == 0, proc.stderr
    assert json.loads(proc.stdout) == []
    (seen,) = [json.loads(line) for line in log.read_text().splitlines()]
    assert str(site) in seen["path"]
    assert [p for p in seen["path"] if _SPARK_ARCHIVE.search(p)] == []


_FROM_ELSEWHERE = """
import json, sys
sys.path.insert(0, {root!r})
import pyarrow as pa
import pyspark
from etl_caltopo_spark.caltopo.datasource import register
from etl_caltopo_spark.session import build_spark

def worker_pyspark(batches):
    import pyspark
    for _ in batches:
        yield pa.RecordBatch.from_pylist([{{"file": pyspark.__file__}}])

spark = build_spark(
    master="local[2]", extra_conf={{"spark.executorEnv.PYTHONPATH": {site!r}}}
)
try:
    (row,) = spark.range(1, numPartitions=1).mapInArrow(worker_pyspark, "file string").collect()
    register(spark)
    read = (
        spark.read.format("caltopo")
        .option("shareIds", "MAP-ELSEWHERE")
        .option("baseUrl", {url!r})
        .load()
        .collect()
    )
    print(json.dumps({{
        "driver": pyspark.__file__,
        "worker": row["file"],
        "read": [r["share_id"] for r in read],
    }}))
finally:
    spark.stop()
"""


def test_hook_reaches_every_worker_from_another_working_directory(
    tmp_path, fixture_server
):
    """A session built from a working directory outside the repo, with
    the package put on ``sys.path`` in code (no ``PYTHONPATH``) and a
    caller's own ``spark.executorEnv.PYTHONPATH``, starts every Python
    process through the hook and then the caller's ``sitecustomize``:
    the ``mapInArrow`` worker runs the driver's pyspark, and the
    ``caltopo`` read's schema inference, partition planning and read
    tasks all start with no Spark archive on their path."""
    url, _ = fixture_server
    site, log = _marker_site(tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _FROM_ELSEWHERE.format(root=ROOT, url=url, site=str(site))],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["worker"] == out["driver"]
    assert out["read"] == ["MAP-ELSEWHERE"]
    started = [json.loads(line) for line in log.read_text().splitlines()]
    assert {tuple(s["argv"][1:]) for s in started} >= {
        ("pyspark.worker",),
        ("pyspark.sql.worker.create_data_source",),
        ("pyspark.sql.worker.plan_data_source_read",),
    }
    for s in started:
        assert s["path"].index(WORKER_SITE) < s["path"].index(str(site))
        assert [p for p in s["path"] if _SPARK_ARCHIVE.search(p)] == []
