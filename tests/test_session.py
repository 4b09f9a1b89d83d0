"""``build_spark`` leaves nothing behind in the temp directory: the
package zip it ships to executors is removed when the process exits."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_ONE_TASK = """
import glob, json, os, sys
sys.path.insert(0, {root!r})
from etl_caltopo_spark.session import build_spark
spark = build_spark(master="local[1]")
try:
    spark.sparkContext.parallelize([0], 1).map(lambda x: x + 1).collect()
    print(json.dumps(glob.glob(os.path.join(os.environ["TMPDIR"], "etl_caltopo_spark_*.zip"))))
finally:
    spark.stop()
"""


def test_package_zip_is_removed_at_exit(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TMPDIR"] = str(tmp_path)
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _ONE_TASK.format(root=ROOT)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    shipped = json.loads(proc.stdout.strip().splitlines()[-1])
    assert len(shipped) == 1  # the zip existed while the session ran
    assert list(tmp_path.glob("etl_caltopo_spark_*.zip")) == []
