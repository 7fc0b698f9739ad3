"""Python workers import the package whatever the driver's working
directory: a driver that finds ``pytrousse_spark`` through ``sys.path``
alone (not ``PYTHONPATH``) runs from a foreign directory, and one
``mapInPandas`` operator whose worker code references a package function
must still run."""

from __future__ import annotations

import os
import subprocess
import sys

import pytrousse_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(pytrousse_spark.__file__)))

SCRIPT = f"""
import sys
sys.path.insert(0, {REPO!r})
from pytrousse_spark.operators.multimodal import decode_images
from pytrousse_spark.session import get_spark

spark = get_spark(app_name="foreign-cwd", shuffle_partitions=1)
df = spark.createDataFrame(
    [(i, bytes(range(i % 7 + 1))) for i in range(5)], "doc_id long, media binary"
)
print("ROWS", decode_images(df, decoder="fake").count())
spark.stop()
"""


def test_worker_imports_package_from_foreign_cwd(tmp_path):
    env = dict(os.environ)
    paths = [
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != REPO
    ]
    env["PYTHONPATH"] = os.pathsep.join(paths)
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "ROWS 5" in proc.stdout, proc.stderr[-3000:]
