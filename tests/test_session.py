"""session.py::get_spark — Python workers import the package whatever the
driver's working directory."""

from __future__ import annotations

import os
import subprocess
import sys

from weatherdatapipeline_spark.session import PACKAGE_ROOT, WORKER_PATH_KEY

# A driver that finds the package through sys.path only, as a script or
# notebook outside the checkout does; the pandas UDF runs on a worker.
DRIVER = """
import sys
sys.path.insert(0, {root!r})
from weatherdatapipeline_spark.operators.similarity import cosine_to_anchors_udf
from weatherdatapipeline_spark.session import get_spark

spark = get_spark("worker-imports", cpus=1, extra_conf={{{key!r}: {given!r}}})
df = spark.createDataFrame([([1.0, 0.0],), ([0.0, 2.0],)], "v array<double>")
udf = cosine_to_anchors_udf([[1.0, 0.0]])
print("COSINES", sorted(r[0][0] for r in df.select(udf("v")).collect()))
print("WORKER_PATH", spark.conf.get({key!r}))
spark.stop()
"""


def test_worker_imports_package_from_any_directory(tmp_path):
    """From a directory outside the checkout, with PYTHONPATH unset, a
    pandas UDF from the package runs; a worker path the caller gives is
    kept behind the package root."""
    given = str(tmp_path / "site")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", DRIVER.format(root=PACKAGE_ROOT, key=WORKER_PATH_KEY, given=given)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "COSINES [0.0, 1.0]" in proc.stdout
    assert f"WORKER_PATH {PACKAGE_ROOT}{os.pathsep}{given}\n" in proc.stdout
