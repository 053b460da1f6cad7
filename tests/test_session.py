"""``session.get_spark`` keeps the master that ``spark-submit`` or
``PYSPARK_SUBMIT_ARGS`` sets, and still applies its own settings."""

import os
import subprocess
import sys

import pyspark
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """\
from osmquadtree_geometry_spark.session import get_spark
spark = get_spark(); sc = spark.sparkContext
print("SESSION", sc.master, spark.conf.get("spark.sql.shuffle.partitions"), spark.conf.get("spark.sql.session.timeZone"), sc._jvm.java.lang.Runtime.getRuntime().maxMemory())
"""


@pytest.mark.parametrize("launch", ["spark-submit", "PYSPARK_SUBMIT_ARGS"])
def test_get_spark_keeps_submitted_master(tmp_path, launch):
    script = tmp_path / "session_probe.py"
    script.write_text(SCRIPT)
    env = dict(os.environ, PYTHONPATH=ROOT, SPARK_GRAFT_CPUS="9",
               SPARK_DRIVER_MEMORY="640m")
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    if launch == "spark-submit":
        submit = os.path.join(os.path.dirname(pyspark.__file__), "bin",
                              "spark-submit")
        cmd = [submit, "--master", "local[2]", str(script)]
        env["PYSPARK_PYTHON"] = sys.executable
    else:
        cmd = [sys.executable, str(script)]
        env["PYSPARK_SUBMIT_ARGS"] = "--master local[2] pyspark-shell"
    out = subprocess.run(cmd, env=env, cwd=tmp_path, capture_output=True,
                         text=True, timeout=300)
    [line] = [ln for ln in out.stdout.splitlines()
              if ln.startswith("SESSION ")]
    _, master, partitions, tz, max_heap = line.split()
    assert (master, partitions, tz) == ("local[2]", "9", "UTC")
    if launch == "PYSPARK_SUBMIT_ARGS":
        # the JVM was launched with get_spark's spark.driver.memory
        assert int(max_heap) <= 640 * 2**20
