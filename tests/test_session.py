"""The session factory under spark-submit: the submitted master wins,
and the factory's Arrow batch cap still applies."""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import json
from sparkpdf.session import get_spark

spark = get_spark("sparkpdf-session-probe", cpus=3)
print(json.dumps({
    "master": spark.sparkContext.master,
    "batch": spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
}))
spark.stop()
"""


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit is not on PATH")
def test_get_spark_keeps_the_spark_submit_master(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(PROBE)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARKPDF_", "PYSPARK_GATEWAY"))}
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [env.get("PYTHONPATH")] if p])
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        ["spark-submit", "--master", "local[2]",
         "--conf", "spark.ui.enabled=false", str(probe)],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got == {"master": "local[2]", "batch": "512"}
