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


def test_one_session_builder():
    """sparkpdf/session.py is the only place a SparkSession is built:
    jobs, harnesses and tests all go through get_spark."""
    import pathlib

    needle = "SparkSession" + ".builder"
    root = pathlib.Path(ROOT)
    builders = sorted(
        str(py.relative_to(root)) for py in root.rglob("*.py")
        if not any(part.startswith(".") for part in py.relative_to(root).parts)
        and needle in py.read_text(errors="replace")
    )
    assert builders == [os.path.join("sparkpdf", "session.py")]


def test_stage_report_reads_the_status_store(spark):
    """bench_extra.stage_report reads a finished job's stages from the
    status store with the Spark UI off: a repartition then a groupBy
    runs three stages, and every shuffled byte written is read."""
    import bench_extra
    from pyspark.sql import functions as F

    assert spark.sparkContext.uiWebUrl is None
    partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    # without AQE the final stage runs exactly `partitions` tasks
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        before = bench_extra.last_stage_id(spark)
        rows = (spark.range(1000, numPartitions=4).repartition(3)
                .groupBy((F.col("id") % 7).alias("k")).count().collect())
        got = bench_extra.stage_report(spark, before)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert sorted(r["count"] for r in rows) == [142] + [143] * 6
    assert got["n_stages"] == 3
    assert got["n_tasks"] == 4 + 3 + partitions
    assert got["shuffle_write_bytes"] > 0
    assert got["shuffle_read_bytes"] == got["shuffle_write_bytes"]
    assert got["heavy_stage_id"] > before
    quantiles = [got[k] for k in ("task_ms_p05", "task_ms_p50",
                                  "task_ms_p99", "task_ms_max")]
    assert quantiles == sorted(quantiles) and quantiles[0] >= 0
