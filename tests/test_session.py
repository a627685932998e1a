"""The session factory under spark-submit: the submitted master wins,
the factory's Arrow batch cap still applies and the stock worker daemon
stays; a local session boots its workers from any working directory,
through one worker daemon."""

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
    "daemon": spark.sparkContext.getConf().get("spark.python.daemon.module"),
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
    assert got == {"master": "local[2]", "batch": "512", "daemon": None}


LOCAL_PROBE = """
import json, os, sys
sys.path.insert(0, {root!r})
from sparkpdf.operators import _kernel
from sparkpdf.session import get_spark

def square(i):
    yield i, i * i

def daemons(jvm_pid):
    # the JVM's direct children only: forked workers share the
    # daemon's command line
    n = 0
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{{pid}}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{{pid}}/cmdline", "rb") as f:
                cmd = f.read()
        except (OSError, IndexError, ValueError):
            continue
        n += ppid == jvm_pid and b"sparkpdf.worker_daemon" in cmd
    return n

spark = get_spark("sparkpdf-daemon-probe", cpus=1)
local = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
assert len(local.collect()) == 2
rows = _kernel.map_kernel(spark.range(3), ["id"], square,
                          "id long, sq long").collect()
print(json.dumps({{
    "daemon": spark.sparkContext.getConf().get("spark.python.daemon.module"),
    "rows": sorted(r.sq for r in rows),
    "daemons": daemons(spark._jvm.ProcessHandle.current().pid()),
}}))
spark.stop()
"""


def test_local_session_workers_boot_outside_the_package_root(tmp_path):
    """A caller that puts sparkpdf on sys.path by hand, from another
    working directory and with no PYTHONPATH, still completes a Python
    task: the daemon module is found through the session's
    spark.executorEnv.PYTHONPATH. An RDD-path job (createDataFrame from
    local rows) and a SQL Arrow job share one worker daemon."""
    probe = tmp_path / "probe.py"
    probe.write_text(LOCAL_PROBE.format(root=ROOT))
    env = {k: v for k, v in os.environ.items()
           if k != "PYTHONPATH"
           and not k.startswith(("SPARKPDF_", "PYSPARK_GATEWAY"))}
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run([sys.executable, str(probe)], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got == {"daemon": "sparkpdf.worker_daemon", "rows": [0, 1, 4],
                   "daemons": 1}


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
