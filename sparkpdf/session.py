"""SparkSession factory with scale-appropriate defaults.

Test/bench sessions run local[N]; under spark-submit the submitted
master is kept and the same confs carry to a real cluster (SURVEY.md
§4.3). Everything here is plain public Spark configuration.

Local sessions this factory starts itself also boot their Python worker
daemon through `sparkpdf.worker_daemon` (`spark.python.daemon.module`,
with the package root on `spark.executorEnv.PYTHONPATH` so the daemon
imports from any working directory). Spark puts `pyspark.zip` first on a
worker's path and zipimport caches no bytecode, so the stock daemon
recompiles ~90 pyspark modules in every new session (~1 s of the first
task); when the installed pyspark is byte-identical to the zip, the
module moves the zip behind it and runs `pyspark.daemon` unchanged,
otherwise it keeps the stock order. spark-submit sessions keep the stock
daemon: `--py-files` reach a worker only per task, after the daemon has
started, so the module would not be importable there. The module must
write nothing to stdout: the JVM reads the daemon's port from it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds the sparkpdf package (a zip path when the
# package itself is imported from a zip)
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "sparkpdf",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        # Arrow transport for every Python lane
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # cap Arrow batch rows: one giant doc must not blow executor
        # memory; the byte-budget salting (plans/salting.py) handles the
        # byte dimension (SURVEY §4.3). Larger batches amortize IPC:
        # bench.py uses 8192 via SPARKPDF_ARROW_BATCH on small-doc corpora.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARKPDF_ARROW_BATCH", "512"),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing + skew-join splitting
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARKPDF_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
    )
    # spark-submit starts the driver JVM first, with the master it was
    # given (its own default is local[*]), and hands Python the gateway
    # port; only a plain Python caller needs a master here. Reading the
    # conf instead would start a JVM before spark.driver.memory is set.
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = (
            builder.master(f"local[{cpus}]")
            .config("spark.python.daemon.module", "sparkpdf.worker_daemon")
            .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        )
    return builder.getOrCreate()

