"""SparkSession factory with scale-appropriate defaults.

Test/bench sessions run local[N]; under spark-submit the submitted
master is kept and the same confs carry to a real cluster (SURVEY.md
§4.3). Everything here is plain public Spark configuration.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
        # local-mode JVM tuning experiments (e.g. GC choice at 32
        # threads); harmless empty default
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARKPDF_DRIVER_JAVA_OPTS", ""),
        )
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
    )
    # spark-submit starts the driver JVM first, with the master it was
    # given (its own default is local[*]), and hands Python the gateway
    # port; only a plain Python caller needs a master here. Reading the
    # conf instead would start a JVM before spark.driver.memory is set.
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    wh = os.environ.get("SPARKPDF_WAREHOUSE")
    if wh:  # static conf: only effective before the first session
        builder = builder.config("spark.sql.warehouse.dir", wh)
    return builder.getOrCreate()

