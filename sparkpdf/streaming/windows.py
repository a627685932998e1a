"""Watermarked time-window aggregation over a streaming events source.

Complements ingest.py (stateless extraction): this is the declarative
windowed-agg path — tumbling
windows + watermark, the standard Structured Streaming shape for
event-rate rollups on a 10^12-row event stream.

Two modes:
  * stream_event_windows(): availableNow drain in COMPLETE mode — the
    result equals the batch aggregation exactly (oracle-checkable; the
    watermark is declared but cannot drop anything in complete mode).
  * stream_event_windows_append(): APPEND mode with a real watermark —
    only closed windows emit, and late rows behind the watermark are
    DROPPED (tested in tests/test_spark_operators.py with a two-batch
    late-arrival scenario).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long,"
    " event_type string, value double, props string"
)


def _windowed(src: DataFrame, window: str, watermark: str) -> DataFrame:
    return (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w").start.alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_event_windows(
    spark: SparkSession,
    events_path: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    name: str = "stream_events_window_sink",
) -> DataFrame:
    """Drain `events_path` as a stream, return the final window table."""
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    import os
    import shutil
    import tempfile

    if os.path.isfile(events_path):
        # the file stream source requires a DIRECTORY; stage the single
        # parquet file into one (local-path test harness convenience —
        # production streams already land in directories)
        import hashlib

        key = hashlib.md5(os.path.abspath(events_path).encode()).hexdigest()[:12]
        stage = os.path.join(
            tempfile.gettempdir(), "sparkpdf_stream_stage", key
        )
        os.makedirs(stage, exist_ok=True)
        dest = os.path.join(stage, os.path.basename(events_path))
        if not os.path.exists(dest):
            shutil.copy2(events_path, dest)
        events_path = stage
    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_path)
    q = (
        _windowed(src, window, watermark)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


def stream_event_windows_append(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "1 hour",
):
    """Append-mode variant for continuous runs: emits a window once the
    watermark passes its end; rows later than the watermark are dropped
    (at-most-once per window, exactly the production rollup contract)."""
    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(input_dir)
    return (
        _windowed(src, window, watermark)
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
