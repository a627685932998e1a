"""Incremental ingestion adapter (Structured Streaming, file source).

The reference is strictly batch (it slurps whole files,
/root/reference/_reader.py:236-238) and the north rule asks for BATCH
with resumable checkpoints — which plans/checkpoint.py provides. This
module is the complementary CONTINUOUS-ARRIVAL path: new pdf_raw
parquet files landing in a directory are extracted exactly-once via
Spark's own streaming checkpoint (offsets + sink commit log), using the
SAME stateless Arrow row kernel as the batch path. No watermarks or
stateful operators are needed — extraction is per-document pure
(SURVEY §2.14).

Use `trigger_available_now=True` for a drain-and-stop run (cron-style
incremental batch); leave it False for an always-on micro-batch stream.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.extract import PDF_RAW_SCHEMA, extract_spans


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    max_files_per_trigger: int = 64,
) -> StreamingQuery:
    """pdf_raw parquet dir -> documents_interleaved parquet sink,
    exactly-once via the streaming checkpoint."""
    src = (
        spark.readStream.schema(PDF_RAW_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
    )
    spans = extract_spans(src)
    writer = (
        spans.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_web_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    warc: bool = False,
    trigger_available_now: bool = True,
    max_files_per_trigger: int = 64,
) -> StreamingQuery:
    """Continuous-arrival web ingestion: a directory receiving
    (doc_id, html) parquet — or, with `warc`, (doc_id, warc_bytes)
    parquet (the CommonCrawl drop-zone shape: each landed file holds
    raw archives) — streams through the SAME one-pass extraction as
    jobs/web_job.py (WARC demux -> status-200 text/html filter ->
    extract_web_docs), exactly-once via Spark's streaming checkpoint.
    Extraction is per-document pure, so no watermark or state is
    needed; availableNow gives the cron-style drain-and-stop run."""
    from ..operators.text import extract_web_docs

    if warc:
        from ..sources.warc_source import warc_pages

        src = (
            spark.readStream
            .schema("doc_id string, warc_bytes binary")
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(input_dir)
        )
        pages = warc_pages(src).filter(
            "error IS NULL AND http_status = 200 AND html IS NOT NULL"
        ).select("doc_id", "html")
    else:
        src = (
            spark.readStream
            .schema("doc_id string, html string")
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(input_dir)
        )
        pages = src
    docs = extract_web_docs(pages)
    writer = (
        docs.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
