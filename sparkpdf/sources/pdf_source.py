"""pdf_raw sources — SURVEY.md §2.1 S1.

`read_pdf_dir` reads a directory tree of *.pdf files via Spark's
binaryFile source (path pruning + modifiedAfter predicates push into
the file index; content arrives as one binary column, no Python I/O)
and normalizes it to the pdf_raw contract consumed by
operators/extract.extract_spans. A table already shaped
(doc_id, pdf_bytes) is read with `spark.read.parquet`, as every job
does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_pdf_dir(
    spark: SparkSession,
    path: str,
    glob: str = "*.pdf",
    modified_after: str | None = None,
) -> DataFrame:
    """Directory of PDF files -> pdf_raw(doc_id, pdf_bytes).

    doc_id = file path (unique, stable, and lineage-friendly)."""
    reader = spark.read.format("binaryFile").option("pathGlobFilter", glob)
    if modified_after:
        reader = reader.option("modifiedAfter", modified_after)
    df = reader.load(path)
    return df.select(
        F.col("path").alias("doc_id"), F.col("content").alias("pdf_bytes")
    )
