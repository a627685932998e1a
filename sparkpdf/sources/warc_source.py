"""WARC sources — CommonCrawl-style crawl archives as engine input
(the raw form of the north rule's interleaved web corpus).

* `read_warc_dir`: a directory of *.warc / *.warc.gz files via Spark's
  binaryFile source (one binary column per file, path pruning pushes
  into the file index), then `warc_pages` explodes each archive into
  its HTML response records.
* `warc_pages`: (doc_id, warc_bytes) -> one row per RESPONSE record
  (url, http_status, content_type, html, n_bytes, error) — request /
  warcinfo / metadata records are skipped, non-HTML responses kept
  with html NULL (payload callers read the body from a media pass),
  torn archives quarantine via the error column without dropping the
  file row.

Scale shape: one Python pass, record explode is map-side (a WARC
file's records never shuffle); at CommonCrawl scale each ~1 GB .warc.gz
is one input row, so partition sizing rides binaryFile's
maxPartitionBytes and the per-file gzip members stream through zlib
without materializing the whole decompressed archive twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators._kernel import doc_id_str, map_kernel, quarantine_message


WARC_PAGE_SCHEMA = (
    "doc_id string, record_id string, url string, http_status int, "
    "content_type string, html string, n_bytes long, error string"
)


def _demux(schema: str, emit):
    """Row function for a WARC lane over (doc_id, warc_bytes):
    `emit(record)` maps each response record to its output columns
    (a dict; unnamed columns stay null) or None to skip it. A torn /
    corrupt archive yields ONE quarantine row for the file."""
    names = [c.split()[0] for c in schema.split(",")]

    def out(**cols):
        return tuple(cols.get(n) for n in names)

    def row(doc_id, data):
        from ..kernels.warc import parse_warc

        data = data or b""
        try:
            records = parse_warc(data)
        except Exception as exc:
            records, err = None, quarantine_message(exc)
        else:
            err = "warc: unparseable archive"
        if records is None:
            return [out(doc_id=doc_id, error=err, n_bytes=len(data))]
        rows = []
        for idx, rec in enumerate(records):
            cols = emit(rec) if rec["warc_type"] == "response" else None
            if cols is not None:
                rows.append(out(doc_id=f"{doc_id}#{idx}", **cols))
        return rows

    return row


def warc_pages(archives: DataFrame) -> DataFrame:
    """(doc_id, warc_bytes) -> response-record rows (WARC_PAGE_SCHEMA).

    doc_id of a page row = `{archive doc_id}#{record index}` (unique,
    stable, lineage-friendly). html is decoded latin-1-lossless for
    text/html responses; other content types keep html NULL. A torn /
    corrupt archive yields ONE quarantine row for the file."""

    def emit(rec):
        ctype = rec["http_content_type"] or ""
        # MIME types are case-insensitive (RFC 2045 §5.1)
        is_html = ctype.split(";")[0].strip().lower() == "text/html"
        return dict(
            record_id=rec["record_id"],
            url=rec["target_uri"],
            http_status=rec["http_status"],
            content_type=ctype or None,
            html=rec["body"].decode("latin-1") if is_html else None,
            n_bytes=len(rec["body"]),
        )

    return map_kernel(archives, [doc_id_str(), "warc_bytes"],
                      _demux(WARC_PAGE_SCHEMA, emit), WARC_PAGE_SCHEMA)


WARC_DOCUMENT_SCHEMA = (
    "doc_id string, url string, http_status int, content_type string, "
    "payload binary, n_bytes long, error string"
)


def warc_documents(archives: DataFrame) -> DataFrame:
    """(doc_id, warc_bytes) -> MIXED-document rows: one row per
    status-200 text/html OR application/pdf response record, the raw
    body as a binary `payload` (round 8). Real crawl archives
    interleave both — this is the crawl-side feeder for
    operators/extract.extract_interleaved, whose per-document sniff
    routes each payload to the right span kernel, so
    `extract_interleaved(warc_documents(archives))` turns a
    CommonCrawl drop into one span table. Same demux discipline as
    warc_pages: map-side explode, torn archives quarantine as one
    error row, other content types skipped."""

    def emit(rec):
        ctype = rec["http_content_type"] or ""
        base = ctype.split(";")[0].strip().lower()
        if rec["http_status"] != 200 or base not in (
                "text/html", "application/pdf"):
            return None
        return dict(
            url=rec["target_uri"],
            http_status=rec["http_status"],
            content_type=ctype or None,
            payload=rec["body"],
            n_bytes=len(rec["body"]),
        )

    return map_kernel(archives, [doc_id_str(), "warc_bytes"],
                      _demux(WARC_DOCUMENT_SCHEMA, emit),
                      WARC_DOCUMENT_SCHEMA)


def read_warc_dir(
    spark: SparkSession,
    path: str,
    glob: str = "*.warc*",
) -> DataFrame:
    """Directory of WARC archives -> page rows (WARC_PAGE_SCHEMA);
    doc_id roots at the file path."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select(
            F.col("path").alias("doc_id"),
            F.col("content").alias("warc_bytes"),
        )
    )
    return warc_pages(df)
