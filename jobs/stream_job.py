"""Production streaming ingest job: continuously (or in availableNow
catch-up mode) extract spans from a landing directory of pdf_raw
parquet files, exactly-once via the Structured Streaming checkpoint.

    spark-submit --py-files sparkpdf.zip jobs/stream_job.py \
        --input /data/landing            (parquet dir: doc_id, pdf_bytes) \
        --output /data/spans \
        --checkpoint /data/spans_ck \
        [--max-files 64] [--continuous]

Default is --available-now semantics: drain everything currently in
the landing dir, then exit — rerunning after new files land processes
ONLY the new files (the checkpoint remembers). --continuous keeps the
query running until killed (real deployment mode). Prints one JSON
summary line after each drain.
"""

from __future__ import annotations

import argparse
import json
import time


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--max-files", type=int, default=64)
    ap.add_argument("--continuous", action="store_true")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from sparkpdf.session import get_spark
    from sparkpdf.streaming.ingest import stream_extract

    spark = get_spark("sparkpdf-stream")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    q = stream_extract(
        spark,
        args.input,
        args.output,
        args.checkpoint,
        trigger_available_now=not args.continuous,
        max_files_per_trigger=args.max_files,
    )
    if args.continuous:
        q.awaitTermination()
        return
    q.awaitTermination()
    counts = spark.read.parquet(args.output).agg(
        F.count("*").alias("docs_total"),
        F.count_if(F.col("error").isNotNull()).alias("errored"),
    ).first()
    print(
        json.dumps(
            {
                "docs_total": counts["docs_total"],
                "errored": counts["errored"],
                "wall_sec": round(time.time() - t0, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
