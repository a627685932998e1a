"""Production span-extraction job.

    spark-submit --py-files sparkpdf.zip jobs/extract_job.py \
        --input  /data/pdf_raw          (parquet: doc_id, pdf_bytes) \
        --output /data/documents_interleaved \
        --batches 64                    (checkpoint slices) \
        [--no-salting] [--resume]

Pipeline: scan -> byte-size-aware salting (skew defence, SURVEY §4.3)
-> checkpointed per-slice extraction with a _progress manifest
(restart with --resume skips completed slices; north-rule lineage).
get_spark keeps the master spark-submit was given (--master), so the
same command runs on a laptop or a cluster.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None, spark=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--batches", type=int, default=64)
    ap.add_argument("--target-bytes", type=int, default=64 << 20)
    ap.add_argument(
        "--auto-target",
        action="store_true",
        help="derive target-bytes from the corpus's own whale stats "
        "(p99 big-doc bytes x the whale cost factor, floor at the "
        "default target) — the measured whale100x rule; overrides "
        "--target-bytes",
    )
    ap.add_argument(
        "--measure-factor",
        action="store_true",
        help="with --auto-target: MEASURE the whale cost factor on "
        "this corpus (contended probe, plans/salting.py) instead of "
        "the 3.2 default — required when the corpus's compressibility "
        "regime is unknown (the constant embeds one corpus's flate "
        "ratio; round-7 whale100x runs show measured factors 1.3-1.4 "
        "matching the hand-tuned target quality on both regimes)",
    )
    ap.add_argument("--big-doc-bytes", type=int, default=16 << 20)
    ap.add_argument("--no-salting", action="store_true")
    ap.add_argument(
        "--interleaved",
        action="store_true",
        help="input is a MIXED (doc_id, payload) table holding PDF "
        "bytes AND HTML markup in one column (the north rule's "
        "interleaved corpus): the kernel sniffs per document and "
        "emits one span contract for both formats (round 8)",
    )
    ap.add_argument(
        "--size-col",
        default=None,
        help="materialized per-doc byte-size column (e.g. n_bytes): "
        "REQUIRED at scale — without it the salting plan's two branch "
        "filters cannot push down and each re-reads the corpus "
        "(measured 1.8x at 27 GB, BENCH/BASELINE.md round 5)",
    )
    args = ap.parse_args(argv)

    from sparkpdf.session import get_spark

    owns_spark = spark is None
    if owns_spark:
        spark = get_spark("sparkpdf-extract")

    from sparkpdf.operators.extract import (
        extract_interleaved,
        extract_spans,
    )
    from sparkpdf.plans.checkpoint import CheckpointedExtraction
    from sparkpdf.plans.salting import (
        WHALE_COST_FACTOR,
        plan_salted_partitions,
        skew_report,
    )

    payload_col = "payload" if args.interleaved else "pdf_bytes"
    workload = extract_interleaved if args.interleaved else extract_spans
    pdf_raw = spark.read.parquet(args.input)
    if not args.no_salting:
        report = skew_report(pdf_raw, args.batches,
                             payload_col=payload_col,
                             size_col=args.size_col)
        pdf_raw = plan_salted_partitions(
            pdf_raw,
            target_bytes=None if args.auto_target else args.target_bytes,
            big_doc_bytes=args.big_doc_bytes,
            size_col=args.size_col,
            payload_col=payload_col,
            workload=workload,
            whale_cost_factor=(
                None if args.measure_factor else WHALE_COST_FACTOR
            ),
        )
        print(json.dumps({"skew_before": report}))

    ck = CheckpointedExtraction(args.output, n_batches=args.batches)
    done = ck.run(pdf_raw, workload)
    totals = ck.totals()
    summary = {
        "slices_processed": done,
        "total_docs": totals["n_docs"],
        "errored_docs": totals["n_errors"],
    }
    print(json.dumps(summary))
    if owns_spark:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
