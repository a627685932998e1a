"""Production web-extraction job — the north rule's HTML leg as a
resumable spark-submit surface (the PDF leg is jobs/extract_job.py).

    spark-submit --py-files sparkpdf.zip jobs/web_job.py \
        --input  /data/html_raw         (parquet: doc_id, html) \
        --output /data/web_docs \
        --batches 8                     (checkpoint slices)

Pipeline: scan -> checkpointed per-slice extraction (ONE Python
pass per slice: boilerplate-stripped main_text + title + metadata
scalars + outlinks + heading outline + table shapes + n_bytes +
error quarantine) -> host-level link-graph aggregate.

Outputs under --output:
    part=N/        the web-document table (operators/text.WEB_DOC_SCHEMA)
    link_hosts/    per-host in-link degree (n_links, n_nofollow,
                   n_docs) aggregated from the extracted outlinks —
                   partial-agg before the one host exchange
    _progress.jsonl  per-partition lineage + throughput manifest;
                   re-running the same command resumes (completed
                   slices skip; torn commits self-heal)
plus ONE summary JSON line on stdout.

Scale shape: HTML pages are narrowly distributed in size (no PDF-class
whales), so the job slices by doc_id hash; a corpus known to carry
multi-megabyte outliers can pre-apply plans/salting.py the same way
extract_job does. The link_hosts aggregate re-reads the PERSISTED
part=N data, never the raw corpus.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None, spark=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--batches", type=int, default=8)
    ap.add_argument(
        "--warc", action="store_true",
        help="treat --input as a directory of *.warc / *.warc.gz "
        "archives (CommonCrawl layout): demux response records, keep "
        "status-200 text/html pages, extract as usual; demux "
        "quarantine rows are counted in the summary",
    )
    ap.add_argument(
        "--auto-target", action="store_true",
        help="with --warc: byte-aware salting of the ARCHIVE frame "
        "before demux (a .warc.gz member can be GBs — archives are "
        "this lane's whales); target = p99 whale bytes x the whale "
        "cost factor, the extract_job rule",
    )
    ap.add_argument(
        "--measure-factor", action="store_true",
        help="with --auto-target: MEASURE the whale cost factor with "
        "THIS lane's kernel (gunzip + demux + DOM extraction, not PDF "
        "parse) via the contended probe — the factor is a property of "
        "corpus x workload x the saturated machine",
    )
    ap.add_argument("--big-doc-bytes", type=int, default=64 << 20)
    args = ap.parse_args(argv)

    from sparkpdf.session import get_spark
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    owns_spark = spark is None
    if owns_spark:
        spark = get_spark("sparkpdf-web")

    from sparkpdf.operators.text import extract_web_docs, link_host_degree
    from sparkpdf.plans.checkpoint import CheckpointedExtraction, write_observed

    n_warc_quarantined = None
    if args.warc:
        from sparkpdf.sources.warc_source import read_warc_dir, warc_pages

        if args.auto_target:
            from sparkpdf.plans.salting import (
                WHALE_COST_FACTOR,
                plan_salted_partitions,
                skew_report,
            )

            # keep binaryFile's FREE length metadata column: without a
            # materialized size column the salting plan's two branch
            # filters compute F.length(warc_bytes) and re-read every
            # archive's content once per branch plus once for the
            # planning aggregate — the measured round-5 trap (2.3x at
            # 27 GB); filters on `length` prune from file metadata
            archives = (
                spark.read.format("binaryFile")
                .option("pathGlobFilter", "*.warc*")
                .load(args.input)
                .select(
                    F.col("path").alias("doc_id"),
                    F.col("content").alias("warc_bytes"),
                    F.col("length").alias("n_bytes"),
                )
            )

            def warc_workload(frame):
                # the probe must run THIS lane's kernel: gunzip +
                # WARC demux + one-pass DOM extraction per page
                pages = warc_pages(frame).filter(
                    "error IS NULL AND http_status = 200 "
                    "AND html IS NOT NULL"
                ).select("doc_id", "html")
                return extract_web_docs(pages)

            report = skew_report(
                archives, args.batches, size_col="n_bytes")
            salted = plan_salted_partitions(
                archives,
                target_bytes=None,
                big_doc_bytes=args.big_doc_bytes,
                size_col="n_bytes",
                payload_col="warc_bytes",
                workload=warc_workload,
                whale_cost_factor=(
                    None if args.measure_factor else WHALE_COST_FACTOR
                ),
            )
            print(json.dumps({"skew_before": report}))
            demuxed = warc_pages(salted.drop("n_bytes"))
        else:
            demuxed = read_warc_dir(spark, args.input)
        # STAGE the demux once (r8 review): the checkpoint runner
        # slices by page-row hash AFTER warc_pages, so without
        # staging each of the n_batches slice jobs would gunzip and
        # re-parse the whole archive set to keep 1/n of the pages
        # (plus one more full demux for the quarantine count) — the
        # dominant cost at whale-archive scale, run ~(n_batches+1)x.
        # Stage TRIMMED (second-pass review): html only for rows the
        # extraction will keep, so dropped/quarantined bodies don't
        # double-store; the staging dir is deleted after the run.
        staged_dir = args.output.rstrip("/") + "/pages_staged"
        keep = ("error IS NULL AND http_status = 200 "
                "AND html IS NOT NULL")
        n_warc_quarantined = write_observed(
            demuxed.select(
                "doc_id", "http_status", "content_type", "error",
                F.when(F.expr(keep), F.col("html")).alias("html"),
            ),
            staged_dir,
            quarantined=F.count_if(F.col("error").isNotNull()),
        )["quarantined"]
        pages = spark.read.parquet(staged_dir).filter(
            "html IS NOT NULL").select("doc_id", "html")
    else:
        pages = spark.read.parquet(args.input)
    ck = CheckpointedExtraction(args.output, n_batches=args.batches)
    done = ck.run(pages, extract_web_docs)
    result = ck.result(spark)

    # total_links rides on the link_hosts write, which reads every
    # output row anyway. Sum over unquarantined rows only: under legacy
    # sizeOfNull configs size(NULL) is -1 and would silently subtract
    # from the stat, so the stat stays config-independent
    links = Observation()
    observed = result.observe(links, F.coalesce(
        F.sum(F.when(F.col("error").isNull(), F.size("links"))), F.lit(0)
    ).alias("total_links"))
    n_hosts = write_observed(link_host_degree(observed),
                             args.output.rstrip("/") + "/link_hosts")["rows"]
    totals = ck.totals()

    summary = {
        "slices_processed": done,
        "total_docs": totals["n_docs"],
        "errored_docs": totals["n_errors"],
        "total_links": links.get["total_links"],
        "hosts": n_hosts,
    }
    if n_warc_quarantined is not None:
        summary["warc_quarantined"] = n_warc_quarantined
        # the staging dir served its one purpose (single demux pass);
        # drop it so the output dataset doesn't carry the page corpus
        # twice — Hadoop FS API so non-local outputs work too
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(staged_dir)
        p.getFileSystem(spark._jsc.hadoopConfiguration()).delete(p, True)
    print(json.dumps(summary))
    if owns_spark:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
