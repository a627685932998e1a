"""Production training-data curation pipeline.

    spark-submit --py-files sparkpdf.zip jobs/curate_job.py \
        --input  /data/pdf_raw           (parquet: doc_id, pdf_bytes) \
        --output /data/curated \
        [--min-quality 0.5] [--chunk-chars 500] [--overlap 100] \
        [--batches 16] [--c4] [--gopher]

Stages (each output lands under --output for auditability):
  1. extract      pdf_raw -> spans (checkpointed slices: a restart
                  skips completed extraction work — the expensive stage)
  2. quality      full_text -> quality_score, filter < --min-quality
  3. pii          scrub emails / long digit runs, keep audit counts
  4. dedup        minhash-LSH pairs -> connected components -> keep the
                  min-doc_id representative of every cluster
  2b. rarity      (--min-rarity R, default 0 = off) drop docs whose
                  corpus-frequency rarity score is below R
  4b. substrings  (--substring-min-len N, default 0 = off) cut every
                  character range covered by duplicated N-grams out of
                  the surviving docs (exact-substring dedup); ranges
                  land under --output/dup_ranges for audit
  4c. lines       (--line-dedup) corpus-wide line dedup: duplicated
                  lines keep only their first occurrence
  5. chunk        surviving docs -> overlapping training windows

Every stage is DataFrame-native (Python row kernels only inside extraction);
at cluster scale the shuffles are: extraction none, dedup's LSH band
join + label propagation, chunking none. Only the counts of unwritten
intermediate frames run a pass of their own.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None, spark=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--min-quality", type=float, default=0.5)
    ap.add_argument("--chunk-chars", type=int, default=500)
    ap.add_argument("--overlap", type=int, default=100)
    ap.add_argument("--batches", type=int, default=16)
    ap.add_argument("--dup-jaccard", type=float, default=0.9)
    ap.add_argument("--substring-min-len", type=int, default=0)
    ap.add_argument(
        "--line-dedup", action="store_true",
        help="C4-style corpus-wide line dedup: duplicated lines keep "
        "only their first occurrence (after near-dup doc removal)",
    )
    ap.add_argument(
        "--min-rarity", type=float, default=0.0,
        help="drop docs whose corpus-frequency rarity score "
        "(token_rarity_score: mean -log10 token frequency) falls "
        "below this — boilerplate/templated docs score low; 0 = off",
    )
    ap.add_argument(
        "--gopher", action="store_true",
        help="additionally gate on the Gopher rule set "
        "(operators/text.gopher_quality conjunctive pass flag)",
    )
    ap.add_argument(
        "--c4", action="store_true",
        help="apply the C4 line-cleaning transform BEFORE the quality "
        "gates (lines without terminal punctuation / <5 words / "
        "javascript dropped; lorem-ipsum and brace pages removed)",
    )
    ap.add_argument(
        "--stratify-lang", default=None,
        help="deterministic per-language downsampling after dedup "
        "(round 6): 'en=250,de=500' keeps 25%% of en docs, 50%% of "
        "de, 100%% of unlisted languages (permille; stable md5 "
        "buckets, so re-running with raised rates only ADDS docs)",
    )
    args = ap.parse_args(argv)

    from sparkpdf.session import get_spark
    from pyspark.sql import functions as F

    owns_spark = spark is None
    if owns_spark:
        spark = get_spark("sparkpdf-curate")

    from sparkpdf.operators.dedup import dup_clusters
    from sparkpdf.operators.extract import extract_spans
    from sparkpdf.operators.spans import doc_full_text
    from sparkpdf.operators.text import chunk_documents, pii_scrub, quality_score
    from sparkpdf.plans.checkpoint import CheckpointedExtraction, write_observed

    out = args.output.rstrip("/")

    # 1. extraction, resumable
    ck = CheckpointedExtraction(f"{out}/spans", n_batches=args.batches)
    ck.run(spark.read.parquet(args.input), extract_spans)
    spans = ck.result(spark)
    extracted = ck.totals()

    # 2. quality gate over assembled text
    docs = doc_full_text(spans.filter("error IS NULL")).select(
        F.col("doc_id"), F.col("full_text").alias("text")
    )
    if args.c4:
        # C4 cleaning first: the gates below see the cleaned text
        from sparkpdf.operators.text import c4_clean

        cleaned = c4_clean(docs)
        docs = cleaned.filter(F.col("c4_keep") == 1).select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col("clean_text").alias("text"),
        )
    q = quality_score(docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                                  "text"))
    kept = (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
        .join(q.filter(F.col("quality") >= args.min_quality), "doc_id")
        .select("doc_id", "text", "quality")
    )
    if args.gopher:
        from sparkpdf.operators.text import gopher_quality

        g = gopher_quality(kept.select("doc_id", "text"))
        kept = kept.join(
            g.filter(F.col("gopher_pass") == 1).select("doc_id"),
            "doc_id",
        )
    n_quality = kept.count()

    # 2b. corpus-frequency rarity gate (optional): drops docs whose
    # vocabulary is dominated by corpus-common tokens (round 5)
    if args.min_rarity > 0:
        from sparkpdf.operators.text import token_rarity_score

        rare = token_rarity_score(kept.select("doc_id", "text"))
        kept = kept.join(
            rare.filter(F.col("rarity") >= args.min_rarity)
            .select("doc_id"),
            "doc_id",
        )
        n_quality = kept.count()

    # 3. PII scrub (audit counts carried)
    scrubbed = pii_scrub(kept).withColumnRenamed("clean_text", "text")
    scrubbed.write.mode("overwrite").parquet(f"{out}/scrubbed")
    scrubbed = spark.read.parquet(f"{out}/scrubbed")

    # 4. dedup: LSH candidates -> EXACT jaccard verify -> components;
    # keep each cluster's min-doc_id representative; degenerate LSH
    # buckets (above the cap) are excluded from pair generation and
    # REPORTED, never silently dropped (round-5 skew guard)
    from pyspark import StorageLevel
    from sparkpdf.operators.dedup import _minhash_buckets, minhash_lsh_overflow

    # one signature pass shared by pair generation and the overflow
    # report (round-6 advice: the overflow count used to re-sign the
    # whole corpus from scratch)
    buckets = _minhash_buckets(scrubbed.select("doc_id", "text")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    clusters = dup_clusters(
        scrubbed.select("doc_id", "text"),
        jaccard_threshold=args.dup_jaccard,
        buckets=buckets,
    )
    keepers = clusters.filter(F.col("doc_id") == F.col("cluster_id")).select(
        "doc_id"
    )
    unique_docs = scrubbed.join(keepers, "doc_id")
    n_unique = unique_docs.count()
    n_overflow_buckets = minhash_lsh_overflow(buckets=buckets).count()
    buckets.unpersist()

    # 4b. exact-substring dedup (optional): cut duplicated ranges out
    # of the surviving docs; range list parqueted for audit
    n_dup_chars = 0
    if args.substring_min_len > 0:
        from sparkpdf.operators.dedup import (
            duplicate_substring_ranges,
            remove_duplicate_substrings,
        )

        duplicate_substring_ranges(
            unique_docs.select("doc_id", "text"), args.substring_min_len
        ).write.mode("overwrite").parquet(f"{out}/dup_ranges")
        cut = remove_duplicate_substrings(
            unique_docs.select("doc_id", "text"), args.substring_min_len
        )
        n_dup_chars = int(
            cut.agg(F.sum("n_dup_chars")).collect()[0][0] or 0
        )
        unique_docs = unique_docs.drop("text").join(
            cut.select("doc_id", "text"), "doc_id"
        )

    # 4c. corpus-wide line dedup (optional): duplicated lines keep
    # only their first occurrence (round 5)
    n_dropped_lines = 0
    if args.line_dedup:
        from sparkpdf.operators.dedup import remove_duplicate_lines

        ld = remove_duplicate_lines(unique_docs.select("doc_id", "text"))
        n_dropped_lines = int(
            ld.agg(F.sum("n_dropped_lines")).collect()[0][0] or 0
        )
        unique_docs = unique_docs.drop("text").join(
            ld.filter(F.length("text") > 0).select("doc_id", "text"),
            "doc_id",
        )

    # 4d. language-stratified downsampling (optional, round 6):
    # deterministic md5-bucket rebalancing — zero shuffle, monotone in
    # the rates (incremental re-curation adds docs, never reshuffles)
    n_stratified = None
    if args.stratify_lang:
        from sparkpdf.operators.text import lang_id, stratified_sample

        rates = {
            k.strip(): int(v)
            for k, v in (kv.split("=")
                         for kv in args.stratify_lang.split(","))
        }
        langs = lang_id(unique_docs.select("doc_id", "text"))
        keep = stratified_sample(langs, "pred_lang", rates).filter(
            "kept"
        ).select("doc_id")
        unique_docs = unique_docs.join(keep, "doc_id")
        n_stratified = unique_docs.count()

    # 5. training windows
    chunks = chunk_documents(
        unique_docs, chunk_chars=args.chunk_chars, overlap=args.overlap
    )
    n_chunks = write_observed(chunks, f"{out}/chunks")["rows"]

    summary = {
        "extracted": extracted["n_docs"],
        "errored": extracted["n_errors"],
        "quality_kept": n_quality,
        "unique_after_dedup": n_unique,
        "lsh_overflow_buckets": n_overflow_buckets,
        "dup_substring_chars_cut": n_dup_chars,
        "dropped_duplicate_lines": n_dropped_lines,
        "stratified_kept": n_stratified,
        "chunks": n_chunks,
    }
    print(json.dumps(summary))
    if owns_spark:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
