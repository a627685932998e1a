"""Production ANN batch job: build an IVF index over an embedding
table, run top-k cosine queries against it, persist both.

    spark-submit --py-files sparkpdf.zip jobs/ann_job.py \
        --embeddings /data/embeddings    (parquet: vec_id, embedding) \
        --output /data/ann \
        [--n-lists 8] [--n-iters 2] [--nprobe 1] [--k 3] [--queries 4] \
        [--exact | --pq | --ivfpq | --ivfpq-residual]

Outputs under --output:
    index/    (vec_id, unit, centroid_id) — the inverted lists the IVF
              search probed (ivf_assignments: the first --n-lists
              vectors are the codebook). At cluster scale this IS the
              reusable index artifact: downstream query jobs read it
              and broadcast only their query vectors. --ivfpq and
              --ivfpq-residual write it as (vec_id, centroid_id), the
              k-means lists they route over; --pq writes none.
    codes/    (--pq, --ivfpq, --ivfpq-residual) (vec_id, sub_id,
              centroid_id) — m_sub small ints per vector, the
              memory-compressed corpus; codebooks/ holds the tiny
              per-subspace centroid tables
    topk/     (query_id, neighbor_id, rank[, score])
plus ONE summary JSON line on stdout.

Scale shape (SURVEY §4.3): centroids broadcast; the search join fans
in nprobe * corpus/n_lists rows per query, never the whole corpus;
--exact switches to the brute-force baseline for recall audits.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main(argv=None, spark=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--embeddings", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--n-lists", type=int, default=8)
    ap.add_argument("--n-iters", type=int, default=2)
    ap.add_argument("--nprobe", type=int, default=1)
    ap.add_argument("--k", type=int, default=3)
    ap.add_argument("--queries", type=int, default=4)
    g = ap.add_mutually_exclusive_group()
    g.add_argument("--exact", action="store_true",
                   help="brute-force baseline instead of IVF")
    g.add_argument("--pq", action="store_true",
                   help="product-quantization index (codes + "
                   "codebooks persisted) searched by asymmetric "
                   "distance — the memory-compressed path")
    g.add_argument("--ivfpq", action="store_true",
                   help="IVF routing x PQ scoring: inverted lists "
                   "prune the corpus, ADC over codes scores the "
                   "candidates — the production large-scale shape")
    g.add_argument("--ivfpq-residual", action="store_true",
                   help="IVFADC: PQ codebooks trained on and "
                   "encoding the residual (unit - coarse centroid), "
                   "scored by L2 ADC from the query residual — the "
                   "standard public layout; spends the code bits on "
                   "within-list structure (round 8)")
    ap.add_argument("--m-sub", type=int, default=4)
    args = ap.parse_args(argv)

    from sparkpdf.operators.similarity import (
        brute_force_topk,
        ivf_assignments,
        ivf_topk,
        ivfpq_residual_topk,
        ivfpq_topk,
        kmeans_ivf_assignments,
        pq_codes,
        pq_topk,
    )
    from sparkpdf.session import get_spark

    owns_spark = spark is None
    if owns_spark:
        spark = get_spark("sparkpdf-ann")
        spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    emb = spark.read.parquet(args.embeddings)

    if args.exact:
        topk = brute_force_topk(
            emb, n_queries=args.queries, k=args.k
        )
        index_rows = 0
    elif args.pq:
        codebooks, codes = pq_codes(
            emb, m_sub=args.m_sub, n_centroids=args.n_lists,
            n_iters=args.n_iters,
        )
        codebooks.write.mode("overwrite").parquet(
            os.path.join(args.output, "codebooks")
        )
        codes.write.mode("overwrite").parquet(
            os.path.join(args.output, "codes")
        )
        index_rows = spark.read.parquet(
            os.path.join(args.output, "codes")
        ).count()
        topk = pq_topk(
            emb, m_sub=args.m_sub, n_centroids=args.n_lists,
            n_iters=args.n_iters, n_queries=args.queries, k=args.k,
        )
    elif args.ivfpq:
        index = kmeans_ivf_assignments(
            emb, n_lists=args.n_lists, n_iters=args.n_iters
        ).select("vec_id", "centroid_id")
        codebooks, codes = pq_codes(
            emb, m_sub=args.m_sub, n_centroids=args.n_lists,
            n_iters=args.n_iters,
        )
        for name, df in (("index", index), ("codebooks", codebooks),
                         ("codes", codes)):
            df.write.mode("overwrite").parquet(
                os.path.join(args.output, name))
        index_rows = spark.read.parquet(
            os.path.join(args.output, "codes")
        ).count()
        topk = ivfpq_topk(
            emb, n_lists=args.n_lists, n_iters=args.n_iters,
            m_sub=args.m_sub, n_centroids=args.n_lists,
            n_queries=args.queries, k=args.k,
        )
    elif args.ivfpq_residual:
        # ONE build: the persisted index/codebooks/codes come from the
        # same trained quantizer the search runs against (r8 review:
        # the first cut trained k-means twice and discarded the
        # residual codebooks)
        from sparkpdf.operators.similarity import ivfpq_residual_build

        from pyspark import StorageLevel

        built = ivfpq_residual_build(
            emb, n_lists=args.n_lists, n_iters=args.n_iters,
            m_sub=args.m_sub, n_centroids=args.n_lists,
        )
        assigned, cents, resid, pq_cents, codes = built
        # pin the training intermediates: three artifact writes plus
        # the search all consume this lazy build — without the
        # persists each action re-runs the Lloyd pipelines (the
        # cache manager matches the persisted plan fragments)
        # the two centroid frames are tiny but their LINEAGE is the
        # whole Lloyd training — without their persists the coarse
        # pipeline re-runs when resid fills and the PQ pipeline
        # re-runs for the codebooks write, the codes fill AND the
        # search's broadcast LUT (r8 review, second pass)
        assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
        cents = cents.persist(StorageLevel.MEMORY_AND_DISK)
        resid = resid.persist(StorageLevel.MEMORY_AND_DISK)
        pq_cents = pq_cents.persist(StorageLevel.MEMORY_AND_DISK)
        codes = codes.persist(StorageLevel.MEMORY_AND_DISK)
        for name, df in (
                ("index", assigned.select("vec_id", "centroid_id")),
                ("codebooks", pq_cents),
                ("codes", codes)):
            df.write.mode("overwrite").parquet(
                os.path.join(args.output, name))
        index_rows = spark.read.parquet(
            os.path.join(args.output, "codes")
        ).count()
        topk = ivfpq_residual_topk(
            emb, n_lists=args.n_lists, n_iters=args.n_iters,
            m_sub=args.m_sub, n_centroids=args.n_lists,
            n_queries=args.queries, k=args.k,
            prebuilt=(assigned, cents, resid, pq_cents, codes),
        )
    else:
        # the lists ivf_topk routes over, so a reader of index/ probes
        # exactly what this search probed
        index = ivf_assignments(emb, n_lists=args.n_lists)
        index.write.mode("overwrite").parquet(
            os.path.join(args.output, "index")
        )
        index_rows = spark.read.parquet(
            os.path.join(args.output, "index")
        ).count()
        topk = ivf_topk(
            emb,
            n_lists=args.n_lists,
            n_queries=args.queries,
            k=args.k,
            nprobe=args.nprobe,
        )
    topk.write.mode("overwrite").parquet(os.path.join(args.output, "topk"))
    n_results = spark.read.parquet(os.path.join(args.output, "topk")).count()
    print(
        json.dumps(
            {
                "mode": ("exact" if args.exact else "pq" if args.pq
                         else "ivfpq" if args.ivfpq
                         else "ivfpq_residual" if args.ivfpq_residual
                         else "ivf"),
                "index_rows": index_rows,
                "queries": args.queries,
                "k": args.k,
                "results": n_results,
                "wall_sec": round(time.time() - t0, 2),
            }
        )
    )
    if owns_spark:
        spark.stop()
    return 0


if __name__ == "__main__":
    main()
