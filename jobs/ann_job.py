"""Production ANN batch job: build an index over an embedding table,
persist it, and run top-k cosine queries against the persisted index.

    spark-submit --py-files sparkpdf.zip jobs/ann_job.py \
        --embeddings /data/embeddings    (parquet: vec_id, embedding) \
        --output /data/ann \
        [--n-lists 8] [--n-iters 2] [--nprobe 1] [--k 3] [--queries 4] \
        [--exact | --pq | --ivfpq | --ivfpq-residual]

Each mode is one operators/similarity.INDEXES entry: build steps, then
one search. Every step writes its artifact under --output and hands
the read-back copy to the later steps and to the search, so the
searched index IS the persisted one, no quantizer is trained twice,
and nothing is left cached.

Artifacts under --output, by mode:
    (default)          index/ — IVF over the first --n-lists vectors
    --exact            none (brute-force baseline for recall audits)
    --pq               codebooks/, codes/
    --ivfpq            centroids/, index/, codebooks/, codes/
    --ivfpq-residual   centroids/, index/, codebooks/, codes/ — the
                       codebooks and codes quantize the residual
                       (unit - coarse centroid)
    every mode         topk/ (query_id, neighbor_id, rank[, score])

    centroids/  (centroid_id, cunit) — the Lloyd-trained coarse
                codebook the k-means lists and residuals are cut by
    index/      the inverted lists the search probes: (vec_id, unit,
                centroid_id) for IVF, (vec_id, centroid_id) for the
                k-means lists. At cluster scale this IS the reusable
                index: query jobs read it and broadcast only their
                query vectors
    codebooks/  (sub_id, centroid_id, cvec) — per-subspace PQ tables
    codes/      (vec_id, sub_id, centroid_id) — --m-sub small ints per
                vector, the memory-compressed corpus
plus ONE summary JSON line on stdout (index_rows: rows of the last
artifact built, 0 for --exact).

Scale shape (SURVEY §4.3): centroids broadcast; the search join fans
in nprobe * corpus/n_lists rows per query, never the whole corpus.
"""

from __future__ import annotations

import argparse
import json
import os
import time

MODES = ("exact", "pq", "ivfpq", "ivfpq_residual")


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
        INDEXES,
        AnnParams,
        with_unit_vectors,
    )
    from sparkpdf.plans.checkpoint import write_observed
    from sparkpdf.session import get_spark

    owns_spark = spark is None
    if owns_spark:
        spark = get_spark("sparkpdf-ann")
        spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    mode = next((m for m in MODES if getattr(args, m)), "ivf")
    p = AnnParams(n_lists=args.n_lists, n_iters=args.n_iters,
                  m_sub=args.m_sub, n_centroids=args.n_lists,
                  n_queries=args.queries, k=args.k, nprobe=args.nprobe)
    steps, search = INDEXES[mode]
    unit = with_unit_vectors(spark.read.parquet(args.embeddings))
    built, index_rows = {}, 0
    for name, step in steps:
        path = os.path.join(args.output, name)
        index_rows = write_observed(step(unit, built, p), path)["rows"]
        built[name] = spark.read.parquet(path)
    n_results = write_observed(search(unit, built, p),
                               os.path.join(args.output, "topk"))["rows"]
    print(
        json.dumps(
            {
                "mode": mode,
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
