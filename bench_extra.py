"""Experiment harness, kept OUT of the frozen bench.py: lane
decompositions with noop sinks, query timings, and the whale-skew and
shuffle-volume experiments whose tables live in BENCH/BASELINE.md.

One experiment per run, chosen by argv, on one `sparkpdf.session`
session, so runs stay short and serial (never concurrent with
bench.py). Stage metrics come from Spark's status store
(`stage_report`), which needs no Spark UI.

Usage: python bench_extra.py <experiment> [args]   (--help for flags)
  pdf                extract_spans lane decomposition over the bench corpus
  web                extract_web_docs lane decomposition
  queries [name ...] headline JVM queries, warm best-of-3 each
  stream             stream_web_extract wall decomposition
  stages [name]      per-stage metrics of one query's run
  whale100x          whale-skew salting at the 100x disk-scan scale
  warc_whale         whale-skew salting on the WARC lane
  token_shuffle      token-frequency scoring shuffle bytes per token
  substring_shuffle  exact-substring dedup shuffle bytes per position
  line_shuffle       line-dedup join-back shuffle bytes per line
  verify_shuffle     dup_clusters verify: full arrays vs bounded signature
  dedup_volume       minhash_lsh_pairs + overflow at replicated volumes
  kernel_ab <rev>    extract_doc in-process A/B: this tree vs <rev>'s sparkpdf/
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.probes import _stage_list, last_stage_id  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
MULT = int(os.environ.get("SPARKPDF_BENCH_MULT", "16"))


def _spark(cpus: int = CPUS, **kw):
    from sparkpdf.session import get_spark

    spark = get_spark("bench-extra", cpus=cpus, **kw)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# --- stage metrics from the status store ---------------------------------
# The status-store reads (`_stage_list`, `last_stage_id`) are perfbench's.


def _completed_after(spark, after_id: int):
    store, stages = _stage_list(spark)
    return store, [s for s in stages if s.stageId() > after_id
                   and s.status().toString() == "COMPLETE"]


def _run_quantiles(spark, store, stage, quantiles) -> list:
    """Task executorRunTime ms at `quantiles` over one stage's tasks."""
    qs = spark.sparkContext._gateway.new_array(spark._jvm.double, len(quantiles))
    for i, q in enumerate(quantiles):
        qs[i] = float(q)
    summary = store.taskSummary(stage.stageId(), stage.attemptId(), qs)
    if not summary.isDefined():
        return []
    run = summary.get().executorRunTime()
    return [float(run.apply(i)) for i in range(run.size())]


def stage_report(spark, after_id: int) -> dict:
    """Totals over the stages that completed after stage `after_id`,
    plus the per-task run-time quantiles of the heaviest one (most
    executor run time: the extraction stage of a pass). p99/median is
    the BASELINE skew-guard metric."""
    store, ran = _completed_after(spark, after_id)
    out = {
        "n_stages": len(ran),
        "n_tasks": sum(s.numCompleteTasks() for s in ran),
        "run_sec": round(sum(s.executorRunTime() for s in ran) / 1e3, 2),
        "cpu_sec": round(sum(s.executorCpuTime() for s in ran) / 1e9, 2),
        "shuffle_read_bytes": sum(s.shuffleReadBytes() for s in ran),
        "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in ran),
    }
    if ran:
        heavy = max(ran, key=lambda s: s.executorRunTime())
        q = _run_quantiles(spark, store, heavy, (0.05, 0.5, 0.99, 1.0))
        out.update(heavy_stage_id=heavy.stageId(),
                   heavy_tasks=heavy.numCompleteTasks())
        if q:
            out.update(task_ms_p05=q[0], task_ms_p50=q[1], task_ms_p99=q[2],
                       task_ms_max=q[3],
                       p99_over_median=round(q[2] / max(q[1], 1.0), 2))
    return out


# --- lane decompositions and query timings -------------------------------


def timed(label, spark, fn, n=3):
    """Best-of-n wall for fn() (an action)."""
    best = None
    for _ in range(n):
        t0 = time.time()
        fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    print(f"{label:45s} {best:7.3f} s")
    return best


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def _bench_corpus(spark):
    import bench

    return bench.bench_corpus(spark, SF_DIR, MULT)


def exp_pdf(argv):
    from pyspark.sql import functions as F

    from sparkpdf.operators.extract import extract_spans, extract_stats

    spark = _spark()
    corpus = _bench_corpus(spark).repartition(CPUS).persist()
    n = corpus.count()
    print(f"corpus docs: {n}")
    # warm workers
    noop(extract_spans(corpus))
    timed("A corpus count (persisted read)", spark, corpus.count)
    timed("B extract_spans -> noop", spark, lambda: noop(extract_spans(corpus)))
    timed(
        "C extract_spans -> agg err/count (bench shape)",
        spark,
        lambda: extract_spans(corpus)
        .agg(
            F.sum((F.col("error").isNotNull()).cast("long")),
            F.count("*"),
        )
        .collect(),
    )
    timed("D extract_stats -> noop (no span IPC)", spark,
          lambda: noop(extract_stats(corpus)))

    # boundary floor: ship pdf_bytes to python, do nothing, return
    # stats — raw mapInArrow on purpose, it measures the boundary
    # without the row-kernel adapter
    def passthrough(batches):
        import pyarrow as pa

        for rb in batches:
            blobs = rb.column(1)
            nb = [len(b.as_py()) if b.is_valid else 0 for b in blobs]
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), pa.array(nb, type=pa.int64())],
                names=["doc_id", "n_bytes"],
            )

    pt = corpus.select("doc_id", "pdf_bytes").mapInArrow(
        passthrough, schema="doc_id string, n_bytes long"
    )
    noop(pt)
    timed("E IPC floor (ship bytes, no kernel)", spark, lambda: noop(pt))
    corpus.unpersist()
    spark.stop()


def exp_web(argv):
    from pyspark.sql import functions as F

    import bench
    from sparkpdf.operators.text import extract_web_docs
    from sparkpdf.testing.corpora import synthesize_web_corpus

    spark = _spark()
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", F.expr(f"repeat(text, {bench.TEXT_REP})").alias("text")
    )
    reps = spark.range(MULT).select(F.col("id").alias("rep"))
    docs = docs.crossJoin(reps).select(
        (F.col("doc_id") * MULT + F.col("rep")).alias("doc_id"), "text"
    )
    corpus = synthesize_web_corpus(docs).repartition(CPUS).persist()
    n = corpus.count()
    print(f"web corpus docs: {n}")
    noop(extract_web_docs(corpus))
    timed("A corpus count (persisted read)", spark, corpus.count)
    timed("B extract_web_docs -> noop", spark,
          lambda: noop(extract_web_docs(corpus)))
    timed(
        "C extract_web_docs -> agg (bench shape)",
        spark,
        lambda: extract_web_docs(corpus)
        .agg(
            F.sum((F.col("error").isNotNull()).cast("long")),
            F.count("*"),
        )
        .collect(),
    )

    # boundary floor: ship html to python, return length only (raw
    # mapInArrow, as in exp_pdf)
    def passthrough(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for rb in batches:
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), pc.utf8_length(rb.column(1))],
                names=["doc_id", "n_chars"],
            )

    pt = corpus.select("doc_id", "html").mapInArrow(
        passthrough, schema="doc_id string, n_chars int"
    )
    noop(pt)
    timed("D IPC floor (ship html, no kernel)", spark, lambda: noop(pt))
    corpus.unpersist()
    spark.stop()


def exp_queries(argv):
    import __spark_entry__ as entrymod

    spark = _spark()
    queries = entrymod.queries()
    names = argv or [
        "extract_spans", "font_join", "obj_join", "text_agg",
        "events_window", "dedup_exact", "dedup_minhash", "dedup_simhash",
        "ann_cosine_topk", "token_count", "quality_score", "extract_stats",
    ]
    # warm like bench.py does
    queries["extract_spans"](spark, SF_DIR).limit(64).write.format(
        "noop"
    ).mode("overwrite").save()
    out = {}
    for name in names:
        fn = queries[name]
        out[name] = timed(name, spark, lambda: noop(fn(spark, SF_DIR)))
    print(json.dumps(out))
    spark.stop()


def exp_stream(argv):
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    import bench
    from sparkpdf.streaming.ingest import stream_web_extract
    from sparkpdf.testing.corpora import synthesize_web_corpus

    spark = _spark()
    base = os.path.join(tempfile.gettempdir(), "sparkpdf_stream_extra")
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", F.expr(f"repeat(text, {bench.TEXT_REP})").alias("text")
    )
    corpus = synthesize_web_corpus(docs).select("doc_id", "html")
    for run in range(3):
        shutil.rmtree(base, ignore_errors=True)
        in_dir, out_dir, ck_dir = f"{base}/in", f"{base}/out", f"{base}/ck"
        corpus.repartition(CPUS).write.mode("overwrite").parquet(in_dir)
        t0 = time.time()
        stream_web_extract(spark, in_dir, out_dir, ck_dir).awaitTermination()
        print(f"stream wave-1 wall: {time.time() - t0:.2f} s")
    shutil.rmtree(base, ignore_errors=True)
    spark.stop()


def exp_stages(argv):
    """Per-stage metrics of one query's timed run (the round-9
    measurement methodology): tasks, run vs CPU time, shuffle read and
    the task run-time min/median/max of its last six stages."""
    import __spark_entry__ as entrymod

    name = argv[0] if argv else "extract_spans"
    spark = _spark()
    q = entrymod.queries()[name]
    noop(q(spark, SF_DIR))  # warm
    before = last_stage_id(spark)
    timed(name, spark, lambda: noop(q(spark, SF_DIR)), n=1)
    store, ran = _completed_after(spark, before)
    for s in sorted(ran, key=lambda s: -s.stageId())[:6]:
        print(
            f"stage {s.stageId():3d} tasks={s.numCompleteTasks():3d} "
            f"runTime={s.executorRunTime() / 1e3:7.2f}s "
            f"cpuTime={s.executorCpuTime() / 1e9:6.2f}s "
            f"shuffleRead={s.shuffleReadBytes()} "
            f"{s.name()[:40]}"
        )
        rt = _run_quantiles(spark, store, s, (0.0, 0.5, 1.0))
        if rt:
            print(f"          task runTime min/med/max "
                  f"{[round(x / 1e3, 3) for x in rt]}")
    spark.stop()


# --- whale skew: salting under a whale-heavy byte distribution -----------


def chain_text(seed: bytes, mb: float) -> str:
    """Incompressible text: a sha256 digest chain (flate and gzip cannot
    shrink it, so a document really is ~mb MB on disk and in the scan)."""
    chunks, total, need = [], 0, int(mb * (1 << 20))
    while total < need:
        seed = hashlib.sha256(seed).digest()
        chunks.append(seed.hex())
        total += 65
    return " ".join(chunks)


def _whale_corpus(spark, out_dir: str, mult: int, n_whales: int,
                  whale_mb: int, whale_kind: str) -> dict:
    from pyspark.sql import functions as F

    from bench import bench_corpus
    from sparkpdf.operators._kernel import map_kernel
    from sparkpdf.testing.pdfgen import doc_to_pdf, image_whale_pdf

    t0 = time.time()
    # n_bytes is MATERIALIZED at ingest: the salted-pushdown layout
    # filters on it, reaching parquet row-group stats (salting.py)
    small = bench_corpus(spark, SF_DIR, mult).select(
        "doc_id", "pdf_bytes", F.length("pdf_bytes").alias("n_bytes")
    )
    small.repartition(256).write.mode("overwrite").parquet(
        os.path.join(out_dir, "small")
    )
    t_small = time.time() - t0
    t0 = time.time()

    # whales synthesize in parallel (one task each): an incompressible
    # whale_mb chain text -> a ~whale_mb PDF per row
    def whale(i):
        if whale_kind == "image":
            doc = image_whale_pdf(i, whale_mb << 20)
        else:
            doc = doc_to_pdf(chain_text(b"whale-%d" % i, whale_mb),
                             title=f"whale-{i}")
        return [(f"90000000{i}", doc, len(doc))]

    map_kernel(
        spark.range(n_whales).repartition(n_whales, "id"), ["id"], whale,
        "doc_id string, pdf_bytes binary, n_bytes int",
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "whales"))
    return {"synth_small_sec": round(t_small, 1),
            "synth_whales_sec": round(time.time() - t0, 1)}


def _whale_pass(spark, df, label: str) -> dict:
    from pyspark.sql import functions as F

    from sparkpdf.operators.extract import extract_spans

    before = last_stage_id(spark)
    t0 = time.time()
    stats = extract_spans(df).agg(
        F.count("*").alias("n"),
        F.sum((F.col("error").isNotNull()).cast("long")).alias("errs"),
    ).collect()[0]
    return {
        "layout": label,
        "wall_sec": round(time.time() - t0, 1),
        "docs": int(stats.n),
        "errors": int(stats.errs or 0),
        **stage_report(spark, before),
    }


def exp_whale100x(argv):
    """The round-3 whale-salting measurement inside the 100x disk-scan
    harness: ~8M small docs (bench_corpus at mult=1600, the 20.6 GB
    sustained-scan corpus) plus N incompressible ~200 MB whale PDFs,
    persisted to parquet and scanned back (storage -> extract, the
    production shape). Extraction runs once per layout:

      naive           repartition(ceil(bytes/target), doc_id) (hash)
      salted_scan     plan_salted_partitions, size computed on the fly
                      (no pushdown: each branch re-reads the corpus)
      salted_pushdown plan_salted_partitions(size_col="n_bytes"): the
                      branch filters reach parquet stats
      salted_auto     target_bytes derived from the whale p99
      salted_measured cost factor and target both measured

    Each pass reports the heaviest stage's task-time quantiles; the bar
    is p99/median <= 2 with salting. An indivisible 200 MB doc only
    satisfies it when the median task also carries ~>=100 MB, so the
    headline run uses --target-bytes 128M. Prints one JSON line."""
    ap = argparse.ArgumentParser(prog="bench_extra.py whale100x")
    ap.add_argument("--mult", type=int, default=1600)
    ap.add_argument("--whales", type=int, default=8)
    ap.add_argument("--whale-mb", type=int, default=200)
    ap.add_argument("--whale-kind", default="text", choices=["text", "image"],
                    help="text = flate-expanded tokenized whales (factor"
                         " ~3.2); image = incompressible DCT payload"
                         " (factor ~1)")
    ap.add_argument("--target-bytes", type=int, default=128 << 20)
    ap.add_argument("--big-doc-bytes", type=int, default=16 << 20)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--out", default="/tmp/whale100x")
    ap.add_argument("--skip-synth", action="store_true")
    ap.add_argument("--layouts", default="naive,salted_scan,salted_pushdown",
                    help="comma-set of layouts to run")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from sparkpdf.plans.salting import (
        derive_target_bytes,
        measure_whale_cost_factor,
        plan_salted_partitions,
        skew_report,
    )

    os.environ.setdefault("SPARKPDF_DRIVER_MEM", "32g")
    spark = _spark(args.cpus, shuffle_partitions=args.cpus)
    result = {"mult": args.mult, "whales": args.whales,
              "whale_mb": args.whale_mb, "whale_kind": args.whale_kind,
              "target_bytes": args.target_bytes}
    if not args.skip_synth:
        result.update(_whale_corpus(spark, args.out, args.mult, args.whales,
                                    args.whale_mb, args.whale_kind))
    corpus = spark.read.parquet(os.path.join(args.out, "small")).unionByName(
        spark.read.parquet(os.path.join(args.out, "whales"))
    )
    total_bytes = corpus.agg(F.sum(F.length("pdf_bytes"))).collect()[0][0]
    n_parts = max(args.cpus, -(-int(total_bytes) // args.target_bytes))
    result["total_gb"] = round(total_bytes / 1e9, 2)
    result["n_naive_parts"] = n_parts
    result["skew_before"] = skew_report(corpus, n_parts)

    def whale_p99():
        return corpus.filter(
            F.col("n_bytes") > args.big_doc_bytes
        ).agg(F.expr("percentile_approx(n_bytes, 0.99)")).collect()[0][0]

    layouts = set(args.layouts.split(","))
    if "n_bytes" not in corpus.columns:  # a corpus from before n_bytes
        layouts -= {"salted_pushdown", "salted_auto", "salted_measured"}
    if "naive" in layouts:
        naive = corpus.repartition(n_parts, "doc_id")
        result["naive"] = _whale_pass(spark, naive, "naive")
    if "salted_scan" in layouts:
        salted_scan = plan_salted_partitions(
            corpus.drop("n_bytes"), target_bytes=args.target_bytes,
            big_doc_bytes=args.big_doc_bytes,
        )
        result["salted_scan"] = _whale_pass(spark, salted_scan, "salted_scan")
    if "salted_pushdown" in layouts:
        salted_pd = plan_salted_partitions(
            corpus, target_bytes=args.target_bytes,
            big_doc_bytes=args.big_doc_bytes, size_col="n_bytes",
        )
        result["salted_pushdown"] = _whale_pass(
            spark, salted_pd.drop("n_bytes"), "salted_pushdown"
        )
    if "salted_auto" in layouts:
        # round 6: target_bytes from the corpus's own whale p99 inside
        # the planning aggregate; must reproduce the hand-tuned 384 MB
        # row's p99/p50 <= 2 without tuning
        result["auto_target_bytes"] = derive_target_bytes(whale_p99())
        salted_auto = plan_salted_partitions(
            corpus, target_bytes=None,
            big_doc_bytes=args.big_doc_bytes, size_col="n_bytes",
        )
        result["salted_auto"] = _whale_pass(
            spark, salted_auto.drop("n_bytes"), "salted_auto"
        )
    if "salted_measured" in layouts:
        # round 7: the cost factor from sampled-whale kernel timings,
        # the target from that factor x whale p99; must hold
        # p99/p50 <= 2 on text AND image whale corpora with no tuning
        t0 = time.time()
        mdetail: dict = {}
        factor = measure_whale_cost_factor(
            corpus, big_doc_bytes=args.big_doc_bytes, size_col="n_bytes",
            detail=mdetail,
        )
        result["measure_sec"] = round(time.time() - t0, 1)
        result["measured_factor"] = round(factor, 3) if factor else None
        result["measure_detail"] = mdetail
        result["measured_target_bytes"] = (
            derive_target_bytes(whale_p99(), factor) if factor else None
        )
        salted_m = plan_salted_partitions(
            corpus, target_bytes=None, big_doc_bytes=args.big_doc_bytes,
            size_col="n_bytes", whale_cost_factor=factor,
        )
        result["salted_measured"] = _whale_pass(
            spark, salted_m.drop("n_bytes"), "salted_measured"
        )
    print(json.dumps(result))
    spark.stop()


def build_archive(doc_id: int, n_pages: int, page_mb: float) -> bytes:
    """One gzip-member WARC of n_pages synthetic pages, each carrying
    ~page_mb MB of incompressible text."""
    from sparkpdf.testing.corpora import build_warc, synthesize_webpage

    records = []
    for p in range(n_pages):
        html = synthesize_webpage(
            doc_id * 100000 + p,
            chain_text(b"%d-%d" % (doc_id, p), page_mb),
        )
        records.append({
            "warc_type": "response",
            "record_id": f"<urn:uuid:{doc_id}-{p}>",
            "target_uri": f"https://w{doc_id}.example.com/p{p}",
            "http_status": 200,
            "http_content_type": "text/html; charset=utf-8",
            "body": html.encode("latin-1", "replace"),
        })
    return build_warc(records, gzip_members=True)


def exp_warc_whale(argv):
    """The web lane's whales are archives (a .warc.gz can be GBs while
    its neighbors are MBs), so the salting rule must hold with THIS
    lane's kernel (gunzip + WARC demux + one-pass DOM extraction).

    Corpus: --small archives of ~--small-mb MB (8 pages each) plus
    --whales archives of --whale-mb MB (96 pages each), written as
    (doc_id, warc_bytes, n_bytes) parquet. The demux+extract count runs
    with naive hash partitioning, then with plan_salted_partitions with
    the whale cost factor measured on this workload. Bar: p99/p50 <= 2
    after salting. Prints JSON lines."""
    ap = argparse.ArgumentParser(prog="bench_extra.py warc_whale")
    ap.add_argument("--small", type=int, default=1200)
    ap.add_argument("--small-mb", type=float, default=4.0)
    ap.add_argument("--whales", type=int, default=2)
    ap.add_argument("--whale-mb", type=float, default=384.0)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--batches", type=int, default=64)
    ap.add_argument("--out", default="/tmp/warc_whale_corpus")
    ap.add_argument("--skip-synth", action="store_true")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from sparkpdf.operators._kernel import map_kernel
    from sparkpdf.operators.text import extract_web_docs
    from sparkpdf.plans.salting import (
        measure_whale_cost_factor,
        plan_salted_partitions,
    )
    from sparkpdf.sources.warc_source import warc_pages

    os.environ.setdefault("SPARKPDF_DRIVER_MEM", "32g")
    spark = _spark(args.cpus, shuffle_partitions=args.cpus)

    def archives(n, parts, prefix, first_id, n_pages, mb):
        def row(i):
            b = build_archive(first_id + i, n_pages, mb / n_pages)
            return [(f"{prefix}-{i}", b, len(b))]

        return map_kernel(
            spark.range(n).repartition(parts, "id"), ["id"], row,
            "doc_id string, warc_bytes binary, n_bytes long")

    if not args.skip_synth:
        t0 = time.time()
        archives(args.small, args.cpus * 4, "small", 0, 8, args.small_mb) \
            .write.mode("overwrite").parquet(args.out + "/small")
        archives(args.whales, args.whales, "whale", 900000, 96, args.whale_mb) \
            .write.mode("overwrite").parquet(args.out + "/whale")
        print(json.dumps({"synth_sec": round(time.time() - t0, 1)}),
              flush=True)

    corpus = spark.read.parquet(args.out + "/small").unionByName(
        spark.read.parquet(args.out + "/whale"))
    total_mb = corpus.agg(F.sum("n_bytes")).collect()[0][0] / 1e6
    print(json.dumps({"corpus_mb": round(total_mb, 1)}), flush=True)

    def workload(frame):
        pages = warc_pages(frame).filter(
            "error IS NULL AND http_status = 200 AND html IS NOT NULL"
        ).select("doc_id", "html")
        return extract_web_docs(pages)

    for mode in ("naive", "salted"):
        if mode == "naive":
            frame = corpus.repartition(args.batches, "doc_id")
        else:
            detail: dict = {}
            t0 = time.time()
            factor = measure_whale_cost_factor(
                corpus, big_doc_bytes=64 << 20, size_col="n_bytes",
                payload_col="warc_bytes", workload=workload,
                detail=detail,
            )
            print(json.dumps({"measured_factor": factor,
                              "probe_sec": round(time.time() - t0, 1),
                              "probe_detail": detail}), flush=True)
            frame = plan_salted_partitions(
                corpus, target_bytes=None, big_doc_bytes=64 << 20,
                size_col="n_bytes", payload_col="warc_bytes",
                whale_cost_factor=factor,
            )
        before = last_stage_id(spark)
        t0 = time.time()
        n = workload(frame).agg(F.count("*")).collect()[0][0]
        wall = time.time() - t0
        print(json.dumps({"mode": mode, "pages": n,
                          "wall_sec": round(wall, 1),
                          **stage_report(spark, before)}), flush=True)
    spark.stop()


# --- shuffle volume of alternative plan shapes ---------------------------


def _measure_variants(spark, docs, variants, run, units: int, unit: str):
    """Run each (name, fn, group) variant through `run(fn(docs))`
    (an action returning a comparable value), assert every variant in
    a group returns its group's first value, and record wall time,
    `run`'s fields and the stage report, with shuffle-write bytes per
    `unit` over `units` units."""
    results, baselines = {}, {}
    for name, fn, group in variants:
        before = last_stage_id(spark)
        t0 = time.time()
        got, rec = run(fn(docs))
        rec = {"wall_sec": round(time.time() - t0, 1), **rec,
               **stage_report(spark, before)}
        baselines.setdefault(group, got)
        assert got == baselines[group], f"{name} output differs"
        rec[f"shuffle_write_bytes_per_{unit}"] = round(
            rec["shuffle_write_bytes"] / max(units, 1), 1)
        results[name] = rec
    return results


def _toks(documents):
    from pyspark.sql import functions as F

    from sparkpdf.operators.text import _tokens

    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(_tokens("text")).alias("tok"),
    )


def _scan_total(documents):
    from pyspark.sql import functions as F

    from sparkpdf.operators.text import _tokens

    return documents.agg(
        F.sum(F.size(_tokens("text")))
    ).collect()[0][0] or 1


def variant_occ_join(documents):
    """The round-5 shape: raw occurrence stream joins freq on tok."""
    from pyspark.sql import functions as F

    toks = _toks(documents)
    freq = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = _scan_total(documents)
    micro = F.round(
        -F.log10(F.col("cnt") / F.lit(float(total))) * 1e6
    ).cast("long")
    return (
        toks.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(micro) / (F.count("*") * F.lit(1e6)), 6)
            .alias("rarity"),
            F.count("*").alias("n_tokens"),
        )
    )


def variant_tf_join(documents):
    """Intermediate shape: collapse to per-doc term counts first,
    then join the (smaller, but still content-keyed) table on tok."""
    from pyspark.sql import functions as F

    tf = _toks(documents).groupBy("doc_id", "tok").agg(
        F.count("*").alias("n_occ")
    )
    freq = tf.groupBy("tok").agg(F.sum("n_occ").alias("cnt"))
    total = _scan_total(documents)
    micro = F.round(
        -F.log10(F.col("cnt") / F.lit(float(total))) * 1e6
    ).cast("long")
    return (
        tf.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(micro * F.col("n_occ"))
                / (F.sum("n_occ") * F.lit(1e6)),
                6,
            ).alias("rarity"),
            F.sum("n_occ").alias("n_tokens"),
        )
    )


def variant_bigram_occ_join(documents):
    """The round-5 bigram shape: raw bigram occurrences join both
    frequency tables on content."""
    from pyspark.sql import functions as F

    from sparkpdf.operators.text import _tokens

    toksed = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        _tokens("text").alias("toks"),
    )
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 2),
        lambda i: F.struct(
            F.element_at("toks", i + 1).alias("w1"),
            F.element_at("toks", i + 2).alias("w2"),
        ),
    )
    pairs = toksed.filter(F.size("toks") >= 2).select(
        "doc_id", F.explode(bigrams).alias("bg")
    ).select("doc_id", F.col("bg.w1").alias("w1"),
             F.col("bg.w2").alias("w2"))
    big_freq = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    uni_freq = big_freq.groupBy("w1").agg(F.sum("c2").alias("c1"))
    micro = F.round(
        -F.log10(F.col("c2") / F.col("c1")) * 1e6
    ).cast("long")
    return (
        pairs.join(big_freq, ["w1", "w2"])
        .join(uni_freq, "w1")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(micro) / (F.count("*") * F.lit(1e6)), 6)
            .alias("surprisal"),
            F.count("*").alias("n_bigrams"),
        )
    )


def _synth_zipf(spark, n_docs, doc_len, vocab, burst):
    """Deterministic Zipfian corpus with word burstiness: token rank
    r for position i of doc d is floor(vocab ** u) with
    u = uniform-from-xxhash64(d, i mod burst) — p(rank) ~ 1/rank
    across the corpus (real stopword skew), and each doc draws from
    at most `burst` distinct positions (real documents REUSE their
    own words — an IID-zipf doc of 2000 tokens is ~71% distinct,
    which no natural text is; burst=700 lands near the measured
    Heaps-law ~30-35% distinct of web documents). Pure expression,
    no RNG, repartitioned so generation parallelizes."""
    from pyspark.sql import functions as F

    return (
        spark.range(n_docs)
        .repartition(64)
        .select(
            F.col("id").cast("string").alias("doc_id"),
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(doc_len)),
                    lambda i: F.concat(
                        F.lit("t"),
                        F.floor(
                            F.pow(
                                F.lit(float(vocab)),
                                F.pmod(
                                    F.xxhash64(
                                        F.col("id"),
                                        F.pmod(i, F.lit(burst)),
                                    ),
                                    F.lit(1_000_003),
                                )
                                / F.lit(1_000_003.0),
                            )
                        ).cast("string"),
                    ),
                ),
                " ",
            ).alias("text"),
        )
    )


def exp_token_shuffle(argv):
    """Token-frequency scoring shuffle volume (round 6). At web scale
    the distinct-token table exceeds the broadcast threshold and every
    token OCCURRENCE reshuffles on token text (hot stopwords = skew).
    Shapes, all with identical (doc_id, rarity, n_tokens) output:

      occ_join   explode -> join(freq, tok) over raw occurrences (round 5)
      tf_join    groupBy(doc_id, tok) term counts, then join(freq, tok)
      head_tail  token_rarity_score: one (doc_id, tok) exchange reused by
                 vocabulary count + head and tail branches; the
                 vocabulary HEAD is broadcast, only rare-token term
                 counts join on text (default budget and --split-budget)

    plus the bigram_surprisal before/after pair. The legacy shapes run
    with autoBroadcastJoinThreshold=-1, the at-scale regime; head_tail
    keeps its explicit broadcast()s. The sf corpora are far too small
    (sf0.01 is 27k tokens), so by default a deterministic Zipfian
    corpus of --docs x --doc-len tokens is generated; --sf measures a
    parquet corpus instead. Prints one JSON line."""
    ap = argparse.ArgumentParser(prog="bench_extra.py token_shuffle")
    ap.add_argument("--sf", default=None,
                    help="measure a parquet corpus instead of synth")
    ap.add_argument("--docs", type=int, default=10000)
    ap.add_argument("--doc-len", type=int, default=2000)
    ap.add_argument("--vocab", type=int, default=1_000_000)
    ap.add_argument("--burst", type=int, default=700)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--split-budget", type=int, default=1000)
    args = ap.parse_args(argv)

    import atexit
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from sparkpdf.operators.text import (
        _tokens,
        bigram_surprisal,
        token_rarity_score,
    )

    spark = _spark(args.cpus, shuffle_partitions=args.cpus)
    # read the corpus from PARQUET, never .cache() it: an
    # InMemoryRelation input defeats AQE exchange reuse in this Spark
    # version (measured: the (doc_id, tok) exchange was written 4x and
    # the freq exchange 3x on a cached input), and parquet is what a
    # real corpus is
    if args.sf:
        docs = spark.read.parquet(
            os.path.join(args.sf, "documents.parquet")
        ).select("doc_id", "text")
    else:
        tmp = tempfile.mkdtemp(prefix="token_shuffle_bench_")
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        _synth_zipf(spark, args.docs, args.doc_len, args.vocab,
                    args.burst).write.mode("overwrite").parquet(tmp)
        docs = spark.read.parquet(tmp)
    n_docs = docs.count()
    n_tokens = int(docs.agg(F.sum(F.size(_tokens("text")))).collect()[0][0])
    n_pairs = _toks(docs).dropDuplicates(["doc_id", "tok"]).count()
    result = {"corpus": args.sf or
              f"zipf synth {args.docs}x{args.doc_len} V={args.vocab} "
              f"burst={args.burst}",
              "docs": n_docs, "tokens": n_tokens,
              "distinct_pair_ratio": round(n_pairs / max(n_tokens, 1), 3)}
    variants = [
        ("occ_join", variant_occ_join, True, "tok"),
        ("tf_join", variant_tf_join, True, "tok"),
        # default budget: threshold = total // 1e6 — on the synth
        # corpus this is already a real head/tail split
        ("head_tail_default", token_rarity_score, False, "tok"),
        # small head budget: more vocabulary falls to the tail join —
        # the worst case for the pruned shape
        ("head_tail_small_head",
         lambda d: token_rarity_score(d, head_budget=args.split_budget),
         False, "tok"),
        # the bigram operator's own before/after pair
        ("bigram_occ_join", variant_bigram_occ_join, True, "bigram"),
        ("bigram_head_tail",
         lambda d: bigram_surprisal(d, shape="head_tail"), False, "bigram"),
    ]

    def shaped(fn, no_broadcast):
        # legacy shapes: disable auto-broadcast so the content-keyed
        # join actually shuffles; head_tail's explicit broadcast()
        # ignores the threshold
        def build(d):
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold",
                "-1" if no_broadcast else str(10 * 1024 * 1024),
            )
            return fn(d)
        return build

    def run(df):
        rows = sorted(tuple(r) for r in df.collect())
        return rows, {"n_docs_out": len(rows)}

    result["variants"] = _measure_variants(
        spark, docs,
        [(name, shaped(fn, nb), group) for name, fn, nb, group in variants],
        run, n_tokens, "token")
    print(json.dumps(result))
    spark.stop()


def _grams(documents, L):
    # char-array slice shape (the linearized round-5 form — substr at
    # a char offset is O(offset), see BENCH/BASELINE.md); shuffle
    # volumes are unaffected by the enumeration shape
    from pyspark.sql import functions as F

    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split("text", "").alias("cs"),
    ).select(
        "doc_id",
        F.posexplode(
            F.when(
                F.size("cs") >= L,
                F.transform(
                    F.sequence(F.lit(0), F.size("cs") - L),
                    lambda i: F.array_join(F.slice("cs", i + 1, F.lit(L)), ""),
                ),
            ).otherwise(F.array())
        ).alias("pos", "g"),
    )


def _ranges_from_dup(dup, L):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        dup.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "boundary",
            F.when(
                F.col("prev").isNull() | (F.col("pos") - F.col("prev") > L),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("gid", F.sum("boundary").over(w))
        .groupBy("doc_id", "gid")
        .agg(
            F.min("pos").cast("int").alias("range_start"),
            (F.max("pos") + L).cast("int").alias("range_end"),
        )
        .drop("gid")
    )


def _window_dups(grams, key):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    return (
        grams.withColumn("n", F.count("*").over(Window.partitionBy(key)))
        .filter(F.col("n") > 1)
        .select("doc_id", "pos")
    )


def variant_text_window(documents, L):
    return _ranges_from_dup(_window_dups(_grams(documents, L), "g"), L)


def variant_hash_window(documents, L):
    from pyspark.sql import functions as F

    g = _grams(documents, L).withColumn("h", F.xxhash64("g"))
    return _ranges_from_dup(_window_dups(g, "h"), L)


def exp_substring_shuffle(argv):
    """Exact-substring dedup shuffle volume (round 5), three shapes
    with identical range output:

      text_window   count over Window.partitionBy(gram TEXT): the naive
                    shape an L x amplification claim describes
      hash_window   count over Window.partitionBy(xxhash64(g)) (round 4)
      hash_groupby  duplicate_substring_ranges: groupBy(xxhash64(g))
                    partial agg + semi-join (round 5, skew-safe)

    Shuffle bytes are normalized per gram position. Prints one JSON
    line."""
    ap = argparse.ArgumentParser(prog="bench_extra.py substring_shuffle")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--min-len", type=int, default=40)
    ap.add_argument("--cpus", type=int, default=32)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from sparkpdf.operators.dedup import duplicate_substring_ranges

    spark = _spark(args.cpus, shuffle_partitions=args.cpus)
    docs = spark.read.parquet(
        os.path.join(args.sf, "documents.parquet")
    ).select("doc_id", "text").cache()
    n_docs = docs.count()
    positions = int(docs.agg(
        F.sum(F.greatest(F.length("text") - (args.min_len - 1), F.lit(0)))
    ).collect()[0][0])

    def run(df):
        rows = sorted((r.doc_id, r.range_start, r.range_end)
                      for r in df.collect())
        return rows, {"n_ranges": len(rows)}

    variants = [
        (name, lambda d, fn=fn: fn(d, args.min_len), "ranges")
        for name, fn in [("text_window", variant_text_window),
                         ("hash_window", variant_hash_window),
                         ("hash_groupby", duplicate_substring_ranges)]
    ]
    result = {"sf": args.sf, "docs": n_docs, "gram_positions": positions,
              "min_len": args.min_len,
              "variants": _measure_variants(spark, docs, variants, run,
                                            positions, "pos")}
    print(json.dumps(result))
    spark.stop()


def variant_text_join(documents, sep="\n"):
    """The round-6 shape, reconstructed: line text rides the h-keyed
    groupBy and join-back; reassembly is a groupBy(doc_id) over
    (pos, line) pairs."""
    import re

    from pyspark.sql import functions as F

    docs = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split("text", re.escape(sep), -1)).alias(
            "pos", "line"
        ),
    )
    hashed = lines.withColumn("h", F.xxhash64("line"))
    firsts = hashed.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    kept = (
        hashed.join(firsts, "h")
        .filter(
            (F.col("doc_id") == F.col("first.doc_id"))
            & (F.col("pos") == F.col("first.pos"))
        )
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
            ).alias("text"),
            F.count("*").alias("n_kept"),
        )
    )
    totals = lines.groupBy("doc_id").agg(F.count("*").alias("n_lines"))
    return (
        docs.select("doc_id")
        .join(kept, "doc_id", "left")
        .join(totals, "doc_id")
        .select(
            "doc_id",
            F.coalesce("text", F.lit("")).alias("text"),
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
            .cast("int")
            .alias("n_dropped_lines"),
        )
    )


def synth_boilerplate_corpus(spark, out_dir: str, n_docs: int,
                             lines_per_doc: int, pool: int,
                             uniq_permille: int) -> None:
    """Deterministic boilerplate-heavy corpus, written to parquet (a
    cached input defeats AQE exchange reuse — round-6 lesson). Each
    line is 96 B (3x md5 hex). Line (d, i) is UNIQUE with probability
    uniq_permille/1000 (hash-decided), else drawn from a `pool`-sized
    boilerplate set with a quadratic skew toward low pool ids — the
    hot head a million-occurrence footer line creates in the wild."""
    from pyspark.sql import functions as F

    def line96(n):
        """96-char deterministic line keyed by a long column."""
        return F.concat_ws(
            "",
            F.md5((n * 3).cast("string")),
            F.md5((n * 3 + 1).cast("string")),
            F.md5((n * 3 + 2).cast("string")),
        )

    d = F.col("id")
    occ = d * lines_per_doc  # occ + i = global occurrence number
    line = F.transform(
        F.sequence(F.lit(0), F.lit(lines_per_doc - 1)),
        lambda i: F.when(
            F.pmod(F.xxhash64(occ + i, F.lit(7)), 1000) < uniq_permille,
            line96(occ + i + 1_000_000_000),  # unique namespace
        ).otherwise(
            # pool id = floor(pool * u^2 / 1e6), u in [0,1000):
            # quadratic skew, id 0 hottest — the footer-line head
            line96(
                F.floor(
                    F.pow(
                        F.pmod(F.xxhash64(occ + i, F.lit(11)), 1000), 2
                    )
                    * pool
                    / 1_000_000
                ).cast("long")
            )
        ),
    )
    (
        spark.range(n_docs, numPartitions=32)
        .select(
            d.alias("doc_id"), F.concat_ws("\n", line).alias("text")
        )
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def exp_line_shuffle(argv):
    """Line-dedup join-back payload (round 7). The round-6 shape
    shipped every occurrence's full LINE TEXT through the hot-hash
    join-back; the round-7 shape hashes map-side and rebuilds kept text
    doc-side from dropped positions. Shapes, identical output:

      text_join  (doc_id, pos, line, h) through groupBy(h) + join
      slim_join  (doc_id, pos, h) only: remove_duplicate_lines

    The default corpus is synthetic and shaped like the concern: 96 B
    lines, a hot Zipf-ish boilerplate pool plus unique lines, and
    enough DISTINCT lines that `firsts` cannot broadcast. --real
    splits the sf documents on spaces instead: 6-byte "lines", where
    the slim tuple is BIGGER than the text it replaces (the measured
    crossover). Shuffle bytes are per line occurrence. Prints one JSON
    line."""
    ap = argparse.ArgumentParser(prog="bench_extra.py line_shuffle")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--real", action="store_true",
                    help="measure on sf documents split on spaces "
                         "(6-byte lines) instead of the synthetic "
                         "long-line boilerplate corpus")
    ap.add_argument("--docs", type=int, default=40000)
    ap.add_argument("--lines-per-doc", type=int, default=100)
    ap.add_argument("--pool", type=int, default=1000)
    ap.add_argument("--uniq-permille", type=int, default=300)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--sep", default=" ")  # --real mode: documents
    # have few \n; space-separated "lines" (words) give a dense
    # occurrence stream with TINY payloads — the crossover control
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from sparkpdf.operators.dedup import remove_duplicate_lines

    spark = _spark(args.cpus, shuffle_partitions=args.cpus)
    if args.real:
        docs = spark.read.parquet(
            os.path.join(args.sf, "documents.parquet")
        ).select("doc_id", "text")
        corpus_desc = args.sf
    else:
        args.sep = "\n"
        corpus_dir = "/tmp/line_bench_corpus"
        synth_boilerplate_corpus(
            spark, corpus_dir, args.docs, args.lines_per_doc,
            args.pool, args.uniq_permille,
        )
        docs = spark.read.parquet(corpus_dir)
        corpus_desc = (
            f"synthetic {args.docs}x{args.lines_per_doc} 96B-lines "
            f"pool={args.pool} uniq={args.uniq_permille}/1000"
        )
    n_docs = docs.count()
    occurrences = int(docs.agg(
        F.sum(F.size(F.split("text", args.sep, -1)))
    ).collect()[0][0])

    def run(df):
        # engine-side checksum: collecting 100s of MB of text would
        # dominate the wall and measure the driver, not the dedup
        chk = df.agg(
            F.expr("bit_xor(xxhash64(doc_id, text, n_dropped_lines))")
            .alias("chk"),
            F.count("*").alias("n"),
            F.sum("n_dropped_lines").alias("dropped"),
        ).collect()[0]
        return ((chk.chk, chk.n, chk.dropped),
                {"n_docs_out": int(chk.n), "lines_dropped": int(chk.dropped)})

    variants = [
        (name, lambda d, fn=fn: fn(d, args.sep), "lines")
        for name, fn in [("text_join", variant_text_join),
                         ("slim_join", remove_duplicate_lines)]
    ]
    result = {"corpus": corpus_desc, "docs": n_docs,
              "line_occurrences": occurrences, "sep": args.sep,
              "variants": _measure_variants(spark, docs, variants, run,
                                            occurrences, "occurrence")}
    print(json.dumps(result))
    spark.stop()


def exp_verify_shuffle(argv):
    """dup_clusters verify shuffle (round 8): the legacy full-array
    jaccard verify vs the bounded-signature verify on a whale-augmented
    replica corpus. sf documents are replicated --replicas times with
    remapped ids (every replica an exact near-dup of its base), and
    every doc with base % --whale-every == 0 carries a --whale-tokens
    unique tail shared by its replicas: the long-doc shape whose token
    arrays the legacy verify ships once per candidate pair. Asserts the
    cluster outputs are IDENTICAL. Prints one JSON line per mode."""
    ap = argparse.ArgumentParser(prog="bench_extra.py verify_shuffle")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--replicas", type=int, default=2)
    ap.add_argument("--whale-every", type=int, default=10)
    ap.add_argument("--whale-tokens", type=int, default=20000)
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--k-sig", type=int, default=64)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from sparkpdf.operators.dedup import dup_clusters

    spark = _spark(args.cpus, shuffle_partitions=args.cpus)
    base = spark.read.parquet(
        os.path.join(args.sf, "documents.parquet")
    ).select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    # whale tail: unique tokens keyed by the BASE id so replicas share
    # it (the pair stays an exact dup) — built as a JVM expression
    tail = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(args.whale_tokens - 1)),
            lambda i: F.concat(
                F.lit("w"), F.col("doc_id").cast("string"),
                F.lit("x"), i.cast("string")),
        ),
    )
    whaled = base.select(
        "doc_id",
        F.when(F.col("doc_id") % args.whale_every == 0,
               F.concat("text", F.lit(" "), tail))
        .otherwise(F.col("text")).alias("text"),
    )
    corpus = None
    for r in range(args.replicas):
        rep = whaled.select(
            (F.col("doc_id") + F.lit(r * 10_000_000)).alias("doc_id"),
            "text",
        )
        corpus = rep if corpus is None else corpus.unionByName(rep)
    corpus_path = "/tmp/verify_shuffle_corpus"
    corpus.write.mode("overwrite").parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)

    outputs = {}
    for mode, k in (("full_arrays", None), ("bounded_sig", args.k_sig)):
        before = last_stage_id(spark)
        t0 = time.time()
        rows = dup_clusters(
            corpus, jaccard_threshold=0.9, verify_sig_tokens=k
        ).collect()
        wall = time.time() - t0
        outputs[mode] = sorted((r.doc_id, r.cluster_id) for r in rows)
        print(json.dumps({
            "mode": mode,
            "k_sig": k,
            "docs": len(rows),
            "clusters": len({c for _, c in outputs[mode]}),
            "wall_sec": round(wall, 1),
            **stage_report(spark, before),
        }), flush=True)
    assert outputs["full_arrays"] == outputs["bounded_sig"], \
        "bounded verify changed the cluster output"
    print(json.dumps({"outputs_identical": True}))
    spark.stop()


def exp_dedup_volume(argv):
    """minhash_lsh_pairs + overflow accounting at replicated volumes.
    The corpus is the sf documents replicated R times with remapped
    doc_ids: every replica is an EXACT near-duplicate, so band buckets
    grow linearly with R and the uncapped candidate self-join would
    grow as R^2, the degenerate-blob regime bucket_cap guards. Per
    volume: pairs surviving the cap, overflowing buckets (excluded AND
    reported), and whether wall tracks the OUTPUT cardinality rather
    than docs^2. Prints one JSON line per volume."""
    ap = argparse.ArgumentParser(prog="bench_extra.py dedup_volume")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--replicas", type=int, nargs="+", default=[1, 10, 100])
    ap.add_argument("--cap", type=int, default=10000)
    ap.add_argument("--cpus", type=int, default=32)
    args = ap.parse_args(argv)

    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from sparkpdf.operators.dedup import (
        _minhash_buckets,
        minhash_lsh_overflow,
        minhash_lsh_pairs,
    )

    spark = _spark(args.cpus)
    base = spark.read.parquet(
        os.path.join(args.sf, "documents.parquet")
    ).select(F.col("doc_id").cast("long").alias("doc_id"), "text")

    for r in args.replicas:
        reps = [
            base.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                "text",
            )
            for i in range(r)
        ]
        corpus = reps[0]
        for d in reps[1:]:
            corpus = corpus.unionByName(d)
        corpus = corpus.repartition(args.cpus * 2, "doc_id")
        n_docs = corpus.count()
        # one bucket pass shared by pairs and the overflow report
        # (the round-6 curate_job shape)
        buckets = _minhash_buckets(corpus).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        t0 = time.time()
        n_pairs = minhash_lsh_pairs(
            corpus, bucket_cap=args.cap, buckets=buckets
        ).count()
        wall = time.time() - t0
        overflow = minhash_lsh_overflow(
            bucket_cap=args.cap, buckets=buckets
        ).collect()
        buckets.unpersist()
        print(json.dumps({
            "replicas": r,
            "docs": n_docs,
            "cap": args.cap,
            "pairs": n_pairs,
            "overflow_buckets": len(overflow),
            "overflow_rows": sum(int(x.bucket_n) for x in overflow),
            "pairs_wall_sec": round(wall, 1),
        }), flush=True)
    spark.stop()

# docs per timed chunk: a chunk takes ~20-50 ms of kernel time
KERNEL_AB_CHUNK = {"pdf_paged": 4, "pdf_text": 100}


def _kernel_ab_rounds(trees: dict, docs: list, size: int, rounds: int):
    """Per-chunk new/parent ratios and per-side ms/doc (see kernel_ab)."""

    def run(fn, chunk):
        best = None
        for _ in range(3):
            t0 = time.process_time()
            for payload in chunk:
                fn(payload)
            dt = time.process_time() - t0
            best = dt if best is None else min(best, dt)
        return best

    for fn in trees.values():  # warm: imports, caches
        for payload in docs:
            fn(payload)
    chunks = [docs[i:i + size] for i in range(0, len(docs), size)]
    ratios = []
    ms_doc = {name: [] for name in trees}
    for r in range(rounds):
        for c, chunk in enumerate(chunks):
            order = ["new", "parent"] if (r + c) % 2 == 0 else ["parent", "new"]
            t = {name: run(trees[name], chunk) for name in order}
            ratios.append(t["new"] / t["parent"])
            for name in t:
                ms_doc[name].append(1000 * t[name] / len(chunk))
    return ratios, ms_doc


def exp_kernel_ab(argv):
    """In-process kernel A/B: extract_doc of this tree against the
    sparkpdf/ of a git revision, exported to a scratch directory under
    another package name so one process imports both trees. Runs
    perfbench's cached inputs in chunks; each round interleaves the
    trees chunk by chunk, alternating which runs first, and a chunk's
    time is the min of 3 process_time runs. Prints the new/parent
    median and quartiles over the chunk ratios, and ms/doc per side."""
    import importlib
    import io
    import statistics
    import subprocess
    import tarfile
    import tempfile

    from perfbench.inputs import Inputs
    from sparkpdf.kernels.extract import extract_doc

    ap = argparse.ArgumentParser(prog="bench_extra.py kernel_ab")
    ap.add_argument("rev", help="the parent revision, e.g. HEAD~1")
    ap.add_argument("--workload", default="pdf_paged",
                    choices=sorted(KERNEL_AB_CHUNK))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--rounds", type=int, default=5)
    args = ap.parse_args(argv)

    root = os.path.dirname(os.path.abspath(__file__))
    docs = [payload for _, payload, _ in Inputs(
        args.workload, args.seed, os.path.join(root, ".bench_work")
    ).ensure().payloads()]
    size = KERNEL_AB_CHUNK[args.workload]
    archive = subprocess.run(["git", "archive", args.rev, "sparkpdf"],
                             cwd=root, capture_output=True, check=True).stdout
    # the parent tree imports lazily, so its directory stays for the run
    with tempfile.TemporaryDirectory() as tmp:
        with tarfile.open(fileobj=io.BytesIO(archive)) as tar:
            tar.extractall(tmp, filter="data")
        os.rename(os.path.join(tmp, "sparkpdf"),
                  os.path.join(tmp, "sparkpdf_ab_parent"))
        sys.path.insert(0, tmp)
        trees = {"new": extract_doc, "parent": importlib.import_module(
            "sparkpdf_ab_parent.kernels.extract").extract_doc}
        ratios, ms_doc = _kernel_ab_rounds(trees, docs, size, args.rounds)
        sys.path.remove(tmp)
    q1, med, q3 = statistics.quantiles(ratios, n=4)
    out = {"workload": args.workload, "seed": args.seed, "rev": args.rev,
           "chunks": len(ratios), "docs_per_chunk": size,
           "new_over_parent": round(med, 3),
           "quartiles": [round(q1, 3), round(q3, 3)],
           "ms_per_doc": {k: round(statistics.median(v), 3)
                          for k, v in ms_doc.items()}}
    print(f"kernel_ab {args.workload} seed {args.seed} vs {args.rev}: "
          f"new/parent {med:.3f} (quartiles {q1:.3f}-{q3:.3f}) over "
          f"{len(ratios)} chunks of {size}; ms/doc parent "
          f"{out['ms_per_doc']['parent']} new {out['ms_per_doc']['new']}")
    print(json.dumps(out))


EXPERIMENTS = {
    "pdf": exp_pdf, "web": exp_web, "queries": exp_queries,
    "stream": exp_stream, "stages": exp_stages,
    "whale100x": exp_whale100x, "warc_whale": exp_warc_whale,
    "token_shuffle": exp_token_shuffle,
    "substring_shuffle": exp_substring_shuffle,
    "line_shuffle": exp_line_shuffle, "verify_shuffle": exp_verify_shuffle,
    "dedup_volume": exp_dedup_volume, "kernel_ab": exp_kernel_ab,
}


if __name__ == "__main__":
    # larger Arrow batches amortize JVM<->python IPC on small-doc
    # corpora; set before the session exists (a caller's value wins)
    os.environ.setdefault("SPARKPDF_ARROW_BATCH", "8192")
    if len(sys.argv) < 2 or sys.argv[1] not in EXPERIMENTS:
        sys.exit(__doc__)
    EXPERIMENTS[sys.argv[1]](sys.argv[2:])
