"""Benchmark harness — prints ONE JSON line per BASELINE.md contract.

    {"metric": "span_extraction_throughput", "value": <total sec>,
     "unit": "sec", "queries": {...per-query sec...}, "sf": ...,
     "extraction": {docs, mb, docs_per_sec, mb_per_sec},
     "scaling": {cpus_lo, cpus_hi, eff, ...}}  (scaling: north-rule
     two-cluster-size evidence — same job at local[8] and local[32])

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     SPARKPDF_BENCH_MULT corpus replication (default 32),
     SPARKPDF_BENCH_SCALING=0 to skip the two-size runs.

Internal: `python bench.py --scaling-worker N` runs ONLY the timed
extraction job on local[N] and prints its own small JSON (subprocess
isolation — Spark local master size can't change within one JVM).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# larger Arrow batches amortize JVM<->python IPC on small-doc corpora;
# set BEFORE the session is created (harmless if the user overrides)
os.environ.setdefault("SPARKPDF_ARROW_BATCH", "8192")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
MULT = int(os.environ.get("SPARKPDF_BENCH_MULT", "16"))
TEXT_REP = int(os.environ.get("SPARKPDF_BENCH_TEXT_REP", "8"))


def bench_corpus(spark, sf_dir: str, mult: int):
    """Replicated deterministic corpus: mult copies of each document,
    text expanded TEXT_REP x so per-doc work is realistic."""
    from pyspark.sql import functions as F

    from sparkpdf.testing.corpora import synthesize_pdf_corpus

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", F.expr(f"repeat(text, {TEXT_REP})").alias("text")
    )
    if mult > 1:
        reps = spark.range(mult).select(F.col("id").alias("rep"))
        docs = docs.crossJoin(reps).select(
            (F.col("doc_id") * mult + F.col("rep")).alias("doc_id"), "text"
        )
    return synthesize_pdf_corpus(docs)


def timed_extraction(
    spark, sf_dir: str, mult: int, cpus: int, iterations: int = 3
) -> dict:
    # best-of-3: this VM shows ±30% run-to-run noise (BENCH/BASELINE.md)
    # — two samples routinely both land slow; three rarely do
    from pyspark.sql import functions as F

    from sparkpdf.operators.extract import extract_spans

    # one task wave: per-task Python-runner setup costs ~10-30 ms and
    # SERIALIZES in local mode, so extra waves only add overhead on a
    # uniform corpus (real skewed corpora use plans/salting.py instead)
    corpus = bench_corpus(spark, sf_dir, mult).repartition(cpus).persist()
    n_docs = corpus.count()  # materialize BEFORE timing: extraction only
    n_mb = (
        corpus.agg(F.sum(F.length("pdf_bytes"))).collect()[0][0] or 0
    ) / 1e6
    # warm ALL python workers with an untimed quarter-pass (each worker
    # pays interpreter+imports on its first task; a pmod filter keeps
    # the partition spread, unlike limit())
    extract_spans(
        corpus.filter(F.pmod(F.hash("doc_id"), F.lit(4)) == 0)
    ).write.format("noop").mode("overwrite").save()
    wall = None
    for _ in range(iterations):
        t0 = time.time()
        out = extract_spans(corpus)
        errs = out.agg(
            F.sum((F.col("error").isNotNull()).cast("long")).alias("e"),
            F.count("*").alias("n"),
        ).collect()[0]
        dt = time.time() - t0
        wall = dt if wall is None else min(wall, dt)
        assert int(errs.n) == n_docs
    corpus.unpersist()
    return {
        "docs": n_docs,
        "mb": round(n_mb, 1),
        "errors": int(errs.e or 0),
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(n_docs / wall, 1),
        "mb_per_sec": round(n_mb / wall, 2),
    }


def timed_web_extraction(
    spark, sf_dir: str, mult: int, cpus: int, iterations: int = 3
) -> dict:
    """HTML-lane throughput (the north rule's other extraction leg):
    extract_web_docs — boilerplate strip + metadata + links/headings/
    tables in one mapInPandas pass — over a replicated synthesized web
    corpus. Same discipline as timed_extraction: corpus persisted and
    counted before timing, workers warmed with an untimed quarter
    pass, best-of-N."""
    from pyspark.sql import functions as F

    from sparkpdf.operators.text import extract_web_docs
    from sparkpdf.testing.corpora import synthesize_web_corpus

    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", F.expr(f"repeat(text, {TEXT_REP})").alias("text"))
    if mult > 1:
        reps = spark.range(mult).select(F.col("id").alias("rep"))
        docs = docs.crossJoin(reps).select(
            (F.col("doc_id") * mult + F.col("rep")).alias("doc_id"),
            "text",
        )
    corpus = synthesize_web_corpus(docs).repartition(cpus).persist()
    n_docs = corpus.count()
    n_mb = (
        corpus.agg(F.sum(F.length("html"))).collect()[0][0] or 0
    ) / 1e6
    extract_web_docs(
        corpus.filter(F.pmod(F.hash("doc_id"), F.lit(4)) == 0)
    ).write.format("noop").mode("overwrite").save()
    wall = None
    for _ in range(iterations):
        t0 = time.time()
        errs = extract_web_docs(corpus).agg(
            F.sum((F.col("error").isNotNull()).cast("long")).alias("e"),
            F.count("*").alias("n"),
        ).collect()[0]
        dt = time.time() - t0
        wall = dt if wall is None else min(wall, dt)
        assert int(errs.n) == n_docs
    corpus.unpersist()
    return {
        "docs": n_docs,
        "mb": round(n_mb, 1),
        "errors": int(errs.e or 0),
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(n_docs / wall, 1),
        "mb_per_sec": round(n_mb / wall, 2),
    }


def timed_interleaved_extraction(spark, sf_dir: str, cpus: int,
                                 iterations: int = 3) -> dict:
    """Mixed-corpus throughput (round 8): extract_interleaved over a
    half-PDF / half-HTML payload table — the per-document sniff +
    dual span kernels under the same discipline as timed_extraction
    (corpus persisted and counted before timing, warm quarter pass,
    best-of-N)."""
    from pyspark.sql import functions as F

    from sparkpdf.operators.extract import extract_interleaved
    from sparkpdf.testing.corpora import synthesize_interleaved_corpus

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    corpus = synthesize_interleaved_corpus(docs).repartition(cpus).persist()
    n_docs = corpus.count()
    n_mb = (
        corpus.agg(F.sum(F.length("payload"))).collect()[0][0] or 0
    ) / 1e6
    extract_interleaved(
        corpus.filter(F.pmod(F.hash("doc_id"), F.lit(4)) == 0)
    ).write.format("noop").mode("overwrite").save()
    wall = None
    for _ in range(iterations):
        t0 = time.time()
        errs = extract_interleaved(corpus).agg(
            F.sum((F.col("error").isNotNull()).cast("long")).alias("e"),
            F.count("*").alias("n"),
        ).collect()[0]
        dt = time.time() - t0
        wall = dt if wall is None else min(wall, dt)
        assert int(errs.n) == n_docs
    corpus.unpersist()
    return {
        "docs": n_docs,
        "mb": round(n_mb, 1),
        "errors": int(errs.e or 0),
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(n_docs / wall, 1),
        "mb_per_sec": round(n_mb / wall, 2),
    }


def timed_stream_web(spark, sf_dir: str, cpus: int) -> dict:
    """Streamed web-lane throughput (round 8, r7 verdict item 8):
    availableNow drain over a drop-zone ladder. Wave 1 lands the
    synthesized web corpus as parquet drop files and one
    stream_web_extract drain processes it (timed); wave 2 lands a
    second batch and a RESTARTED query (same checkpoint) drains
    incrementally — exactly-once is asserted by row counts (wave-2
    output == wave-2 drop size, no reprocessing of wave 1)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from sparkpdf.streaming.ingest import stream_web_extract
    from sparkpdf.testing.corpora import synthesize_web_corpus

    base = os.path.join(tempfile.gettempdir(), "sparkpdf_stream_web")
    shutil.rmtree(base, ignore_errors=True)
    in_dir, out_dir, ck_dir = (
        f"{base}/in", f"{base}/out", f"{base}/ck")
    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", F.expr(f"repeat(text, {TEXT_REP})").alias("text"))
    corpus = synthesize_web_corpus(docs).select("doc_id", "html")
    n_mb = (corpus.agg(F.sum(F.length("html"))).collect()[0][0] or 0) / 1e6
    corpus.repartition(cpus).write.mode("overwrite").parquet(in_dir)
    n_wave1 = corpus.count()
    t0 = time.time()
    stream_web_extract(spark, in_dir, out_dir, ck_dir).awaitTermination()
    wall = time.time() - t0
    got1 = spark.read.parquet(out_dir).count()
    # wave 2: new drop files only; restarted query must drain exactly
    # the increment
    wave2 = corpus.filter(F.pmod(F.hash("doc_id"), F.lit(4)) == 0).select(
        F.concat(F.lit("w2-"), "doc_id").alias("doc_id"), "html")
    n_wave2 = wave2.count()
    wave2.repartition(max(2, cpus // 4)).write.mode("append").parquet(in_dir)
    stream_web_extract(spark, in_dir, out_dir, ck_dir).awaitTermination()
    got2 = spark.read.parquet(out_dir).count()
    shutil.rmtree(base, ignore_errors=True)
    return {
        "pages": n_wave1,
        "mb": round(n_mb, 1),
        "wall_sec": round(wall, 2),
        "pages_per_sec": round(n_wave1 / wall, 1),
        "mb_per_sec": round(n_mb / wall, 2),
        "restart_pages": got2 - got1,
        "exactly_once": got1 == n_wave1 and got2 == n_wave1 + n_wave2,
    }


def timed_jpeg_decode() -> dict:
    """Single-core JPEG pixel-decode throughput (round-3 weak item: the
    MCU loop is now LUT-Huffman + batched-numpy IDCT). Representative
    mix: 4:4:4 gray, 4:2:0 color with restarts, 4:2:2 color. Best-of-3
    passes; reports megapixels/s and MB/s of encoded bytes."""
    import numpy as np

    from sparkpdf.kernels.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(7)
    yy, xx = np.mgrid[0:256, 0:256]
    photo = np.stack([
        np.clip(128 + 80 * np.sin(xx / 23) + rng.normal(0, 8, (256, 256)), 0, 255),
        np.clip(128 + 80 * np.cos(yy / 31) + rng.normal(0, 8, (256, 256)), 0, 255),
        np.clip(128 + 50 * np.sin((xx + yy) / 17) + rng.normal(0, 8, (256, 256)), 0, 255),
    ], axis=-1).astype(np.uint8)
    encs = [
        encode_jpeg(photo[..., 0]),
        encode_jpeg(photo, subsampling="420", restart_interval=8),
        encode_jpeg(photo, subsampling="422"),
    ]
    n_px = 3 * 256 * 256
    n_mb = sum(len(e) for e in encs) / 1e6
    for e in encs:  # warm LUT caches
        assert decode_jpeg(e) is not None
    best = None
    for _ in range(3):
        t0 = time.time()
        for e in encs:
            decode_jpeg(e)
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return {
        "megapixels_per_sec": round(n_px / best / 1e6, 2),
        "mb_per_sec": round(n_mb / best, 2),
    }


def timed_av_decode() -> dict:
    """Single-core A/V sample/frame decode throughput (round 7):
    representative payloads per lane — vectorized WAV PCM, the
    sequential FLAC bitstream, the IMA ADPCM state machine, and
    MJPEG-in-AVI frames through the JPEG kernel. Best-of-3; MB/s of
    encoded container bytes per lane (the numbers av_stats_policy
    would measure on this corpus class)."""
    import struct

    import numpy as np

    from sparkpdf.kernels.media import (
        avi_mjpeg_frames,
        flac_pcm_stats,
        wav_pcm_stats,
    )
    from sparkpdf.kernels.jpeg import encode_jpeg
    from sparkpdf.testing.imagegen import (
        encode_flac,
        ima_adpcm_block,
        make_avi,
        make_wav,
        make_wav_adpcm,
    )

    rng = np.random.default_rng(11)
    pcm = struct.pack(
        "<65536h", *map(int, rng.integers(-20000, 20000, 65536)))
    wav = make_wav(44100, 0, bits=16, data=pcm)
    flac = encode_flac(
        list(map(int, rng.integers(-2000, 2000, 16384))), 44100,
        block_size=4096)
    blk = ima_adpcm_block([0], [20], bytes(
        map(int, rng.integers(0, 256, 252))))
    adpcm = make_wav_adpcm(44100, 1, 17, 256, 505, blk * 64)
    frames = [encode_jpeg(np.clip(
        128 + 60 * np.sin(np.mgrid[0:64, 0:64][1] / 7 + i), 0, 255
    ).astype(np.uint8)) for i in range(4)]
    avi = make_avi(64, 64, 0, frames=frames)
    lanes = {
        "wav_pcm": (wav, wav_pcm_stats),
        "flac": (flac, flac_pcm_stats),
        "adpcm": (adpcm, wav_pcm_stats),
        "mjpeg_avi": (avi, avi_mjpeg_frames),
    }
    out = {}
    for name, (blob, fn) in lanes.items():
        assert fn(blob) is not None  # warm pass
        best = None
        for _ in range(3):
            t0 = time.time()
            fn(blob)
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(len(blob) / 1e6 / max(best, 1e-9), 2)
    return out


def _calib_worker(_i: int) -> str:
    import hashlib

    h = hashlib.md5()
    block = b"\x5a" * 65536
    for _ in range(1536):  # ~100 MB per worker
        h.update(block)
    return h.hexdigest()


def host_calibration(n_procs: int = None) -> dict:
    """Pure-Python md5 control (round 7, r6 verdict item 7): hash a
    fixed ~100 MB workload on CPUS forked workers, Spark-free and
    deterministic. BENCH_r06 read ~20% slower than r05 across ALL 13
    queries — the signature of a slow host pass, not a plan
    regression (the VM drifts +-30% between identical runs). This
    field lets any consumer of the bench JSON normalize that drift:
    divide a pass's timings by the ratio of its host_calibration
    mb_per_sec to the comparison pass's before reading a "regression".
    """
    import multiprocessing as mp

    n = n_procs or CPUS
    t0 = time.time()
    with mp.get_context("fork").Pool(n) as pool:
        digests = pool.map(_calib_worker, range(n))
    wall = time.time() - t0
    assert len(set(digests)) == 1  # deterministic workload
    mb = 65536 * 1536 * n / 1e6
    return {
        "procs": n,
        "wall_sec": round(wall, 2),
        "mb_per_sec": round(mb / wall, 0),
    }


def scaling_worker(cpus: int, corpus_path: str):
    """Timed extraction over a pre-built parquet corpus (shared by all
    parallelism levels so every run does IDENTICAL work): quarter-pass
    warmup, then best-of-3 full passes through the noop sink."""
    from pyspark.sql import functions as F

    from sparkpdf.operators.extract import extract_spans
    from sparkpdf.session import get_spark

    spark = get_spark(f"bench-scaling-{cpus}", cpus=cpus,
                      shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    corpus = spark.read.parquet(corpus_path).repartition(cpus)
    n_docs = corpus.count()
    n_mb = (
        corpus.agg(F.sum(F.length("pdf_bytes"))).collect()[0][0] or 0
    ) / 1e6
    df = extract_spans(corpus)
    extract_spans(
        corpus.filter(F.pmod(F.hash("doc_id"), F.lit(4)) == 0)
    ).write.format("noop").mode("overwrite").save()
    # best-of-N: noise on this shared VM only ever SLOWS a run, so the
    # minimum converges to true capability; short runs get more samples
    # long low-core runs self-average; short 32-core runs need samples
    n_passes = 2 if cpus <= 2 else (5 if cpus <= 8 else 6)
    wall = None
    for _ in range(n_passes):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        wall = dt if wall is None else min(wall, dt)
    spark.stop()
    print(json.dumps({
        "docs": n_docs,
        "mb": round(n_mb, 1),
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(n_docs / wall, 1),
        "mb_per_sec": round(n_mb / wall, 2),
    }))


# headline suite: extraction + one representative per operator family.
# dedup_minhash_lsh is correctness-checked but NOT a headline: the
# synthetic corpus's tiny vocabulary makes LSH candidate sets
# quadratic, which benchmarks the data generator, not the engine.
HEADLINE = [
    "extract_spans",
    "font_join",
    "obj_join",
    "text_agg",
    "events_window",
    "dedup_exact",
    "dedup_minhash",
    "dedup_simhash",
    "ann_cosine_topk",
    "token_count",
    "quality_score",
    "extract_stats",
]


def main():
    import __spark_entry__ as entrymod
    from sparkpdf.session import get_spark

    spark = get_spark("bench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    per_query = {}
    total = 0.0
    # warm python workers + parquet footers once, outside the timings
    queries["extract_spans"](spark, SF_DIR).limit(64).write.format(
        "noop"
    ).mode("overwrite").save()
    # headline relational/dedup/extraction queries at SF_DIR
    for name in HEADLINE:
        fn = queries[name]
        t0 = time.time()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        per_query[name] = round(dt, 2)
        total += dt
    # dedicated extraction throughput measurement (replicated corpus)
    extraction = timed_extraction(spark, SF_DIR, MULT, CPUS)
    total += extraction["wall_sec"]
    per_query["bench_extraction"] = extraction["wall_sec"]
    # HTML-lane throughput (round 7: the web_job pass — boilerplate
    # strip + DOM features in one mapInPandas)
    web_extraction = timed_web_extraction(spark, SF_DIR, MULT, CPUS)
    total += web_extraction["wall_sec"]
    per_query["bench_web_extraction"] = web_extraction["wall_sec"]
    # streamed web lane: availableNow drop-zone drain + exactly-once
    # restart (round 8)
    stream_web = timed_stream_web(spark, SF_DIR, CPUS)
    total += stream_web["wall_sec"]
    per_query["bench_stream_web"] = stream_web["wall_sec"]
    # mixed PDF+HTML lane (round 8): the sniffing interleaved kernel
    interleaved = timed_interleaved_extraction(spark, SF_DIR, CPUS)
    total += interleaved["wall_sec"]
    per_query["bench_interleaved"] = interleaved["wall_sec"]
    # sampled pixel-stats decision path (r4 verdict item 4): the
    # per-format decode-vs-header choice the production job would make
    # on this corpus's image mix
    from sparkpdf.operators.multimodal import pixel_stats_policy
    from sparkpdf.testing.corpora import synthesize_image_media

    pol = pixel_stats_policy(
        synthesize_image_media(
            spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(256)
        ),
        sample_per_format=4,
    )
    pixel_policy = {
        "decode_formats": sorted(pol["decode_formats"]),
        "formats": pol["formats"],
    }
    spark.stop()
    result = {
        "metric": "span_extraction_throughput",
        "value": round(total, 2),
        "unit": "sec",
        "queries": per_query,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "extraction": extraction,
        "web_extraction": web_extraction,
        "stream_web": stream_web,
        "interleaved_extraction": interleaved,
        "jpeg_decode": timed_jpeg_decode(),
        "av_decode_mb_per_sec": timed_av_decode(),
        "pixel_policy": pixel_policy,
        "host_calibration": host_calibration(),
    }
    # north-rule scaling evidence: identical job at N and 4N parallelism.
    # Two pairs are reported: (2,8) runs in the regime where the single
    # shared JVM + OS still have free cores — the honest analog of
    # adding executor NODES — and (8,32) saturates every core of this
    # one box with worker threads AND the JVM's own arrow/shuffle work,
    # which a real 4N-node cluster would not (see BENCH/BASELINE.md).
    if os.environ.get("SPARKPDF_BENCH_SCALING", "1") != "0":
        import shutil
        import tempfile

        corpus_dir = os.path.join(tempfile.gettempdir(), "sparkpdf_bench_corpus")
        spark2 = get_spark("bench-corpus", cpus=CPUS)
        spark2.sparkContext.setLogLevel("ERROR")
        from pyspark.sql import functions as F

        # partitioned by quarter so the multi-JVM pair below can hand
        # each worker a disjoint slice without a filter scan
        bench_corpus(spark2, SF_DIR, MULT * 2).withColumn(
            "q", F.pmod(F.hash("doc_id"), F.lit(4))
        ).repartition(128).write.partitionBy("q").mode(
            "overwrite"
        ).parquet(corpus_dir)
        spark2.stop()

        def run_worker(c: int) -> dict:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--scaling-worker", str(c), corpus_dir],
                capture_output=True,
                text=True,
                env={**os.environ, "SPARKPDF_BENCH_SCALING": "0"},
            )
            line = (
                proc.stdout.strip().splitlines()[-1]
                if proc.stdout.strip()
                else "{}"
            )
            return json.loads(line)

        # one corpus, three parallelism levels -> two N-vs-4N pairs;
        # noise handling lives in each worker (best-of-N passes).
        # Levels derive from the session's CPU budget (N, N/4, N/16).
        hi = max(CPUS, 4)
        mid = max(hi // 4, 2)
        lo = max(mid // 4, 1)
        levels = sorted({lo, mid, hi})
        runs = {c: run_worker(c) for c in levels}
        pairs = {}
        for lo_cpus, hi_cpus in ((lo, mid), (mid, hi)):
            if lo_cpus == hi_cpus:
                continue
            r_lo, r_hi = runs[lo_cpus], runs[hi_cpus]
            if r_lo.get("docs_per_sec") and r_hi.get("docs_per_sec"):
                eff = (r_hi["docs_per_sec"] / r_lo["docs_per_sec"]) / (
                    hi_cpus / lo_cpus
                )
                pairs[f"{lo_cpus}to{hi_cpus}"] = {
                    "cpus_lo": lo_cpus,
                    "cpus_hi": hi_cpus,
                    "docs_per_sec_lo": r_lo["docs_per_sec"],
                    "docs_per_sec_hi": r_hi["docs_per_sec"],
                    "mb_per_sec_lo": r_lo["mb_per_sec"],
                    "mb_per_sec_hi": r_hi["mb_per_sec"],
                    "efficiency": round(eff, 3),
                }
        # multi-JVM N->4N analog: the 1-process local[lo] run above vs
        # `lo*4` cores as FOUR CONCURRENT local[lo] JVMs on disjoint
        # corpus quarters — separate processes are the honest executor
        # model and sidestep the shared-JVM ceiling that caps the
        # in-process top pair (BENCH/BASELINE.md). Aggregate throughput
        # = sum of the concurrent workers' best passes.
        def run_multijvm(base_cpus: int):
            """base_cpus one-JVM run (already in `runs`) vs 4x
            concurrent local[base_cpus] JVMs on disjoint quarters —
            the honest N -> 4N executor analog at EITHER size pair
            (the 8->32 variant is the answer to the in-process top
            pair's shared-JVM ceiling)."""
            if not runs.get(base_cpus, {}).get("docs_per_sec"):
                return
            procs = [
                subprocess.Popen(
                    [sys.executable, os.path.abspath(__file__),
                     "--scaling-worker", str(base_cpus),
                     os.path.join(corpus_dir, f"q={k}")],
                    stdout=subprocess.PIPE,
                    stderr=subprocess.DEVNULL,
                    text=True,
                    env={**os.environ, "SPARKPDF_BENCH_SCALING": "0"},
                )
                for k in range(4)
            ]
            outs = []
            for p in procs:
                raw = (p.communicate()[0] or "").strip()
                if raw:
                    outs.append(json.loads(raw.splitlines()[-1]))
            if len(outs) == 4 and all(o.get("docs_per_sec") for o in outs):
                agg_docs = sum(o["docs_per_sec"] for o in outs)
                agg_mb = sum(o["mb_per_sec"] for o in outs)
                base = runs[base_cpus]
                pairs[f"{base_cpus}to{base_cpus * 4}_multijvm"] = {
                    "cpus_lo": base_cpus,
                    "cpus_hi": base_cpus * 4,
                    "jvms_hi": 4,
                    "docs_per_sec_lo": base["docs_per_sec"],
                    "docs_per_sec_hi": round(agg_docs, 1),
                    "mb_per_sec_lo": base["mb_per_sec"],
                    "mb_per_sec_hi": round(agg_mb, 2),
                    "efficiency": round(
                        agg_docs / (4 * base["docs_per_sec"]), 3
                    ),
                }

        if os.environ.get("SPARKPDF_BENCH_MULTIJVM", "1") != "0":
            run_multijvm(lo)
            if mid != lo and mid * 4 <= os.cpu_count():
                run_multijvm(mid)
        shutil.rmtree(corpus_dir, ignore_errors=True)
        if pairs:
            headline = pairs.get(f"{lo}to{mid}") or next(iter(pairs.values()))
            result["scaling"] = {**headline, "pairs": pairs}
    print(json.dumps(result))


if __name__ == "__main__":
    if len(sys.argv) >= 4 and sys.argv[1] == "--scaling-worker":
        scaling_worker(int(sys.argv[2]), sys.argv[3])
    else:
        main()
