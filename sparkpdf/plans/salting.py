"""Byte-size-aware salting — the north rule's skew defence.

A 100 TB corpus mixes 4 KB docs with 200 MB docs; hash-partitioning on
doc_id alone gives p99/median task-time >> 2 once a partition catches
two whales. This planner repartitions so that (a) every partition
targets ~`target_bytes` of PDF payload and (b) each oversized doc lands
in a partition of its own (SURVEY.md §4.3).

Two-pass by design: one cheap aggregate over byte lengths (metadata-ish
scan; Parquet reads only the length column), then one explicit
repartition. The shuffle it introduces is the point — it replaces the
pathological skewed shuffle downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_TARGET_BYTES = 64 << 20  # ~64 MB of raw PDF per task
DEFAULT_BIG_DOC_BYTES = 16 << 20  # docs above this get private partitions


# measured at 27 GB (BENCH/BASELINE.md rounds 5-6): ~384 MB of small
# docs cost the same end-to-end task wall as one whale whose PDF is
# ~121 MB on disk (200 MB of incompressible text, ~0.6x flate inside
# the PDF container). Parse is FASTER per byte on giants; the gap is
# the whale partition's incompressible shuffle + indivisibility. The
# factor is expressed against the SIZE COLUMN the planner reads
# (pdf_bytes / n_bytes), so: target ~= whale_p99_bytes x 3.2
# (384/121). A first round-6 attempt derived 1.9 from the whale's
# TEXT size — wrong basis, measured p99/p50 2.23 (> 2 bar); 3.2
# against pdf bytes reproduces the hand-tuned 384 MB row.
#
# ROUND 7: 3.2 is now the FALLBACK — it embeds THIS corpus's ~0.6x
# flate ratio and this kernel's cost-per-byte; an incompressible-whale
# corpus (scanned-image PDFs, ratio ~1.0, payload never tokenized)
# over-sizes the target ~1.7x under it, and a highly compressible one
# under-sizes back into the measured p99/p50-2.23 failure mode. Pass
# whale_cost_factor=None to plan_salted_partitions to MEASURE the
# factor per run (measure_whale_cost_factor below), the same way
# pixel_stats_policy measures decode cost.
WHALE_COST_FACTOR = 3.2

# measured-factor clamps: >= 1.0 because the whale task's floor cost
# is moving its own bytes (scan + the salting shuffle), which a
# same-sized small partition also pays — a kernel-rate ratio below 1
# (image whales: payload skipped, not parsed) must not shrink the
# target below the whale itself or the whale task's IO alone becomes
# the p99. <= 16 guards a timing glitch from inflating the target
# into too-few-partitions territory.
MEASURED_FACTOR_FLOOR = 1.0
MEASURED_FACTOR_CAP = 16.0

# the small-doc probe must run at least this long past the job-
# overhead probe before its rate is trusted; below it (tiny local
# corpora) the measurement returns None and the constant stands
MIN_SIGNAL_SEC = 0.5


def measure_whale_cost_factor(
    pdf_raw: DataFrame,
    big_doc_bytes: int = DEFAULT_BIG_DOC_BYTES,
    size_col: str | None = None,
    k_whales: int = 2,
    waves: int = 2,
    poll_sec: float = 0.2,
    detail: dict | None = None,
    payload_col: str = "pdf_bytes",
    workload=None,
) -> float | None:
    """Measure this corpus's whale cost factor instead of trusting the
    3.2 constant:

        factor = whale_task_wall / small_task_wall   (clamped [1, 16])

    with BOTH walls measured under full-machine CONTENTION at the
    floor partition size (target = whale p99 bytes) — exactly the
    quantity derive_target_bytes multiplies by: how many multiples of
    a whale-sized small partition cost the same wall as the whale.

    Why contention is the measurement, not a nuisance (round-7
    finding): probes of each class run SOLO measure a text whale
    ~0.3x per byte (giants amortize per-doc overhead and the machine
    gives one task its full memory bandwidth), yet at 27 GB the same
    whale task in a saturated mixed pass costs ~3.2x a same-sized
    small task (BENCH/BASELINE.md) — flate expansion, the giant span
    row through Arrow IPC + Tungsten, and GC all degrade superlinearly
    when 32 tasks compete. At 3.8 GB, where one wave absorbs the
    corpus, the contended ratio really is ~1.1 and a 121 MB target
    beats the 3.2-derived 387 MB by 4.8x wall (fewer-tasks-than-cores
    trap). The factor is a property of the corpus x the saturated
    machine, so the probe reproduces the saturated regime:

    ONE mixed extraction job — k_whales whale tasks (one whale each,
    repartitionByRange, the salted plan's own big-side shape) plus
    `waves` x (cpus - k) small-doc tasks each carrying ~whale_p99
    bytes (the floor target), all launched in the same wave so the
    whale runs against a busy machine. Per-task walls come from
    polling sc.statusTracker() completion counts (works with the UI
    disabled): small task wall = first-wave median completion, whale
    task wall = last completion. No UI, no listener, ~poll_sec
    resolution.

    Cost: ~(waves * cpus + k) * whale_p99 bytes of extraction — fixed
    in whale size, so negligible against a 100 TB corpus (and the
    price of mis-sizing every partition is far higher). Returns None
    when either class is absent or the probe finishes below timing
    resolution (tiny test corpora) — caller falls back to
    WHALE_COST_FACTOR."""
    import math
    import threading
    import time as _time

    if workload is None:
        # default lane: PDF span extraction. `workload`/`payload_col`
        # (round 8) let other lanes — the WARC web lane, whose whales
        # are multi-GB .warc.gz archives — measure THEIR kernel's
        # factor: the ratio is a property of corpus x workload x the
        # saturated machine, so probing the wrong kernel measures the
        # wrong factor.
        from ..operators.extract import extract_spans

        workload = extract_spans
    if size_col:
        sz = F.col(size_col).cast("long")
    else:
        sz = F.length(payload_col).cast("long")
    raw = pdf_raw.select("doc_id", payload_col, sz.alias("_sz"))
    stats = raw.agg(
        F.coalesce(
            F.sum(F.when(F.col("_sz") <= big_doc_bytes, F.col("_sz"))),
            F.lit(0),
        ).alias("small_bytes"),
        F.coalesce(
            F.sum((F.col("_sz") <= big_doc_bytes).cast("long")), F.lit(0)
        ).alias("n_small"),
        F.percentile_approx(
            F.when(F.col("_sz") > big_doc_bytes, F.col("_sz")), 0.99
        ).alias("whale_p99"),
    ).collect()[0]
    if not stats.whale_p99 or not stats.n_small:
        return None
    avg_small = max(1, int(stats.small_bytes) // int(stats.n_small))
    spark = pdf_raw.sparkSession
    cpus = spark.sparkContext.defaultParallelism
    k = min(k_whales, max(1, cpus - 1))
    m = max(2, (cpus - k) * waves)
    rows_per_task = max(1, math.ceil(int(stats.whale_p99) / avg_small))
    n_rows = min(m * rows_per_task, int(stats.n_small))
    # deterministic map-side sample — a limit() of millions of rows
    # funnels them through one GlobalLimit partition, which both costs
    # a shuffle wave and distorts the very contention being measured
    keep_mod = max(1, int(stats.n_small) // n_rows)
    smalls = (
        raw.filter(F.col("_sz") <= big_doc_bytes)
        .filter(F.pmod(F.xxhash64("doc_id"), F.lit(keep_mod)) == 0)
        .repartition(m)
    )
    whales = (
        raw.filter(F.col("_sz") > big_doc_bytes)
        .limit(k)
        .repartitionByRange(k, "doc_id")
    )
    probe = smalls.unionByName(whales)
    n_tasks = m + k

    group = "sparkpdf-whale-factor-probe"
    err: list = []

    def run_probe():
        try:
            spark.sparkContext.setJobGroup(group, "whale cost factor probe")
            workload(probe).agg(F.count("*")).collect()
        except Exception as exc:  # surfaced below; never hangs the poll
            err.append(exc)
        finally:
            spark.sparkContext.setJobGroup("", "")

    tracker = spark.sparkContext.statusTracker()
    t = threading.Thread(target=run_probe, daemon=True)
    t0 = _time.monotonic()
    t.start()
    completions: list[float] = []
    seen = 0
    stage_id = None

    def poll_once():
        nonlocal stage_id, seen, t0
        try:
            if stage_id is None:
                for jid in tracker.getJobIdsForGroup(group):
                    info = tracker.getJobInfo(jid)
                    for sid in info.stageIds if info else []:
                        si = tracker.getStageInfo(sid)
                        if si and si.numTasks == n_tasks:
                            stage_id = sid
                            t0 = _time.monotonic()  # stage start ~ now
                            break
                    if stage_id is not None:
                        break
            if stage_id is not None:
                si = tracker.getStageInfo(stage_id)
                done = si.numCompletedTasks if si else seen
                now = _time.monotonic() - t0
                completions.extend([now] * (done - seen))
                seen = max(seen, done)
        except Exception:
            pass  # tracker hiccups: keep polling until the job ends

    while t.is_alive():
        _time.sleep(poll_sec)
        poll_once()
    t.join()
    poll_once()  # tail completions between the last poll and job end
    if err:
        raise err[0]
    if seen < n_tasks:  # stage never identified or AQE re-planned it
        return None
    completions.sort()
    # first-wave small median: index m/(2*waves) of the m+k tasks
    # (whales land at the tail when they are the premium; when they
    # are not, the ratio collapses toward 1 and the floor rules)
    small_wall = completions[max(0, (m // waves) // 2)]
    whale_wall = completions[-1]
    if whale_wall < MIN_SIGNAL_SEC or small_wall <= 0:
        return None  # below timing resolution: tiny/test corpus
    factor = whale_wall / small_wall
    if detail is not None:
        detail.update(
            n_tasks=n_tasks, n_small_tasks=m, n_whale_tasks=k,
            small_rows=n_rows, rows_per_task=rows_per_task,
            whale_p99=int(stats.whale_p99),
            small_task_wall=round(small_wall, 2),
            whale_task_wall=round(whale_wall, 2),
            raw_factor=round(factor, 3),
        )
    return min(MEASURED_FACTOR_CAP, max(MEASURED_FACTOR_FLOOR, factor))


def derive_target_bytes(
    whale_p99: int | None, whale_cost_factor: float = WHALE_COST_FACTOR
) -> int:
    """The auto-target rule, measured in the whale100x runs: size
    small-doc partitions against the p99 whale's task COST — p99 whale
    bytes (the on-disk SIZE COLUMN the planner reads) x ~3.2 — never
    below the default target. With no whales, the default stands. The
    rejected first attempt (x1.9 against whale TEXT size) measured
    p99/p50 2.23; see WHALE_COST_FACTOR above."""
    return max(DEFAULT_TARGET_BYTES, int((whale_p99 or 0) * whale_cost_factor))


def plan_salted_partitions(
    pdf_raw: DataFrame,
    target_bytes: int | None = DEFAULT_TARGET_BYTES,
    big_doc_bytes: int = DEFAULT_BIG_DOC_BYTES,
    min_partitions: int = 4,
    size_col: str | None = None,
    whale_cost_factor: float | None = WHALE_COST_FACTOR,
    payload_col: str = "pdf_bytes",
    workload=None,
) -> DataFrame:
    """Returns pdf_raw repartitioned by a byte-aware salt column.

    salt ∈ [0, n_small) for normal docs via hash(doc_id);
    salt ∈ [n_small, n_small + n_big) gives each big doc its own slot.

    `target_bytes=None` AUTO-DERIVES the target from the corpus's own
    size stats (round-6; the round-5 whale100x run showed a hand-tuned
    128 MB target leaves p99/p50 ~ 4 because a whale task is ~2 small
    waves of indivisible work): target = max(DEFAULT_TARGET_BYTES,
    p99 whale bytes x whale_cost_factor), computed inside the SAME
    planning aggregate that sizes the partitions (no extra pass).
    With no whales present the default target stands.

    `whale_cost_factor=None` (round 7) additionally MEASURES the
    factor on this corpus via measure_whale_cost_factor — required
    when the corpus's compressibility regime is unknown (the 3.2
    default embeds one corpus's flate ratio). Falls back to the
    constant when the sample can't produce both rates.

    `size_col`: name of a MATERIALIZED per-doc byte-size column in the
    source table. The two-branch union below filters the corpus twice
    (small side, big side); with an on-the-fly length(pdf_bytes) those
    filters cannot push down, so the plan re-reads the full corpus
    once per branch — measured at 27 GB this costs more wall than the
    whale skew it cures (BENCH/BASELINE.md round 5). With a size
    column written at ingest, both filters reach the parquet
    row-group/file statistics: the big branch reads ~only the whale
    bytes and the planning aggregate reads one slim column. At 100 TB
    the size column is REQUIRED; the computed fallback stays for ad
    hoc runs."""
    if size_col:
        # filter on the RAW column (no cast wrapper): Spark only
        # pushes attribute-vs-literal predicates down to the parquet
        # reader, which is the whole point of the size column
        sized = pdf_raw.withColumn(
            "_doc_bytes", F.col(size_col).cast("long")
        )
        small_pred = F.col(size_col) <= big_doc_bytes
        big_pred = F.col(size_col) > big_doc_bytes
    else:
        sized = pdf_raw.withColumn(
            "_doc_bytes", F.length(payload_col).cast("long")
        )
        small_pred = F.col("_doc_bytes") <= big_doc_bytes
        big_pred = F.col("_doc_bytes") > big_doc_bytes
    stats = sized.agg(
        F.coalesce(
            F.sum(F.when(F.col("_doc_bytes") <= big_doc_bytes, F.col("_doc_bytes"))),
            F.lit(0),
        ).alias("small_bytes"),
        F.coalesce(
            F.sum((F.col("_doc_bytes") > big_doc_bytes).cast("int")), F.lit(0)
        ).alias("n_big"),
        F.percentile_approx(
            F.when(F.col("_doc_bytes") > big_doc_bytes, F.col("_doc_bytes")),
            0.99,
        ).alias("whale_p99"),
    ).collect()[0]
    if target_bytes is None:
        if whale_cost_factor is None:
            measured = (
                measure_whale_cost_factor(
                    pdf_raw, big_doc_bytes=big_doc_bytes,
                    size_col=size_col, payload_col=payload_col,
                    workload=workload,
                )
                if int(stats.n_big)
                else None
            )
            whale_cost_factor = (
                measured if measured is not None else WHALE_COST_FACTOR
            )
        target_bytes = derive_target_bytes(stats.whale_p99, whale_cost_factor)
    n_small = max(min_partitions, -(-int(stats.small_bytes) // target_bytes))
    n_big = int(stats.n_big)
    # NOTE: repartition(n, col) HASHES the column, so one shared
    # repartition cannot pin whales to private partitions (hash
    # collisions with small-doc salts). Instead each side is
    # partitioned separately and unioned — UnionExec concatenates
    # child partitions without a shuffle, preserving both layouts.
    small = (
        sized.filter(small_pred)
        .repartition(n_small, "doc_id")
        .drop("_doc_bytes")
    )
    if not n_big:
        return small
    # range-partitioning n_big distinct keys into n_big partitions
    # gives exactly one whale per partition (full sample at this size)
    big = (
        sized.filter(big_pred)
        .repartitionByRange(n_big, "doc_id")
        .drop("_doc_bytes")
    )
    return small.unionByName(big)


def skew_report(pdf_raw: DataFrame, n_partitions: int,
                payload_col: str = "pdf_bytes",
                size_col: str | None = None) -> dict:
    """p99/median bytes per would-be partition — the BASELINE skew-guard
    metric (target <= 2 after salting). `size_col`: a materialized
    per-doc byte column (binaryFile's `length`, an ingest-time
    n_bytes) — REQUIRED at scale, same reason as
    plan_salted_partitions: F.length(payload) reads every payload."""
    sz = F.col(size_col) if size_col else F.length(payload_col)
    per_part = (
        pdf_raw.withColumn("_p", F.pmod(F.hash("doc_id"), F.lit(n_partitions)))
        .groupBy("_p")
        .agg(F.sum(sz).alias("part_bytes"))
    )
    row = per_part.agg(
        F.expr("percentile_approx(part_bytes, 0.99)").alias("p99"),
        F.expr("percentile_approx(part_bytes, 0.5)").alias("p50"),
    ).collect()[0]
    p99, p50 = float(row.p99 or 0), float(row.p50 or 1)
    return {"p99_bytes": p99, "median_bytes": p50, "skew_ratio": p99 / max(p50, 1.0)}
