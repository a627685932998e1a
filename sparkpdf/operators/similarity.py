"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exactness baseline; the LSH-bucketed
variant is the 100 TB path (random-hyperplane signs computed from
deterministic per-dimension weights so the oracle can reproduce them).
Dot products run JVM-side via zip_with/aggregate — no Python.

Each rule the DuckDB replays depend on lives in one helper: _top_k
(ranking), _means (Lloyd update), _adc_lut/_adc_topk (ADC scoring),
_probe (inverted-list join), _first (query sets and seed codebooks).

The exact/IVF/PQ/IVFPQ/IVFADC searches are each an INDEXES entry:
build steps (unit, built, p) -> one index artifact (IVF lists, coarse
centroids, PQ codebooks, codes), where `built` maps the earlier steps'
names to their artifacts, then one search (unit, built, p) -> top-k.
Both read earlier artifacts only from `built`, so the *_topk functions
compose them lazily, while jobs/ann_job.py stores each artifact and
passes on the stored frame: it searches exactly the stored index and
never trains a quantizer twice.
"""

from __future__ import annotations

from functools import partial
from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sq_l2(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _top_k(scored: DataFrame, by, score: str, tie: str, k: int,
           ascending: bool = False) -> DataFrame:
    """The ranking rule every search and assignment shares: within each
    `by` group order by `score` (descending unless `ascending`), ties
    to the lower `tie`, keep the rows whose 1-based `rank` is <= k."""
    order = F.col(score).asc() if ascending else F.col(score).desc()
    w = Window.partitionBy(by).orderBy(order, F.col(tie).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _neighbors(pairs: DataFrame, k: int, rounded: bool = False
               ) -> DataFrame:
    """(query_id, qunit) x (vec_id, unit) candidate pairs -> the
    rank-only top-k by cosine (rounded 6dp when `rounded`) of the
    exact/LSH/IVF searches (no floats, so oracle hashes are stable)."""
    sim = _dot(F.col("qunit"), F.col("unit"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (F.round(sim, 6) if rounded else sim).alias("sim"),
    )
    return _top_k(scored, "query_id", "sim", "neighbor_id", k).select(
        "query_id", "neighbor_id", "rank"
    )


def _first(df: DataFrame, n: int, **cols: str) -> DataFrame:
    """The rows with vec_id < n — the deterministic query set or seed
    codebook — projected as new_name=source_column."""
    return df.filter(F.col("vec_id") < n).select(
        *[F.col(src).alias(dst) for dst, src in cols.items()]
    )


def _probe(queries: DataFrame, assigned: DataFrame) -> DataFrame:
    """Inverted-list scan: each broadcast query row (routed to list
    `qlist`) meets every member of that list except itself."""
    return (
        F.broadcast(queries)
        .join(assigned, F.col("qlist") == F.col("centroid_id"))
        .filter(F.col("query_id") != F.col("vec_id"))
    )


def with_unit_vectors(embeddings: DataFrame) -> DataFrame:
    """Cast to double and L2-normalise once, upfront — cosine becomes a
    plain dot product downstream (compute-once at 100 TB). The norm is
    a materialized column, NOT an expression captured in the division
    lambda: CollapseProject would re-inline it per ELEMENT (an O(dim)
    aggregate per component = O(dim^2) per row — the round-5
    lambda-capture trap)."""
    vec = F.transform("embedding", lambda v: v.cast("double"))
    # the norm rides in as a zip_with ARGUMENT (argument expressions
    # evaluate once per row; only lambda-body captures re-evaluate per
    # element), broadcast across the row via array_repeat — O(dim) per
    # row, and x / n keeps float results bit-identical to the oracle
    # (x * (1/n) would differ by an ulp)
    norms = F.array_repeat(_norm(vec), F.size(vec))
    return embeddings.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.zip_with(vec, norms, lambda x, nn: x / nn).alias("unit"),
    )


def brute_force_topk(
    embeddings: DataFrame, n_queries: int = 8, k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbours for the first `n_queries` vectors.

    Plan shape: broadcast the tiny query side against the full corpus
    (the only scalable orientation), dot products in codegen, then a
    per-query top-k via window rank — the shuffle is on n_queries keys
    only. Output is rank-only (no floats) so the oracle hash is stable."""
    return _compose("exact", embeddings,
                    AnnParams(n_queries=n_queries, k=k))


def _plane_weight(j, d):
    # fixed LCG, reproducible in ANSI SQL for the oracle
    return ((1103515245 * (j * 1024 + d) + 12345) % 2001 - 1000) / 1000.0


def _bucket_bit(g, j, dim):
    """1 << j when `unit` lies on the non-negative side of hyperplane
    g (weights _plane_weight(g, 0..dim-1)), else 0."""
    proj = F.aggregate(
        F.zip_with(
            "unit",
            F.array(*[F.lit(_plane_weight(g, d)) for d in range(dim)]),
            lambda v, w: v * w,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.when(proj >= 0, F.lit(1 << j)).otherwise(F.lit(0))


def lsh_bucket_topk(
    embeddings: DataFrame, n_planes: int = 4, n_queries: int = 8, k: int = 3,
    dim: int = 64,
) -> DataFrame:
    """Random-hyperplane LSH: sign bits of dot(v, plane_j) form a bucket
    key; neighbours are searched within the query's bucket only.

    plane_j[d] = ((1103515245 * (j * 1024 + d) + 12345) % 2001 - 1000)
    / 1000 — a fixed LCG, reproducible in ANSI SQL for the oracle. At
    100 TB this turns the cross join into a bucket-equi-join whose fan-in
    we control with n_planes."""
    unit = with_unit_vectors(embeddings)
    bucketed = unit.withColumn(
        "bucket",
        sum([_bucket_bit(j, j, dim) for j in range(n_planes)],
            F.lit(0)).cast("int"),
    )
    queries = _first(bucketed, n_queries, query_id="vec_id",
                     qunit="unit", qbucket="bucket")
    pairs = (
        F.broadcast(queries)
        .join(bucketed, F.col("qbucket") == F.col("bucket"))
        .filter(F.col("query_id") != F.col("vec_id"))
    )
    return _neighbors(pairs, k)


def banded_lsh_buckets(
    embeddings: DataFrame, n_bands: int, n_planes: int, dim: int = 64
) -> DataFrame:
    """Multi-band random-hyperplane LSH: band b hashes with its OWN
    n_planes hyperplanes (global plane index b*n_planes+j), giving
    n_bands independent bucket tables stacked as (band_no, bucket).
    Banding trades replication (x n_bands rows) for recall exactly like
    MinHash-LSH: P(candidate) = 1 - (1 - p^n_planes)^n_bands with
    p = 1 - theta/pi."""
    unit = with_unit_vectors(embeddings)
    bands = [
        sum(
            [_bucket_bit(b * n_planes + j, j, dim) for j in range(n_planes)],
            F.lit(0),
        ).cast("int").alias(f"bucket{b}")
        for b in range(n_bands)
    ]
    all_bands = unit.select("vec_id", "unit", *bands)
    # posexplode fans the bands out map-side from ONE hyperplane
    # computation (a union of per-band selects recomputes all
    # n_bands * n_planes projections per branch)
    return all_bands.select(
        "vec_id",
        "unit",
        F.posexplode(
            F.array(*[F.col(f"bucket{b}") for b in range(n_bands)])
        ).alias("band_no", "bucket"),
    )


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.44,
    n_bands: int = 8,
    n_planes: int = 8,
    dim: int = 64,
    bucket_cap: int = 10000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: banded LSH candidates,
    exact cosine verify inside each (band_no, bucket), distinct across
    bands.

    Scale design (vs the round-1 single 16-bucket table):
      * n_bands independent plane sets x 2^n_planes buckets each — the
        within-bucket self-join is all-pairs/2^n_planes per band, and
        n_planes (selectivity) tunes independently of recall (n_bands).
      * bucket_cap: any (band_no, bucket) with more than `bucket_cap`
        members is excluded from the self-join (skew/degenerate-vector
        guard); use near_dup_overflow() to account for what was skipped.
        The cap bounds the worst bucket's join at cap^2 rows.
      * recall = 1-(1-p^n_planes)^n_bands, p = 1-theta/pi: the defaults
        give ~0.99 at cosine 0.95, ~0.85 at 0.85, but only ~0.22 at the
        0.44 threshold the oracle query uses (63-degree angles are not
        LSH-friendly; measured numbers in BENCH/BASELINE.md). For a
        production near-dup sweep at cosine>=0.9 use n_planes=16,
        n_bands=24 (recall ~0.88, buckets of N/65536)."""
    stacked = banded_lsh_buckets(embeddings, n_bands, n_planes, dim)
    counts = stacked.groupBy("band_no", "bucket").agg(
        F.count("*").alias("bucket_n")
    )
    capped = stacked.join(
        F.broadcast(counts.filter(F.col("bucket_n") <= bucket_cap)),
        ["band_no", "bucket"],
    )
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(_dot(F.col("a.unit"), F.col("b.unit")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


def near_dup_overflow(
    embeddings: DataFrame,
    n_bands: int = 8,
    n_planes: int = 8,
    dim: int = 64,
    bucket_cap: int = 10000,
) -> DataFrame:
    """Overflow accounting for embedding_near_dups: the (band_no,
    bucket, bucket_n) rows whose buckets exceeded bucket_cap and were
    skipped — at 100 TB these go to a quarantine sweep (sample-verify or
    a higher-planes re-hash), never silently dropped."""
    stacked = banded_lsh_buckets(embeddings, n_bands, n_planes, dim)
    return (
        stacked.groupBy("band_no", "bucket")
        .agg(F.count("*").alias("bucket_n"))
        .filter(F.col("bucket_n") > bucket_cap)
    )


def _seed_centroids(unit: DataFrame, n_lists: int) -> DataFrame:
    """The first n_lists unit vectors as the (centroid_id, cunit)
    codebook — IVF's deterministic stand-in and k-means' seed."""
    return _first(unit, n_lists, centroid_id="vec_id", cunit="unit")


def _assign_to_centroids(unit: DataFrame, cents: DataFrame,
                         rounded: bool = True) -> DataFrame:
    """vec -> nearest centroid by cosine, rank-1 by (sim desc,
    centroid_id asc). The k-means lists rank sims rounded 6dp for
    engine-stable ranking; the IVF seed lists rank the raw dot (the two
    differ on near-ties, and each oracle replays its own)."""
    sim = _dot(F.col("unit"), F.col("cunit"))
    scored = unit.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "unit",
        "centroid_id",
        (F.round(sim, 6) if rounded else sim).alias("sim"),
    )
    return _top_k(scored, "vec_id", "sim", "centroid_id", 1).select(
        "vec_id", "unit", "centroid_id"
    )


def _means(assigned: DataFrame, keys: "list[str]", vec: str,
           out: str) -> DataFrame:
    """One Lloyd update: per `keys` group, the per-dimension mean of
    the array column `vec`, rounded 6dp (so Spark's partial-agg
    summation order and DuckDB's agree), packed back in dim order as
    `out`. The shuffle is on (keys, dim) — codebook-sized."""
    means = (
        assigned.select(*keys, F.posexplode(vec).alias("dim", "val"))
        .groupBy(*keys, "dim")
        .agg(F.round(F.avg("val"), 6).alias("m"))
    )
    return (
        means.groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("a"))
        .select(*keys, F.transform("a", lambda s: s["m"]).alias(out))
    )


def kmeans_ivf_assignments(
    embeddings: DataFrame, n_lists: int = 8, n_iters: int = 2
) -> DataFrame:
    """(vec_id, unit, centroid_id): every vector's inverted list under
    the Lloyd-trained coarse centroids (_kmeans_centroids)."""
    unit = with_unit_vectors(embeddings)
    p = AnnParams(n_lists=n_lists, n_iters=n_iters)
    return _assign_to_centroids(unit, _kmeans_centroids(unit, {}, p))


def _kmeans_centroids(unit, built, p):
    """Coarse centroids (centroid_id, cunit) with REAL Lloyd
    iterations: seed = first n_lists unit vectors, then n_iters rounds
    of (assign by cosine -> per-dimension mean -> L2-normalize).
    Deterministic and oracle-replayable: every float product
    (assignment sims, means, normalized centroids) is rounded to 6dp
    so Spark's partial-agg summation order and DuckDB's agree.

    Scale shape: centroids are a tiny broadcast table; each iteration
    costs one posexplode shuffle on (centroid_id, dim) — cardinality
    n_lists*dim, trivially small — plus the broadcast assignment pass.
    The classic distributed k-means plan."""
    cents = _seed_centroids(unit, p.n_lists)
    for _ in range(p.n_iters):
        packed = _means(_assign_to_centroids(unit, cents),
                        ["centroid_id"], "unit", "cvec")
        cents = packed.select(
            "centroid_id",
            F.transform(
                F.transform("cvec", lambda v: v / _norm(F.col("cvec"))),
                lambda v: F.round(v, 6),
            ).alias("cunit"),
        )
    return cents


def ivf_kmeans_topk(
    embeddings: DataFrame,
    n_lists: int = 8,
    n_iters: int = 2,
    n_queries: int = 4,
    k: int = 3,
) -> DataFrame:
    """IVF search (nprobe=1) over the k-means codebook: same inverted-
    list join shape as ivf_topk, real centroids."""
    assigned = kmeans_ivf_assignments(embeddings, n_lists, n_iters)
    queries = _first(assigned, n_queries, query_id="vec_id",
                     qunit="unit", qlist="centroid_id")
    return _neighbors(_probe(queries, assigned), k, rounded=True)


def _pq_subvectors(vecs: DataFrame, col: str, m_sub: int,
                   sub_len: int, id_col: str = "vec_id") -> DataFrame:
    """(<id_col>, <col>) -> (<id_col>, sub_id, sub): each vector split
    into m_sub contiguous subspaces (corpus and query side alike)."""
    return vecs.select(
        id_col,
        F.posexplode(
            F.array(*[
                F.slice(col, s * sub_len + 1, sub_len)
                for s in range(m_sub)
            ])
        ).alias("sub_id", "sub"),
    )


def _pq_assign(subs: DataFrame, cbooks: DataFrame) -> DataFrame:
    """Nearest codeword per (vec, sub) by rounded dot, rank-1 ties to
    the lowest centroid_id — the shared PQ assignment step.

    Known tradeoff (r8 advice, documented): assignment maximizes the
    dot product while ivfpq_residual_topk scores with L2 ADC, and
    residual subvectors are not unit-normalized — standard IVFADC
    assigns by min L2, so on corpora whose subvector NORMS vary widely
    this encoding can lose recall vs the textbook assignment. It is
    deterministic, oracle-replayable, and recall@3 = 1.0 on the
    clustered corpus; switching metrics would change every PQ code and
    therefore every PQ oracle, so it stays dot-assigned until a round
    that re-baselines those oracles."""
    scored = subs.join(F.broadcast(cbooks), "sub_id").select(
        "vec_id", "sub_id", "sub", "centroid_id",
        F.round(_dot(F.col("sub"), F.col("cvec")), 6).alias("sim"),
    )
    return _top_k(scored, ["vec_id", "sub_id"], "sim", "centroid_id", 1
                  ).select("vec_id", "sub_id", "sub", "centroid_id")


def _adc_lut(queries: DataFrame, col: str, cbooks: DataFrame, part,
             p: AnnParams) -> DataFrame:
    """The ADC lookup table (query_id, sub_id, centroid_id, part):
    `part` (_dot, or _sq_l2 for the residual L2 form) of each query
    subvector against every codeword of its subspace, rounded 6dp — a
    tiny q x m x k table that is broadcast to the codes."""
    qsubs = _pq_subvectors(queries, col, p.m_sub, p.dim // p.m_sub,
                           "query_id")
    return qsubs.join(F.broadcast(cbooks), "sub_id").select(
        "query_id", "sub_id", "centroid_id",
        F.round(part(F.col("sub"), F.col("cvec")), 6).alias("part"),
    )


def _adc_topk(parts: DataFrame, m_sub: int, k: int,
              ascending: bool = False) -> DataFrame:
    """(query_id, vec_id, sub_id, part) lookups -> top-k (query_id,
    neighbor_id, rank, score). The score is the FIXED-ORDER sum
    p0 + ... + p{m-1}: one conditional agg per subspace, added 0..m-1,
    never a SUM whose accumulation order the engine picks — so Spark
    and DuckDB agree bit-for-bit."""
    per_sub = [
        F.first(F.when(F.col("sub_id") == s, F.col("part")),
                ignorenulls=True).alias(f"p{s}")
        for s in range(m_sub)
    ]
    score = F.col("p0")
    for s in range(1, m_sub):
        score = score + F.col(f"p{s}")
    scored = parts.groupBy("query_id", "vec_id").agg(*per_sub).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(score, 6).alias("score"),
    )
    return _top_k(scored, "query_id", "score", "neighbor_id", k,
                  ascending).select("query_id", "neighbor_id", "rank",
                                    "score")


class AnnParams(NamedTuple):
    """Every knob an index build step or search reads; the defaults
    are the *_topk keyword defaults."""

    n_lists: int = 8
    n_iters: int = 2
    m_sub: int = 4
    n_centroids: int = 8
    n_queries: int = 4
    k: int = 3
    dim: int = 64
    nprobe: int = 1


def _seed_lists(unit, built, p):
    """IVF lists (vec_id, unit, centroid_id) over the seed codebook,
    ranked on the raw dot."""
    return _assign_to_centroids(
        unit, _seed_centroids(unit, p.n_lists), rounded=False)


def _coarse_lists(unit, built, p):
    """(vec_id, centroid_id) under the built k-means centroids."""
    return _assign_to_centroids(unit, built["centroids"]).select(
        "vec_id", "centroid_id")


def _residuals(unit, built):
    """(vec_id, centroid_id, rvec): each unit vector minus the coarse
    centroid of its list, rounded 6dp."""
    return unit.join(built["index"], "vec_id").join(
        F.broadcast(built["centroids"]), "centroid_id"
    ).select("vec_id", "centroid_id", F.zip_with(
        "unit", "cunit", lambda x, c: F.round(x - c, 6)).alias("rvec"))


def _pq_input(residual, unit, built, p):
    """(vec_id, sub_id, sub): the unit vectors' or residuals' m_sub
    subvectors — what the PQ codebooks train on and encode."""
    vecs, col = (_residuals(unit, built), "rvec") if residual else (
        unit, "unit")
    return _pq_subvectors(vecs, col, p.m_sub, p.dim // p.m_sub)


def _codebooks(residual, unit, built, p):
    """Product quantization (the memory-at-scale ANN compressor):
    Lloyd-trained per-subspace codebooks (sub_id, centroid_id, cvec)
    over _pq_input (unit subvectors for flat PQ, residuals for
    IVFADC). Seeds = the first n_centroids vectors' subvectors, then
    n_iters rounds of (assign by dot, per-dim mean), every float
    rounded 6dp. The codebooks are tiny and broadcast (m*k*dim/m
    doubles); training assignment is a broadcast join + one
    (vec, sub)-keyed window, the update a partial-agg groupBy of
    cardinality m*k*subdim — the corpus never self-joins."""
    vecs = _pq_input(residual, unit, built, p)
    cents = _first(vecs, p.n_centroids, sub_id="sub_id",
                   centroid_id="vec_id", cvec="sub")
    for _ in range(p.n_iters):
        cents = _means(_pq_assign(vecs, cents),
                       ["sub_id", "centroid_id"], "sub", "cvec")
    return cents


def _codes(residual, unit, built, p):
    """(vec_id, sub_id, centroid_id): each vector encoded as m_sub small
    codeword ids — the 64-dim float vector in m_sub bytes."""
    return _pq_assign(_pq_input(residual, unit, built, p),
                      built["codebooks"]).select(
        "vec_id", "sub_id", "centroid_id")


def _pq_steps(residual: bool):
    return (("codebooks", partial(_codebooks, residual)),
            ("codes", partial(_codes, residual)))


def _exact_search(unit, built, p):
    queries = _first(unit, p.n_queries, query_id="vec_id", qunit="unit")
    pairs = F.broadcast(queries).crossJoin(unit).filter(
        F.col("query_id") != F.col("vec_id"))
    return _neighbors(pairs, p.k)


def _ivf_search(unit, built, p):
    """Each query scans the lists of its nprobe nearest seed
    centroids."""
    routed = (
        _first(unit, p.n_queries, query_id="vec_id", qunit="unit")
        .crossJoin(F.broadcast(_seed_centroids(unit, p.n_lists)))
        .select(
            "query_id",
            "qunit",
            "centroid_id",
            _dot(F.col("qunit"), F.col("cunit")).alias("csim"),
        )
    )
    queries = _top_k(routed, "query_id", "csim", "centroid_id",
                     p.nprobe).withColumnRenamed("centroid_id", "qlist")
    return _neighbors(_probe(queries, built["index"]), p.k)


def _pq_search(unit, built, p):
    queries = _first(unit, p.n_queries, query_id="vec_id", qunit="unit")
    lut = _adc_lut(queries, "qunit", built["codebooks"], _dot, p)
    parts = built["codes"].join(
        F.broadcast(lut), ["sub_id", "centroid_id"]
    ).filter(F.col("query_id") != F.col("vec_id"))
    return _adc_topk(parts, p.m_sub, p.k)


def _probed_adc_topk(built, queries, col, part, p, ascending=False):
    """IVF-routed ADC: candidates are the members of each query's list
    `qlist` in the built index (the corpus side contributes only
    (vec_id, list) pairs and its codes; queries broadcast), scored
    from the query vector `col` through the codebook LUT."""
    cand = _probe(queries.select("query_id", "qlist"),
                  built["index"]).select("query_id", "vec_id")
    lut = _adc_lut(queries, col, built["codebooks"], part, p)
    parts = (
        cand.join(built["codes"], "vec_id")
        .join(F.broadcast(lut), ["query_id", "sub_id", "centroid_id"])
    )
    return _adc_topk(parts, p.m_sub, p.k, ascending)


def _ivfpq_search(unit, built, p):
    queries = _first(unit.join(built["index"], "vec_id"), p.n_queries,
                     query_id="vec_id", qunit="unit", qlist="centroid_id")
    return _probed_adc_topk(built, queries, "qunit", _dot, p)


def _residual_search(unit, built, p):
    # query residual w.r.t. its own probed list — q - c_L exactly;
    # LUT entry: ||r_q_sub - cw||^2, rounded 6dp
    queries = _first(_residuals(unit, built), p.n_queries,
                     query_id="vec_id", qlist="centroid_id", qres="rvec")
    return _probed_adc_topk(built, queries, "qres", _sq_l2, p,
                            ascending=True)


_COARSE = (("centroids", _kmeans_centroids), ("index", _coarse_lists))

# kind -> (build steps in order as (artifact name, step), search)
INDEXES = {
    "exact": ((), _exact_search),
    "ivf": ((("index", _seed_lists),), _ivf_search),
    "pq": (_pq_steps(residual=False), _pq_search),
    "ivfpq": (_COARSE + _pq_steps(residual=False), _ivfpq_search),
    "ivfpq_residual": (_COARSE + _pq_steps(residual=True), _residual_search),
}


def _build(steps, unit: DataFrame, p: AnnParams) -> dict:
    built = {}
    for name, step in steps:
        built[name] = step(unit, built, p)
    return built


def _compose(kind: str, embeddings: DataFrame, p: AnnParams) -> DataFrame:
    """The lazy search of index `kind` over its lazily built artifacts."""
    steps, search = INDEXES[kind]
    unit = with_unit_vectors(embeddings)
    return search(unit, _build(steps, unit, p), p)


def ivf_topk(
    embeddings: DataFrame,
    n_lists: int = 8,
    n_queries: int = 4,
    k: int = 3,
    nprobe: int = 1,
) -> DataFrame:
    """IVF search: the first n_lists unit vectors act as the
    (deterministic) centroid codebook — a seeded k-means stand-in so
    the oracle can replay it — every vector joins its nearest
    centroid's inverted list (rank-1 by raw sim desc, centroid_id asc),
    and each query scans its `nprobe` nearest lists. The join is on
    centroid_id, so at 100 TB the fan-in per query is
    nprobe * corpus/n_lists instead of the whole corpus (nprobe tunes
    the recall/cost knob exactly as in FAISS-style IVF)."""
    return _compose("ivf", embeddings, AnnParams(
        n_lists=n_lists, n_queries=n_queries, k=k, nprobe=nprobe))


def pq_topk(
    embeddings: DataFrame,
    m_sub: int = 4,
    n_centroids: int = 8,
    n_iters: int = 2,
    n_queries: int = 4,
    k: int = 3,
    dim: int = 64,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, dot
    each EXACT query subvector against every codebook entry (a tiny
    q x m x k table, broadcast), then score each corpus vector as the
    FIXED-ORDER sum of its m_sub table lookups — addition order is
    pinned (sub 0..m-1) so Spark's aggregation and DuckDB's agree
    bit-for-bit, the same determinism discipline as the kmeans
    rounding. Rank by (score desc, neighbor asc), self excluded.

    Scale shape: the corpus side touches only its codes (m_sub ints
    per vector — the point of PQ at 100 TB); the lookup join is
    broadcast; the per-(query, vector) reduce is a partial-agg
    groupBy. Exact subvectors never leave the codebook training."""
    return _compose("pq", embeddings, AnnParams(
        m_sub=m_sub, n_centroids=n_centroids, n_iters=n_iters,
        n_queries=n_queries, k=k, dim=dim))


def ivfpq_residual_topk(
    embeddings: DataFrame,
    n_lists: int = 8,
    n_iters: int = 2,
    m_sub: int = 4,
    n_centroids: int = 8,
    n_queries: int = 4,
    k: int = 3,
    dim: int = 64,
) -> DataFrame:
    """Residual IVFPQ — the standard public IVFADC layout (Jegou,
    Douze, Schmid 2011): PQ codebooks are trained on and encode the
    RESIDUAL unit - coarse_centroid instead of the raw vector, so the
    quantizer's 8 codewords per subspace spend their bits on the
    within-list structure the coarse quantizer didn't explain.

    Metric: L2 ADC. The corpus is unit-normalized, so cosine ranking
    == ascending ||q - v||^2, and within the probed list q - c_L is
    EXACTLY the query's own residual, giving the textbook
    decomposition  ||q - v||^2 = ||r_q - r_v||^2  — approximated per
    subspace as ||r_q_sub - cw(code)||^2 from a broadcast LUT built
    on the QUERY RESIDUAL. This is deliberately not an inner-product
    LUT on the full query: pooled residual codewords carry
    cross-cluster offset components, and a q . cw table multiplies
    them by the (large) centroid direction — measured on the
    clustered corpus that bias is ~7x the pattern signal and
    destroys the ranking, while the L2 form only touches them
    through r_q . cw and the exact ||cw||^2 correction.

    Scale shape is ivfpq_topk's: routing reads list ids, scoring
    reads m_sub ints per candidate plus the broadcast q x m x k LUT;
    full-precision vectors never join the corpus side. Determinism:
    6dp Lloyd rounding, 6dp residuals, fixed-order LUT sums. Returns
    rank by (adc_dist2 asc, neighbor_id asc); score = adc_dist2."""
    return _compose("ivfpq_residual", embeddings, AnnParams(
        n_lists=n_lists, n_iters=n_iters, m_sub=m_sub,
        n_centroids=n_centroids, n_queries=n_queries, k=k, dim=dim))


def ivfpq_topk(
    embeddings: DataFrame,
    n_lists: int = 8,
    n_iters: int = 2,
    m_sub: int = 4,
    n_centroids: int = 8,
    n_queries: int = 4,
    k: int = 3,
    dim: int = 64,
) -> DataFrame:
    """IVF x PQ — the production large-scale ANN composition: the
    coarse k-means quantizer routes each query to its inverted list
    (pruning the corpus to ~1/n_lists, the ivf_kmeans shape), and the
    candidates are scored from their PQ CODES by asymmetric distance
    (the pq_topk shape) — so the search touches neither the full
    corpus nor any full-precision corpus vector: routing reads list
    ids, scoring reads m_sub ints per candidate plus the broadcast
    q x m x k lookup table. nprobe=1 (the ivf_kmeans_topk recall
    posture; the nprobe knob generalizes exactly as in ivf_topk).

    Determinism discipline: coarse centroids and codebooks share the
    6dp Lloyd rounding; ADC scores are fixed-order subspace sums."""
    return _compose("ivfpq", embeddings, AnnParams(
        n_lists=n_lists, n_iters=n_iters, m_sub=m_sub,
        n_centroids=n_centroids, n_queries=n_queries, k=k, dim=dim))
