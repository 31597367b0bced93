"""Similarity search over the ``embeddings`` table: brute-force cosine
top-k (the exactness baseline) and hyperplane-LSH bucketed ANN (the scale
path), plus embedding-cosine near-dup pairs.

Determinism: dot products are LEFT-FOLD double accumulations over the
array — per-row array folds have a fixed evaluation order (unlike cross-row
float aggregation, which needs the decimal trick in operators/exact.py), so
Spark's ``aggregate`` HOF and DuckDB's ``LIST_REDUCE`` produce bit-identical
doubles (verified empirically); top-k ranking then compares identical
doubles with a unique tie-break key. Staying in double keeps the fold
inside codegen — ~20× faster than a decimal accumulator.

Scale notes: the brute-force variants broadcast the small query side and
scan candidates once — O(n·q) with no shuffle. The LSH variant buckets both
sides on an 8-bit hyperplane signature, turning the cross join into an
equi-join on bucket id; recall is per-bucket but the bucketing is part of
the operator's contract (the oracle mirrors it exactly). For the dedup
path the signature width is ADAPTIVE (n_planes_for: log2 growth with
corpus size, optional multi-band OR construction), so the per-bucket cap
stays a degenerate-only guard at any n; for top-k ANN beyond fixture
scale, ann_ivf_topk's nprobe is the principled recall/latency knob.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from ..cache import managed_persist
from ..io import load_table
from ..registry import register

DIM = 64
N_PLANES = 8
TOP_K = 3

# Fixed random hyperplanes (seeded; rounded so the literal values embed
# exactly in both Spark plans and oracle SQL).
_rng = random.Random(20240813)
PLANES: list[list[float]] = [
    [round(_rng.uniform(-1.0, 1.0), 4) for _ in range(DIM)] for _ in range(N_PLANES)
]


def planes_pool(k: int) -> list[list[float]]:
    """First ``k`` hyperplanes of the seeded stream. PLANES is the stable
    prefix (the pool only ever extends, continuing the same RNG stream), so
    any configuration that uses the first 8 planes — including the fixture
    oracle — is unaffected by larger corpora requesting more."""
    while len(PLANES) < k:
        PLANES.append([round(_rng.uniform(-1.0, 1.0), 4) for _ in range(DIM)])
    return PLANES[:k]


def n_planes_for(n_vectors: int, target_bucket: int = 32) -> int:
    """Planes needed so the EXPECTED LSH bucket size (n / 2^planes) stays
    ~``target_bucket``. Growing the bucket space with the corpus is what
    keeps EMBED_BUCKET_CAP a degenerate-bucket-only guard at any scale: with
    a FIXED 8-bit signature (256 buckets) a corpus beyond ~cap·256 ≈ 65k
    vectors would push ORDINARY buckets over the cap and silently drop all
    their pairs. Returns the base N_PLANES for any fixture-scale corpus
    (n ≤ 8192 at target 32), so oracle-verified configurations never
    change."""
    import math

    return max(N_PLANES, math.ceil(math.log2(max(1, n_vectors) / target_bucket)))

# -- deterministic left-fold dot product ---------------------------------------
def dot_exact(a: Column, b: Column) -> Column:
    """Left-fold double dot product of two float arrays. Deterministic:
    per-row fold order is fixed, and DuckDB's LIST_REDUCE performs the same
    sequential fold, so values are bit-identical cross-engine."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def sql_dot_exact(a_expr: str, b_expr: str, dim: int = DIM) -> str:
    """DuckDB mirror of :func:`dot_exact` (same left-to-right fold)."""
    return (
        f"LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE), "
        f"LIST_TRANSFORM(RANGE({dim}), i -> "
        f"CAST({a_expr}[i+1] AS DOUBLE) * CAST({b_expr}[i+1] AS DOUBLE))), "
        f"(acc, x) -> acc + x)"
    )


def cosine(a: Column, b: Column) -> Column:
    return dot_exact(a, b) / (F.sqrt(dot_exact(a, a)) * F.sqrt(dot_exact(b, b)))


def sql_cosine(a_expr: str, b_expr: str) -> str:
    return (
        f"{sql_dot_exact(a_expr, b_expr)} / "
        f"(SQRT({sql_dot_exact(a_expr, a_expr)}) * SQRT({sql_dot_exact(b_expr, b_expr)}))"
    )


def norm(a: Column) -> Column:
    """L2 norm, precomputed ONCE per row before any pair join — cosine over
    pairs then costs one fold, not three (the self-dots are per-side
    projections, O(n·d), instead of per-pair work, O(pairs·d))."""
    return F.sqrt(dot_exact(a, a))


def sql_norm(a_expr: str) -> str:
    return f"SQRT({sql_dot_exact(a_expr, a_expr)})"


def cosine_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine from a pair dot plus the two precomputed side norms."""
    return dot_exact(a, b) / (na * nb)


def sql_cosine_pre(a_expr: str, b_expr: str, na_expr: str, nb_expr: str) -> str:
    return f"{sql_dot_exact(a_expr, b_expr)} / ({na_expr} * {nb_expr})"


def d2_exact(a: Column, b: Column) -> Column:
    """Left-fold squared euclidean distance — same fixed evaluation order as
    :func:`dot_exact`, so bit-identical to the DuckDB mirror."""
    diffs = F.zip_with(
        a, b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def sql_d2_exact(a_expr: str, b_expr: str, dim: int = DIM) -> str:
    """DuckDB mirror of :func:`d2_exact` (same left-to-right fold)."""
    return (
        f"LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE), "
        f"LIST_TRANSFORM(RANGE({dim}), i -> "
        f"(CAST({a_expr}[i+1] AS DOUBLE) - CAST({b_expr}[i+1] AS DOUBLE)) * "
        f"(CAST({a_expr}[i+1] AS DOUBLE) - CAST({b_expr}[i+1] AS DOUBLE)))), "
        f"(acc, x) -> acc + x)"
    )


# -- hyperplane LSH bucket -----------------------------------------------------
def _plane_lit(p: int) -> Column:
    return F.array(*[F.lit(v) for v in PLANES[p]])


def lsh_bucket(vec: Column) -> Column:
    """8-bit signature: bit p set iff dot(vec, plane_p) > 0 (the fold-order
    determinism above makes the sign — hence the bucket — engine- and
    partitioning-independent)."""
    out = F.lit(0)
    for p in range(N_PLANES):
        out = out + F.when(dot_exact(vec, _plane_lit(p)) > 0, F.lit(1 << p)).otherwise(0)
    return out.cast("int")


def _sql_plane_literal(p: int) -> str:
    return "[" + ", ".join(f"CAST({v} AS DOUBLE)" for v in PLANES[p]) + "]"


def sql_lsh_bucket(vec_expr: str, band: int = 0) -> str:
    """DuckDB mirror of one band's signature: band b uses planes
    [b·N_PLANES, (b+1)·N_PLANES) of the seeded pool (band 0 = the base
    PLANES prefix, so existing oracles are unchanged)."""
    planes_pool((band + 1) * N_PLANES)
    terms = []
    for p in range(N_PLANES):
        dot = sql_dot_exact(vec_expr, _sql_plane_literal(band * N_PLANES + p))
        terms.append(f"CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END")
    return "CAST(" + " + ".join(terms) + " AS INT)"


def bucket_norm_udf() -> Column:
    """(bucket, nrm) in ONE Arrow pass — semantically identical to
    ``lsh_bucket`` + ``norm`` but ~7× cheaper: the 8 hyperplane dots and
    the self-dot run as numpy accumulations that loop the DIM axis
    sequentially, reproducing the engine-standard left-fold add order
    bit-for-bit (so signs/buckets match the HOF builtins and the DuckDB
    oracle exactly), vectorized across the rows of the batch. The HOF pair
    remains the definitional mirror."""
    # Slice to the base signature width: PLANES is a pool that planes_pool
    # may have EXTENDED for banded callers; this udf's contract (and the
    # oracle's sql_lsh_bucket) is exactly the first N_PLANES.
    planes = [[float(v) for v in p] for p in PLANES[:N_PLANES]]

    @F.pandas_udf("bucket int, nrm double")
    def _bn(embs):
        # Self-contained: executors don't have the repo on sys.path.
        import numpy as np
        import pandas as pd

        if len(embs) == 0:
            # np.vstack([]) raises on a zero-row Arrow batch.
            return pd.DataFrame(
                {
                    "bucket": pd.Series([], dtype="int32"),
                    "nrm": pd.Series([], dtype="float64"),
                }
            )

        P = np.array(planes)  # (N_PLANES, D)
        A = np.vstack(embs.to_numpy()).astype(np.float64)  # (n, D)
        n_rows, dim = A.shape
        dots = np.zeros((n_rows, P.shape[0]))
        nrm2 = np.zeros(n_rows)
        for d in range(dim):  # sequential in d == the left fold
            col = A[:, d]
            dots += np.outer(col, P[:, d])
            nrm2 += col * col
        bucket = ((dots > 0) @ (1 << np.arange(P.shape[0]))).astype("int32")
        return pd.DataFrame({"bucket": bucket, "nrm": np.sqrt(nrm2)})

    return _bn(F.col("embedding"))


def multiband_bucket_norm_udf(bands: "list[list[list[float]]]") -> Column:
    """(buckets[band], nrm) in ONE Arrow pass — the banded generalization of
    :func:`bucket_norm_udf` (identical math, identical sequential-d fold
    order, so band 0 with the base 8 planes reproduces its buckets
    bit-for-bit). All bands' hyperplane dots run in the same numpy
    accumulation; one array column comes back instead of one int."""
    bandmats = [[[float(v) for v in p] for p in band] for band in bands]
    n_bands, planes_per = len(bandmats), len(bandmats[0])

    @F.pandas_udf("buckets array<int>, nrm double")
    def _mbn(embs):
        # Self-contained: executors don't have the repo on sys.path.
        import numpy as np
        import pandas as pd

        if len(embs) == 0:
            return pd.DataFrame(
                {
                    "buckets": pd.Series([], dtype="object"),
                    "nrm": pd.Series([], dtype="float64"),
                }
            )

        P = np.array([p for band in bandmats for p in band])  # (B·P, D)
        A = np.vstack(embs.to_numpy()).astype(np.float64)  # (n, D)
        n_rows, dim = A.shape
        dots = np.zeros((n_rows, P.shape[0]))
        nrm2 = np.zeros(n_rows)
        for d in range(dim):  # sequential in d == the left fold
            col = A[:, d]
            dots += np.outer(col, P[:, d])
            nrm2 += col * col
        bits = dots > 0
        weights = 1 << np.arange(planes_per)
        per_band = [
            (bits[:, b * planes_per : (b + 1) * planes_per] @ weights).astype("int32")
            for b in range(n_bands)
        ]
        stacked = np.stack(per_band, axis=1)  # (n, B)
        return pd.DataFrame({"buckets": list(stacked), "nrm": np.sqrt(nrm2)})

    return _mbn(F.col("embedding"))


# -- queries -------------------------------------------------------------------
@register(
    "sim_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe, {sql_norm('embedding')} AS qn
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS cid, embedding AS ce, {sql_norm('embedding')} AS cn
          FROM embeddings WHERE vec_id >= 5),
    scored AS (
      SELECT qid, cid, {sql_cosine_pre('qe', 'ce', 'qn', 'cn')} AS score
      FROM q CROSS JOIN c),
    ranked AS (
      SELECT qid, cid, score,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
      FROM scored)
    SELECT qid, cid, score FROM ranked WHERE rn <= {TOP_K}
    """,
)
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query vectors, scan candidates
    once, per-query top-k via window. The exact-search baseline ANN variants
    are judged against."""
    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"),
        norm(F.col("embedding")).alias("qn"),
    )
    c = em.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"),
        norm(F.col("embedding")).alias("cn"),
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid", "cid",
        cosine_pre(F.col("qe"), F.col("ce"), F.col("qn"), F.col("cn")).alias("score"),
    )
    w = W.partitionBy("qid").orderBy(F.col("score").desc(), "cid")
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= TOP_K).select(
        "qid", "cid", "score"
    )


@register(
    "ann_lsh_topk",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, {sql_lsh_bucket('embedding')} AS bucket,
             {sql_norm('embedding')} AS nrm
      FROM embeddings),
    q AS (SELECT vec_id AS qid, embedding AS qe, bucket, nrm AS qn FROM b WHERE vec_id < 5),
    c AS (SELECT vec_id AS cid, embedding AS ce, bucket, nrm AS cn FROM b WHERE vec_id >= 5),
    scored AS (
      SELECT q.qid, c.cid, {sql_cosine_pre('q.qe', 'c.ce', 'q.qn', 'c.cn')} AS score
      FROM q JOIN c ON q.bucket = c.bucket),
    ranked AS (
      SELECT qid, cid, score,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
      FROM scored)
    SELECT qid, cid, score FROM ranked WHERE rn <= {TOP_K}
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: random-hyperplane signature as bucket id, equi-join
    queries to candidates in the same bucket, top-k within. Cross join →
    bucket equi-join is the 1000×-scale move; the signature projection is
    map-side only."""
    em = load_table(spark, sf_dir, "embeddings")
    # Signature-table materialization (one Arrow pass feeds both join
    # sides) — the same pattern as dedup_minhash's hashed-shingle persist.
    b = managed_persist(em.select(
        "vec_id", "embedding", bucket_norm_udf().alias("bn")
    ).select(
        "vec_id", "embedding",
        F.col("bn.bucket").alias("bucket"), F.col("bn.nrm").alias("nrm"),
    ))
    q = b.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"), "bucket",
        F.col("nrm").alias("qn"),
    )
    c = b.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"), "bucket",
        F.col("nrm").alias("cn"),
    )
    scored = c.join(F.broadcast(q), "bucket").select(
        "qid", "cid",
        cosine_pre(F.col("qe"), F.col("ce"), F.col("qn"), F.col("cn")).alias("score"),
    )
    w = W.partitionBy("qid").orderBy(F.col("score").desc(), "cid")
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= TOP_K).select(
        "qid", "cid", "score"
    )


@register(
    "embed_knn",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding, label, {sql_norm('embedding')} AS nrm FROM embeddings),
    pairs AS (
      SELECT a.vec_id, b.vec_id AS nn_id, a.label AS label, b.label AS nn_label,
             {sql_cosine_pre('a.embedding', 'b.embedding', 'a.nrm', 'b.nrm')} AS score
      FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id),
    ranked AS (
      SELECT vec_id, nn_id, nn_label, score,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, nn_id) AS rn
      FROM pairs)
    SELECT vec_id, nn_id, nn_label, score FROM ranked WHERE rn = 1
    """,
)
def embed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style 1-NN: the label column acts as the coarse quantization cell
    (candidates share the cell), so the pair count is Σ|cell|² instead of
    n² — the inverted-file trick at 100 TB, where cells come from k-means.

    Each cell is scored inside ``applyInPandas``: vectorized across pairs in
    numpy while looping the DIM axis sequentially, which reproduces the
    engine-standard left-fold dot product bit-for-bit (a BLAS matmul would
    be faster still, but its pairwise summation reorders the adds). Only the
    raw vectors cross Arrow — O(n·d) in, O(n) out; the O(|cell|²) score
    matrix lives entirely inside the batch. This replaces a 400k-row
    pair-join + window top-k whose per-pair interpreted folds dominated the
    plan (~5× slower) at sf0.1."""
    em = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")

    def knn_cell(pdf):
        # Imports + logic fully inside the closure: executor workers don't
        # have the repo on sys.path (driver contract), so serialize by value.
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id", kind="mergesort").reset_index(drop=True)
        n_rows = len(pdf)
        if n_rows < 2:
            return pd.DataFrame(
                {"vec_id": [], "nn_id": [], "nn_label": [], "score": []}
            ).astype({"vec_id": "int64", "nn_id": "int64", "nn_label": "int32", "score": "float64"})
        A = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        labels = pdf["label"].to_numpy()
        # Left-fold pairwise dots: acc[i,j] += A[i,d]*A[j,d] in d order —
        # identical add order to F.aggregate / DuckDB LIST_REDUCE.
        acc = np.zeros((n_rows, n_rows))
        for d in range(A.shape[1]):
            col = A[:, d]
            acc += np.outer(col, col)
        nrm = np.sqrt(np.diag(acc))
        score = acc / np.outer(nrm, nrm)
        np.fill_diagonal(score, -np.inf)  # a.vec_id <> b.vec_id
        # argmax returns the FIRST max; rows are vec_id-sorted, so ties
        # resolve to the smallest nn_id — the oracle's (score DESC, nn_id).
        best = np.argmax(score, axis=1)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "nn_id": ids[best],
                "nn_label": labels[best],
                "score": score[np.arange(n_rows), best],
            }
        )

    return em.groupBy("label").applyInPandas(
        knn_cell, schema="vec_id bigint, nn_id bigint, nn_label int, score double"
    )


# Per-LSH-bucket cardinality cap for the pair join below: the in-bucket
# pair count is quadratic in bucket size, and a degenerate corpus
# (thousands of byte-identical embeddings → identical signature → one
# bucket) would concentrate n²/2 cosine evaluations on one reducer row.
# Capped buckets are dropped from PAIR generation (mirrored in the
# oracle). Honest recall statement: a dropped bucket can contain
# NEAR-identical, non-byte-identical vectors whose genuine >=threshold
# pairs are lost — dedup_embedding_exact's linear pass recovers only the
# byte-identical portion. Two things keep that loss confined to degenerate
# near-duplicate cliques (where pair-level output is the wrong granularity
# anyway): (1) the plane count scales with corpus size (n_planes_for), so
# the EXPECTED bucket size stays ~32 at any n and an over-cap bucket is
# always a >=8x-expected anomaly, never an ordinary bucket — with a fixed
# 8-bit signature, every bucket would exceed the cap past ~65k vectors and
# recall would silently collapse at exactly the scale the docstrings
# target; (2) with n_bands > 1, a pair dropped in one band's degenerate
# bucket keeps its candidacy in every other band.
EMBED_BUCKET_CAP = 256


@register(
    "dedup_embedding_exact",
    oracle="""
    SELECT CAST(MIN(vec_id) AS BIGINT) AS keep_vec_id,
           COUNT(*) AS n_copies
    FROM embeddings GROUP BY embedding
    """,
)
def dedup_embedding_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding dedup: hash-groupBy on the raw float vector, keep
    the smallest vec_id. The linear pass that owns byte-identical
    embeddings (re-ingested shards, repeated documents) so the bucketed
    cosine pass never sees them — one shuffle on the vector value, group
    cardinality ≈ distinct embeddings at any scale. Float equality is
    byte equality on both engines (both read the same parquet floats, no
    arithmetic), so the grouping is deterministic cross-engine."""
    em = load_table(spark, sf_dir, "embeddings")
    return em.groupBy("embedding").agg(
        F.min("vec_id").alias("keep_vec_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("keep_vec_id", "n_copies")


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, {sql_lsh_bucket('embedding')} AS bucket,
             {sql_norm('embedding')} AS nrm
      FROM embeddings),
    kept AS (SELECT bucket FROM b GROUP BY bucket
             HAVING COUNT(*) BETWEEN 2 AND {EMBED_BUCKET_CAP})
    SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
           {sql_cosine_pre('a.embedding', 'c.embedding', 'a.nrm', 'c.nrm')} AS score
    FROM b a JOIN kept k ON a.bucket = k.bucket
    JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE {sql_cosine_pre('a.embedding', 'c.embedding', 'a.nrm', 'c.nrm')} >= 0.3
    """,
)
def dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, threshold: float = 0.3, n_bands: int = 1
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs among same-bucket candidates —
    the semantic-dedup step of a training pipeline; bucketing bounds the
    pair explosion exactly as in ann_lsh_topk, and any single bucket is
    bounded at EMBED_BUCKET_CAP members (cap mirrored in the oracle's
    HAVING; see the cap comment above for the honest recall statement).

    Scale levers: the signature width grows log2 with the corpus
    (n_planes_for — one metadata-only parquet count chooses it), so the
    bucket space tracks corpus size and the cap never trims ordinary
    buckets; ``n_bands`` adds independent plane bands (minhash-style OR
    construction) to buy back the per-pair recall that longer signatures
    cost — candidates union across bands, exact-deduped on the
    deterministic (pair, score). At fixture scale this degenerates to
    exactly one band of the base 8 planes, so the oracle is unchanged.

    ``threshold`` defaults to 0.3 for the fixture contract: the synthetic
    embeddings are near-orthogonal (max in-bucket cosine ~0.51 at sf0.01),
    so the production-typical ~0.95 cutoff would make the driver check
    vacuously green on an empty result set (the round-1 lesson). Real
    semantic dedup passes ~0.95 here; the plan is identical either way."""
    em = load_table(spark, sf_dir, "embeddings")
    planes_per = n_planes_for(em.count())  # count() is parquet metadata-only
    pool = planes_pool(planes_per * n_bands)
    bands = [pool[i * planes_per : (i + 1) * planes_per] for i in range(n_bands)]
    # Signature-table materialization (one Arrow pass computes ALL bands'
    # buckets and feeds both join sides) — the same pattern as
    # dedup_minhash's hashed-shingle persist.
    sig = managed_persist(em.select(
        "vec_id", "embedding", multiband_bucket_norm_udf(bands).alias("bn")
    ).select(
        "vec_id", "embedding",
        F.col("bn.buckets").alias("buckets"), F.col("bn.nrm").alias("nrm"),
    ))
    per_band = []
    for bi in range(n_bands):
        b = sig.select(
            "vec_id", "embedding", F.col("buckets")[bi].alias("bucket"), "nrm"
        )
        kept = (
            b.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter((F.col("n") >= 2) & (F.col("n") <= EMBED_BUCKET_CAP))
            .select("bucket")
        )
        # Semi-join, NOT a pinned broadcast: the valid-bucket list grows
        # ~n/2 with the corpus (single long column — hundreds of MB at
        # 10^9 vectors), so the hint is left to AQE, which broadcasts it
        # at fixture scale and shuffles past the threshold (r5 verdict).
        a = b.join(kept, "bucket", "semi").select(
            F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), "bucket",
            F.col("nrm").alias("na"),
        )
        c = b.select(
            F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"),
            F.col("bucket").alias("bucket2"), F.col("nrm").alias("nb"),
        )
        per_band.append(
            a.join(c, (a.bucket == c.bucket2) & (a.vec_a < c.vec_b))
            .select(
                "vec_a", "vec_b",
                cosine_pre(
                    F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")
                ).alias("score"),
            )
            .filter(F.col("score") >= threshold)
        )
    out = per_band[0]
    for p in per_band[1:]:
        out = out.unionByName(p)
    if n_bands > 1:
        # score is a deterministic fold of the same floats in every band,
        # so DISTINCT on (pair, score) is an exact cross-band dedup.
        out = out.distinct()
    return out


@register(
    "dedup_embedding_banded",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {sql_lsh_bucket('embedding', 0)} AS bucket0,
             {sql_lsh_bucket('embedding', 1)} AS bucket1,
             {sql_norm('embedding')} AS nrm
      FROM embeddings),
    kept0 AS (SELECT bucket0 FROM b GROUP BY bucket0
              HAVING COUNT(*) BETWEEN 2 AND {EMBED_BUCKET_CAP}),
    kept1 AS (SELECT bucket1 FROM b GROUP BY bucket1
              HAVING COUNT(*) BETWEEN 2 AND {EMBED_BUCKET_CAP}),
    p0 AS (
      SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
             {sql_cosine_pre('a.embedding', 'c.embedding', 'a.nrm', 'c.nrm')} AS score
      FROM b a JOIN kept0 k ON a.bucket0 = k.bucket0
      JOIN b c ON a.bucket0 = c.bucket0 AND a.vec_id < c.vec_id
      WHERE {sql_cosine_pre('a.embedding', 'c.embedding', 'a.nrm', 'c.nrm')} >= 0.3),
    p1 AS (
      SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
             {sql_cosine_pre('a.embedding', 'c.embedding', 'a.nrm', 'c.nrm')} AS score
      FROM b a JOIN kept1 k ON a.bucket1 = k.bucket1
      JOIN b c ON a.bucket1 = c.bucket1 AND a.vec_id < c.vec_id
      WHERE {sql_cosine_pre('a.embedding', 'c.embedding', 'a.nrm', 'c.nrm')} >= 0.3)
    SELECT vec_a, vec_b, score FROM p0
    UNION
    SELECT vec_a, vec_b, score FROM p1
    """,
)
def dedup_embedding_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded OR-construction of :func:`dedup_embedding_cosine` as its
    own oracle-verified query (two bands): band 1 uses the next 8 planes
    of the seeded pool, candidates union across bands, and the cross-band
    DISTINCT is exact because the cosine is a deterministic left fold of
    the same floats in every band. This registers the recall-recovery
    path itself — not just the single-band degenerate — against the
    DuckDB oracle's UNION of per-band pair sets."""
    return dedup_embedding_cosine(spark, sf_dir, n_bands=2)


IVF_K = 16
IVF_NPROBE = 4


def _guard_finite_cents(cents: "list[list[float]]", opname: str) -> None:
    """Non-finite components (a corrupt embedding) would render as 'nan'/
    'inf' — unparseable as SQL double literals — so the literal splice
    would fail with a parse error far from the cause. Fail loudly at the
    source instead (ADVICE r9)."""
    import math

    for row in cents:
        for v in row:
            if not math.isfinite(v):
                raise ValueError(
                    f"{opname}: non-finite centroid component {v!r} — "
                    "corrupt embedding"
                )


def _rank_cells_udf(cents: "list[list[float]]"):
    """Per-row cell ranking by (d2-to-centroid, cell) as an Arrow
    ``pandas_udf`` returning the K cells sorted nearest-first.

    History: r9 built the K×D distance fold as one SQL string
    (``aggregate(zip_with(...))`` per cell) because composing it from
    F.lit/F.struct cost a py4j round trip per node (~1.1 s per call
    site). r11 measurement showed the SQL-string tree still pays ~0.7 s
    of FIXED analysis/optimization machinery per execution (size-
    independent: 0.7 s at n=500 and 0.98 s at n=2000) because every
    Lloyd round re-plans a fresh 16×64-literal tree. The udf closes over
    the centroid matrix instead — a tiny constant plan — and reproduces
    the fold BIT-EXACTLY: per cell, d2 accumulates over dims in array
    order (acc = acc + (x−c)·(x−c), doubles, same IEEE sequence as the
    SQL left fold with 0.0 init), and the ranking is a STABLE argsort on
    d2, which equals the oracle's ORDER BY d2, cell tiebreak (cells are
    generated in index order). float32 embedding elements upcast to
    double exactly on both paths."""
    cmat = [list(map(float, c)) for c in cents]

    @F.pandas_udf("array<int>")
    def rank_cells(embs):
        # Self-contained: executors don't have the repo on sys.path.
        import numpy as np
        import pandas as pd  # noqa: F811

        if len(embs) == 0:
            return pd.Series([], dtype=object)
        X = np.array(embs.tolist(), dtype=np.float64)
        n = X.shape[0]
        K, D = len(cmat), len(cmat[0])
        d2 = np.empty((n, K), dtype=np.float64)
        for c in range(K):
            cc = cmat[c]
            acc = np.zeros(n, dtype=np.float64)
            for j in range(D):
                diff = X[:, j] - cc[j]
                acc = acc + diff * diff  # sequential-dim fold order
            d2[:, c] = acc
        order = np.argsort(d2, axis=1, kind="stable").astype(np.int32)
        return pd.Series(list(order))

    return rank_cells


def _ivf_probe_topk(em: DataFrame, cents: "list[list[float]]") -> DataFrame:
    """The shared IVF serve path: assign every vector to its nearest cell,
    probe the IVF_NPROBE nearest cells per query (vec_id < 5), brute-force
    only those candidate lists, top-k by (score DESC, cid). Cell
    assignment is a map-side projection — K left-fold distances per row
    folded through ``array_min`` on (d2, cell) structs, which reproduces
    the oracle's window-ordering tiebreak without shuffling the n×K cross
    join a window would need."""
    rank = _rank_cells_udf(cents)(F.col("embedding"))
    cells = em.select(
        "vec_id", "embedding",
        norm(F.col("embedding")).alias("nrm"),
        F.element_at(rank, 1).alias("cell"),
    )
    qp = (
        em.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("qid"),
            F.explode(F.slice(rank, 1, IVF_NPROBE)).alias("cell"),
        )
    )
    q = cells.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    cand = (
        cells.filter(F.col("vec_id") >= 5)
        .join(F.broadcast(qp), "cell")
        .join(F.broadcast(q), "qid")
    )
    scored = cand.select(
        "qid",
        F.col("vec_id").alias("cid"),
        cosine_pre(
            F.col("qe"), F.col("embedding"), F.col("qn"), F.col("nrm")
        ).alias("score"),
    )
    w = W.partitionBy("qid").orderBy(F.col("score").desc(), "cid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "cid", "score")
    )


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH cent AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS ce
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {IVF_K})),
    asg AS (
      SELECT e.vec_id, e.embedding, {sql_norm('e.embedding')} AS nrm, c.cell,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {sql_d2_exact('e.embedding', 'c.ce')}, c.cell) AS rn
      FROM embeddings e CROSS JOIN cent c),
    cells AS (SELECT vec_id, embedding, nrm, cell FROM asg WHERE rn = 1),
    probe AS (
      SELECT e.vec_id AS qid, c.cell,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {sql_d2_exact('e.embedding', 'c.ce')}, c.cell) AS rn
      FROM embeddings e CROSS JOIN cent c
      WHERE e.vec_id < 5),
    q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn
          FROM cells WHERE vec_id < 5),
    scored AS (
      SELECT p.qid, k.vec_id AS cid,
             {sql_cosine_pre('q.qe', 'k.embedding', 'q.qn', 'k.nrm')} AS score
      FROM probe p
      JOIN cells k ON k.cell = p.cell AND k.vec_id >= 5
      JOIN q ON q.qid = p.qid
      WHERE p.rn <= {IVF_NPROBE}),
    ranked AS (
      SELECT qid, cid, score,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
      FROM scored)
    SELECT qid, cid, score FROM ranked WHERE rn <= {TOP_K}
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with FIXED coarse centroids (the K lowest vec_ids): build the
    inverted file by nearest-centroid assignment, probe the NPROBE nearest
    cells per query, brute-force only those candidate lists.

    Fixed centroids make the whole operator deterministic and
    SQL-expressible, so the driver hash-checks it like any other op (the
    learned-centroid variant, :func:`ann_ivf_topk_learned`, keeps the
    2-round Lloyd refinement and is recall-gated in pytest instead).

    Scale plan: the K×D centroid matrix is collected once (tiny) and
    embedded as double literals, so cell assignment is a map-side
    projection — K left-fold distances per row folded through ``array_min``
    on (d2, cell) structs, which reproduces the oracle's (d2, cell)
    window-ordering tiebreak without shuffling the n×K cross join a window
    would need. Probing is the same expression on the 5 query rows; only
    the probed cells' candidates reach the top-k window."""
    em = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    # K lowest vec_ids as centroids: K×D floats to the driver, embedded as
    # exact double literals (float32 → double widening is lossless, and
    # Python float repr round-trips, so Spark and DuckDB fold identical
    # IEEE doubles).
    cents = [
        [float(v) for v in r.embedding]
        for r in em.orderBy("vec_id").limit(IVF_K).collect()
    ]
    if not cents:
        # Empty corpus: no centroids to build an inverted file from — a
        # well-typed empty result, not an IndexError (zero-row sources are
        # a live-deployment reality, and the oracle is empty too).
        return spark.createDataFrame([], "qid bigint, cid bigint, score double")
    _guard_finite_cents(cents, "ann_ivf_topk")
    # A corpus smaller than IVF_K still defines that many real cells; the
    # serve path (assignment, probing, top-k) is shared with the learned
    # variant — see _ivf_probe_topk.
    return _ivf_probe_topk(em, cents)


IVF_ITERS = 2


def _sql_lloyd(i: int) -> str:
    """One unrolled Lloyd refinement as DuckDB CTE fragments: assignment
    ``a{i}`` vs centroids ``c{i-1}`` (ties to the lowest cell), quantized
    per-(cell, pos) means ``s{i}``, and the refined centroid lists
    ``c{i}`` (a cell that attracted no vectors keeps its previous
    centroid). Element contributions are floored to integer micro-units
    BEFORE the cross-row sum, so the mean is order-independent and
    bit-identical across engines — the ``embed_label_centroids`` trick
    driving an iterative algorithm."""
    return f"""
    a{i} AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {sql_d2_exact('e.embedding', 'c.ce')}, c.cell) AS rn
        FROM embeddings e CROSS JOIN c{i - 1} c) WHERE rn = 1),
    s{i} AS (
      SELECT cell, pos,
             CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 1000000.0) AS comp
      FROM (
        SELECT a.cell,
               UNNEST(RANGE(0, LEN(e.embedding))) AS pos,
               UNNEST(LIST_TRANSFORM(e.embedding,
                 x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)))
                 AS q
        FROM a{i} a JOIN embeddings e USING (vec_id))
      GROUP BY cell, pos),
    c{i} AS (
      SELECT p.cell, COALESCE(n.ce, p.ce) AS ce
      FROM c{i - 1} p LEFT JOIN
           (SELECT cell, LIST(comp ORDER BY pos) AS ce
            FROM s{i} GROUP BY cell) n
      USING (cell))"""


@register(
    "ann_ivf_learned",
    oracle=f"""
    WITH c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell,
             LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS ce
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id LIMIT {IVF_K})),
    {_sql_lloyd(1).strip()},
    {_sql_lloyd(2).strip()},
    asg AS (
      SELECT e.vec_id, e.embedding, {sql_norm('e.embedding')} AS nrm, c.cell,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {sql_d2_exact('e.embedding', 'c.ce')}, c.cell) AS rn
      FROM embeddings e CROSS JOIN c2 c),
    cells AS (SELECT vec_id, embedding, nrm, cell FROM asg WHERE rn = 1),
    probe AS (
      SELECT e.vec_id AS qid, c.cell,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {sql_d2_exact('e.embedding', 'c.ce')}, c.cell) AS rn
      FROM embeddings e CROSS JOIN c2 c
      WHERE e.vec_id < 5),
    q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn
          FROM cells WHERE vec_id < 5),
    scored AS (
      SELECT p.qid, k.vec_id AS cid,
             {sql_cosine_pre('q.qe', 'k.embedding', 'q.qn', 'k.nrm')} AS score
      FROM probe p
      JOIN cells k ON k.cell = p.cell AND k.vec_id >= 5
      JOIN q ON q.qid = p.qid
      WHERE p.rn <= {IVF_NPROBE}),
    ranked AS (
      SELECT qid, cid, score,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
      FROM scored)
    SELECT qid, cid, score FROM ranked WHERE rn <= {TOP_K}
    """,
)
def ann_ivf_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with LEARNED coarse centroids: IVF_ITERS Lloyd iterations of
    k-means (K=16, deterministic lowest-vec_id init) build the inverted
    file, then the shared serve path probes the 4 nearest cells per query
    and brute-forces only those candidate lists (:func:`_ivf_probe_topk`).

    What makes an ITERATIVE algorithm driver-hash-checkable (r9 verdict
    item 6 graduated this from a pytest-gated library fn): each Lloyd mean
    quantizes element contributions to integer micro-units BEFORE the
    cross-row sum, so the refined centroid is order-independent and
    bit-identical in Spark and DuckDB (raw double sums drift on the last
    ulp at every repartitioning); the division back to a double is a
    single IEEE op both engines spell identically. The oracle unrolls the
    same two refinements as CTEs (:func:`_sql_lloyd`).

    Scale plan: per iteration, assignment is the same map-side K-literal
    fold the fixed-centroid op uses (no shuffle for the n×K distance
    matrix), and the refit is ONE partial+final hash aggregate on (cell,
    pos) — K·D groups, so the driver collects exactly K·D sums per round
    (1024 numbers here) regardless of corpus size; the vectors never
    leave the executors. That is the canonical distributed k-means round
    (sums to the coordinator, never points)."""
    em = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = _lloyd_centroids(em, "ann_ivf_learned")
    if cents is None:
        # Empty corpus: nothing to train on — well-typed empty result,
        # matching the oracle.
        return spark.createDataFrame([], "qid bigint, cid bigint, score double")
    return _ivf_probe_topk(em, cents)


def _lloyd_stats_fn(cents: "list[list[float]]"):
    """One fused Arrow pass per Lloyd round (r13, guide §4.2/§2.3): assign
    each vector to its nearest cell AND fold the integer-quantized
    per-(cell, pos) element sums inside the same ``mapInPandas`` batch
    loop, emitting ≤ K·D partial rows per batch — the posexplode of
    n×D rows and the wide DECIMAL partial aggregate it fed are gone from
    the plan; per-task output is the same K·D census the old partial agg
    shipped, so shuffle volume is unchanged and only per-task work drops.

    Bit-exactness vs the previous plan (and hence vs the oracle's
    unrolled CTEs): the d2 fold is the ``_rank_cells_udf`` loop verbatim
    (sequential-dim ``acc + diff·diff`` in float64 — the SQL left fold's
    IEEE sequence), ``np.argmin`` picks the FIRST minimum = the stable
    argsort's head = the oracle's ORDER BY d2, cell tiebreak;
    ``np.floor(X * 1e6)`` is the same two IEEE ops as
    ``FLOOR(CAST(x AS DOUBLE) * 1000000.0)``; and the int64 batch sums
    are exact (|q| ≤ ~1e7 per element, ≤ 10k rows per Arrow batch —
    far under 2⁶³) and order-free, so the final DECIMAL re-aggregation
    reproduces the old element-level sum exactly."""
    cmat = [list(map(float, c)) for c in cents]
    scale = float(_CENTROID_SCALE)  # closure-bound: ships by value

    def assign_stats(batches):
        # Self-contained: executors don't have the repo on sys.path.
        import numpy as np
        import pandas as pd

        K, D = len(cmat), len(cmat[0])
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            if not np.isfinite(X).all():
                # Loud-failure policy (mirrors _guard_finite_cents): a
                # NaN/inf element would silently wrap in the int64 cast
                # below and corrupt the centroid sums; the old SQL path
                # turned NaN into NULL, which silently DROPPED the
                # element — neither is acceptable at the 100 TB
                # dirty-data design point, so name the corruption.
                raise ValueError(
                    "lloyd assign_stats: non-finite embedding element "
                    "(NaN/inf) in batch — corpus embeddings must be "
                    "finite"
                )
            n = X.shape[0]
            d2 = np.empty((n, K), dtype=np.float64)
            for c in range(K):
                cc = cmat[c]
                acc = np.zeros(n, dtype=np.float64)
                for j in range(D):
                    diff = X[:, j] - cc[j]
                    acc = acc + diff * diff  # sequential-dim fold order
                d2[:, c] = acc
            cell = np.argmin(d2, axis=1)  # first min = lowest cell on ties
            q = np.floor(X * scale).astype(np.int64)
            sums = np.zeros((K, D), dtype=np.int64)
            np.add.at(sums, cell, q)
            counts = np.bincount(cell, minlength=K)
            hit = np.flatnonzero(counts)
            yield pd.DataFrame(
                {
                    "cell": np.repeat(hit, D).astype(np.int32),
                    "pos": np.tile(np.arange(D, dtype=np.int32), len(hit)),
                    "s": sums[hit].reshape(-1),
                    "n": np.repeat(counts[hit], D),
                }
            )

    return assign_stats


def _lloyd_centroids(em: DataFrame, opname: str) -> "list[list[float]] | None":
    """The shared IVF coarse-quantizer trainer: IVF_ITERS Lloyd iterations
    of k-means (K=IVF_K, deterministic lowest-vec_id init) over integer-
    quantized element sums — the iteration ``ann_ivf_learned``'s docstring
    derives; ``embed_dedup_semantic`` composes the same learned cells into
    its SemDeDup candidate structure (shared code, so the two ops' cell
    geometry cannot drift). Returns None on an empty corpus. Each round
    is ONE fused Arrow pass over the embedding column only
    (:func:`_lloyd_stats_fn`) plus a K·D-group final aggregate — the
    driver still sees exactly K·D sums per round, never vectors."""
    # One NULL/empty-skipping frame feeds both the init rows and the Lloyd
    # pass, so a dirty row among the lowest vec_ids cannot crash the init.
    # The explicit isNotNull conjunct matters: size() is the legacy
    # null-tolerant form (returns -1 on NULL), so alone it filters NULLs
    # but gives the scan nothing to push; isnotnull reaches PushedFilters.
    clean = em.filter(F.col("embedding").isNotNull() & (F.size("embedding") > 0))
    cents = [
        [float(v) for v in r.embedding]
        for r in clean.orderBy("vec_id").limit(IVF_K).collect()
    ]
    if not cents:
        return None
    _guard_finite_cents(cents, opname)
    # Prune columns below the opaque pass (§4.1) AND restore the
    # null/empty-embedding skip the r13 mapInPandas rewrite lost: the old
    # posexplode plan let Catalyst derive `Filter (size(embedding) > 0 AND
    # isnotnull)` + `PushedFilters: [IsNotNull(embedding)]` at the scan, so
    # NULL/empty rows were skipped; the fused pass would instead crash on
    # `np.array(...tolist())` (ragged/None). Skip-semantics are the
    # contract (pinned by test_lloyd_null_embedding_rows_are_skipped); a
    # non-finite ELEMENT inside a well-formed vector still fails loudly in
    # assign_stats.
    emb_only = clean.select("embedding")
    for _ in range(IVF_ITERS):
        stats = (
            emb_only.mapInPandas(
                _lloyd_stats_fn(cents), "cell int, pos int, s long, n long"
            )
            .groupBy("cell", "pos")
            .agg(
                # DECIMAL re-aggregation of exact int64 partials: overflow-
                # safe past 10^12 vectors, same as the old element sum.
                F.sum(F.col("s").cast("decimal(38,0)")).alias("s"),
                F.sum("n").alias("n"),
            )
            .collect()
        )
        new = [list(c) for c in cents]
        for r in stats:
            # Exact: the decimal sum converts to double losslessly below
            # 2^53 (|element| ~ O(1) => micro-unit sums ~ 1e6 * |cell|),
            # and the single division is the same IEEE op DuckDB runs.
            new[r.cell][r.pos] = int(r.s) / (int(r.n) * _CENTROID_SCALE)
        cents = new
        _guard_finite_cents(cents, opname)
    return cents


# Element quantization for cross-engine-exact centroid sums: micro-units
# (floor(x * 1e6)) make the per-element contribution an INTEGER, so the
# cross-row sum is order-independent — the decimal-sum trick specialized
# to embeddings (cross-row double aggregation is the one float operation
# that is NOT deterministic across partitionings; see operators/exact.py).
_CENTROID_SCALE = 1_000_000.0


@register(
    "embed_label_centroids",
    oracle=f"""
    WITH e AS (
      SELECT label,
             UNNEST(RANGE(0, LEN(embedding))) AS pos,
             UNNEST(LIST_TRANSFORM(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_CENTROID_SCALE}) AS BIGINT)))
               AS q
      FROM embeddings)
    SELECT label, CAST(pos AS INTEGER) AS pos,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(q) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * {_CENTROID_SCALE}) AS centroid
    FROM e GROUP BY label, pos
    ORDER BY label, pos
    """,
)
def embed_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding space, one row per (label,
    dimension) — the building block of k-means/IVF training, nearest-
    class-mean classification, and embedding-drift monitoring between
    ingest batches. Elements are quantized to integer micro-units BEFORE
    the cross-row sum so the aggregation is order-independent and
    bit-identical across engines AND across AQE repartitionings — a raw
    double SUM would drift on the last ulp at every partition-count
    change (the failure mode operators/exact.py exists for).

    Plan: posexplode is a map-side projection (rows × dim, no shuffle);
    one partial+final hash aggregate on (label, pos) — |labels|·dim
    groups, so each task ships at most that census regardless of corpus
    size; sums are DECIMAL(38,0)-accumulated (overflow-safe past 10^12
    vectors, where a BIGINT micro-unit sum would wrap). The output
    division is a single IEEE expression per row."""
    e = load_table(spark, sf_dir, "embeddings")
    q = F.floor(F.col("x").cast("double") * F.lit(_CENTROID_SCALE)).cast(
        "decimal(38,0)"
    )
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "x"))
        .select("label", "pos", q.alias("q"))
        .groupBy("label", "pos")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("q").alias("sum_q"))
        .select(
            "label",
            F.col("pos").cast("int").alias("pos"),
            "n",
            (
                F.col("sum_q").cast("double")
                / (F.col("n").cast("double") * F.lit(_CENTROID_SCALE))
            ).alias("centroid"),
        )
        .orderBy("label", "pos")
    )


@register(
    "knn_label_purity",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, label, embedding, {sql_lsh_bucket('embedding')} AS bucket,
             {sql_norm('embedding')} AS nrm
      FROM embeddings),
    scored AS (
      SELECT a.vec_id, a.label,
             c.label AS n_label,
             {sql_cosine_pre('a.embedding', 'c.embedding', 'a.nrm', 'c.nrm')}
               AS score,
             c.vec_id AS cid
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id),
    ranked AS (
      SELECT vec_id, label, n_label,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY score DESC, cid) AS rn
      FROM scored),
    per_vec AS (
      SELECT vec_id, label,
             CAST(COUNT(*) AS BIGINT) AS n_neighbors,
             CAST(SUM(CASE WHEN n_label = label THEN 1 ELSE 0 END) AS BIGINT)
               AS n_same
      FROM ranked WHERE rn <= {TOP_K} GROUP BY vec_id, label)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_scored,
           CAST(SUM(n_neighbors) AS BIGINT) AS n_neighbors,
           CAST(SUM(n_same) AS BIGINT) AS n_same,
           CAST(SUM(n_same) AS DOUBLE) / CAST(SUM(n_neighbors) AS DOUBLE)
             AS purity
    FROM per_vec GROUP BY label ORDER BY label
    """,
)
def knn_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space label coherence: every vector's 3 nearest
    LSH-bucket-mates are checked for label agreement, aggregated to a
    per-label purity score — the QA metric behind "are these embeddings
    good enough to train a classifier / route by?" (purity near 1/|labels|
    = the space carries no label signal; near 1.0 = clean clusters).

    Plan: the signature projection is one Arrow pass feeding BOTH sides of
    a bucket equi-join (the ann_lsh_topk contract: bucketing bounds the
    per-key fan-out and is mirrored exactly in the oracle — at larger
    corpora the signature widens via n_planes_for, similarity.py:55, so
    Σ|bucket|² stays linear); then a per-vector top-3 window, a per-vector
    census, and a |labels|-row final census. Counts are integers
    end-to-end; purity is ONE double division per output row."""
    em = load_table(spark, sf_dir, "embeddings")
    b = (
        managed_persist(
            em.select(
                "vec_id", "label", "embedding", bucket_norm_udf().alias("bn")
            ).select(
                "vec_id", "label", "embedding",
                F.col("bn.bucket").alias("bucket"),
                F.col("bn.nrm").alias("nrm"),
            )
        )
    )
    a = b.select(
        F.col("vec_id").alias("qid"), F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"), "bucket", F.col("nrm").alias("qn"),
    )
    c = b.select(
        F.col("vec_id").alias("cid"), F.col("label").alias("clabel"),
        F.col("embedding").alias("ce"), "bucket", F.col("nrm").alias("cn"),
    )
    scored = (
        a.join(c, "bucket")
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid", "qlabel", "clabel", "cid",
            cosine_pre(
                F.col("qe"), F.col("ce"), F.col("qn"), F.col("cn")
            ).alias("score"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.col("score").desc(), "cid")
    per_vec = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .groupBy("qid", "qlabel")
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.sum(
                F.when(F.col("clabel") == F.col("qlabel"), 1).otherwise(0)
            ).alias("n_same"),
        )
    )
    return (
        per_vec.groupBy(F.col("qlabel").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.sum("n_neighbors").alias("n_neighbors"),
            F.sum("n_same").alias("n_same"),
            (
                F.sum("n_same").cast("double")
                / F.sum("n_neighbors").cast("double")
            ).alias("purity"),
        )
        .orderBy("label")
    )


@register(
    "embed_drift_by_batch",
    oracle=f"""
    WITH e AS (
      SELECT STRPOS('0123456789abcdef',
                    SUBSTR(MD5(CAST(vec_id AS VARCHAR)), 1, 1)) - 1 AS batch,
             UNNEST(RANGE(0, LEN(embedding))) AS pos,
             UNNEST(LIST_TRANSFORM(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_CENTROID_SCALE}) AS BIGINT)))
               AS q
      FROM embeddings),
    bp AS (
      SELECT batch, pos,
             CAST(SUM(q) AS DECIMAL(38,0)) AS sq,
             CAST(COUNT(*) AS BIGINT) AS nb
      FROM e GROUP BY batch, pos),
    gp AS (
      SELECT pos, CAST(SUM(sq) AS DECIMAL(38,0)) AS gsq,
             CAST(SUM(nb) AS BIGINT) AS gn
      FROM bp GROUP BY pos)
    SELECT bp.batch,
           CAST(MAX(bp.nb) AS BIGINT) AS n_vecs,
           CAST(SUM(ABS(bp.sq * gp.gn - gp.gsq * bp.nb)) AS DOUBLE)
             / (CAST(MAX(bp.nb) AS DOUBLE) * CAST(MAX(gp.gn) AS DOUBLE)
                * {_CENTROID_SCALE}) AS l1_drift
    FROM bp JOIN gp ON gp.pos = bp.pos
    GROUP BY bp.batch
    ORDER BY bp.batch
    """,
)
def embed_drift_by_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift per ingest batch: the L1 distance between each
    batch's centroid and the corpus centroid (batches = the same
    deterministic md5-nibble 16-way split the incremental ingest ops
    use) — the monitoring table behind "the new crawl's embeddings moved;
    re-check the encoder / re-train the IVF centroids before routing with
    them".

    Determinism without float drift: per-(batch, dim) sums are integer
    micro-units (order-independent), the deviation |sq·N − gsq·n_b| stays
    an exact DECIMAL integer cross-multiplication (no per-dim division),
    the per-batch L1 numerator is an exact decimal SUM over dims, and
    exactly ONE double division happens per output row. Plan: posexplode
    map-side → (batch, pos) census (|batches|·dim groups, map-side
    partials — the only corpus-sized exchange) → global census derived
    from the batch census (1024 rows), pos-keyed join and final 16-row
    aggregate all census-sized."""
    from .pipeline import _b16_spark

    e = load_table(spark, sf_dir, "embeddings")
    q = F.floor(F.col("x").cast("double") * F.lit(_CENTROID_SCALE)).cast(
        "decimal(38,0)"
    )
    bp = (
        e.select(
            _b16_spark("vec_id").alias("batch"),
            F.posexplode("embedding").alias("pos", "x"),
        )
        .select("batch", "pos", q.alias("q"))
        .groupBy("batch", "pos")
        .agg(F.sum("q").alias("sq"), F.count(F.lit(1)).alias("nb"))
    )
    gp = bp.groupBy("pos").agg(
        F.sum("sq").alias("gsq"), F.sum("nb").alias("gn")
    )
    dev = F.abs(F.col("sq") * F.col("gn") - F.col("gsq") * F.col("nb"))
    return (
        bp.join(gp, "pos")
        .groupBy("batch")
        .agg(
            F.max("nb").alias("n_vecs"),
            (
                F.sum(dev).cast("double")
                / (
                    F.max("nb").cast("double")
                    * F.max("gn").cast("double")
                    * F.lit(_CENTROID_SCALE)
                )
            ).alias("l1_drift"),
        )
        .orderBy("batch")
    )


@register(
    "embed_recall_at_k",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, {sql_lsh_bucket('embedding')} AS bucket,
             {sql_norm('embedding')} AS nrm
      FROM embeddings),
    q AS (SELECT vec_id AS qid, embedding AS qe, bucket, nrm AS qn
          FROM b WHERE vec_id < 5),
    c AS (SELECT vec_id AS cid, embedding AS ce, bucket, nrm AS cn
          FROM b WHERE vec_id >= 5),
    exact_ranked AS (
      SELECT qid, cid FROM (
        SELECT q.qid, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY q.qid
                 ORDER BY {sql_cosine_pre('q.qe', 'c.ce', 'q.qn', 'c.cn')} DESC,
                          c.cid) AS rn
        FROM q CROSS JOIN c) WHERE rn <= {TOP_K}),
    ann_ranked AS (
      SELECT qid, cid FROM (
        SELECT q.qid, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY q.qid
                 ORDER BY {sql_cosine_pre('q.qe', 'c.ce', 'q.qn', 'c.cn')} DESC,
                          c.cid) AS rn
        FROM q JOIN c ON q.bucket = c.bucket) WHERE rn <= {TOP_K}),
    base AS (
      SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM exact_ranked GROUP BY qid),
    hits AS (
      SELECT e.qid, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM exact_ranked e JOIN ann_ranked a
        ON a.qid = e.qid AND a.cid = e.cid
      GROUP BY e.qid)
    SELECT base.qid, base.n_exact,
           CAST(COALESCE(hits.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(hits.n_hits, 0) AS DOUBLE)
             / CAST(base.n_exact AS DOUBLE) AS recall_at_k
    FROM base LEFT JOIN hits ON hits.qid = base.qid
    ORDER BY base.qid
    """,
)
def embed_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index-quality audit: recall@k of the LSH-bucketed search
    (`ann_lsh_topk`) against the exact brute-force baseline (`sim_topk`),
    per query. This is the evaluation gate every approximate index ships
    behind — "the cheap path returns X% of the true neighbors" — and it
    composes the two registered operators directly, so the number audited
    is the number served.

    Scale: the exact side costs one candidate scan per PROBE (the probe
    set is a bounded sample — 5 here, a few thousand in production —
    never the corpus), the ANN side is bucket-bounded, and everything
    downstream of the two top-k results is k·|probes|-sized. Recall
    audits at 100 TB run exactly this shape: sampled probes, full-scan
    truth for the sample only.

    Determinism: set membership only — both sides rank bit-identical
    left-fold cosines with a unique ``cid`` tie-break (the same ranking
    the two source operators' oracles verify), and recall is an exact
    integer count divided once."""
    exact = sim_topk(spark, sf_dir).select("qid", "cid")
    ann = ann_lsh_topk(spark, sf_dir).select("qid", "cid")
    base = exact.groupBy("qid").agg(F.count(F.lit(1)).alias("n_exact"))
    hits = (
        exact.join(ann, ["qid", "cid"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        base.join(hits, "qid", "left")
        .select(
            "qid",
            "n_exact",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.col("n_exact").cast("double")
            ).alias("recall_at_k"),
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the ANN family's memory-compression path.
# ---------------------------------------------------------------------------

PQ_M = 8        # subspaces
PQ_DSUB = DIM // PQ_M
PQ_KSUB = 16    # codewords per subspace (4-bit codes)


def _sql_sub_d2_dyn(a: str, ce: str, m: str, dsub: int = PQ_DSUB) -> str:
    """DuckDB mirror of :func:`_sub_d2_sql` with a dynamic subspace index
    expression ``m`` (same element order, same left fold)."""
    t = (
        f"(CAST({a}[({m}) * {dsub} + i + 1] AS DOUBLE) - "
        f"CAST({ce}[({m}) * {dsub} + i + 1] AS DOUBLE))"
    )
    return (
        f"LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE), "
        f"LIST_TRANSFORM(RANGE({dsub}), i -> {t} * {t})), "
        f"(acc, x) -> acc + x)"
    )


@register(
    "ann_pq_topk",
    oracle=f"""
    WITH cw AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, embedding AS ce
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id LIMIT {PQ_KSUB})),
    cwl AS (SELECT LIST(ce ORDER BY j) AS cws FROM cw),
    enc AS (
      SELECT vec_id, m, j FROM (
        SELECT e.vec_id, ms.m, c.j,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id, ms.m
                 ORDER BY {_sql_sub_d2_dyn('e.embedding', 'c.ce', 'ms.m')}, c.j)
                 AS rn
        FROM embeddings e
        CROSS JOIN (SELECT UNNEST(RANGE({PQ_M})) AS m) ms
        CROSS JOIN cw c
        WHERE e.vec_id >= 5)
      WHERE rn = 1),
    codes AS (SELECT vec_id, LIST(j ORDER BY m) AS codes FROM enc GROUP BY vec_id),
    scored AS (
      SELECT q.vec_id AS qid, d.vec_id AS cid,
             LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
               LIST_TRANSFORM(RANGE({PQ_M}), m ->
                 {_sql_sub_d2_dyn('q.embedding', '(cwl.cws[d.codes[m + 1] + 1])', 'm')})),
               (acc, x) -> acc + x) AS adc
      FROM embeddings q, codes d, cwl
      WHERE q.vec_id < 5),
    ranked AS (
      SELECT qid, cid, adc,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, cid) AS rn
      FROM scored)
    SELECT qid, cid, adc FROM ranked WHERE rn <= {TOP_K}
    """,
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou/Douze/Schmid PQ, asymmetric distance):
    the {DIM}-d vectors are split into {PQ_M} subspaces of {PQ_DSUB} dims;
    each DB vector is ENCODED as {PQ_M} 4-bit codes (nearest of {PQ_KSUB}
    fixed codewords per subspace — the codewords are the corresponding
    slices of the {PQ_KSUB} lowest-vec_id vectors, the same determinism
    device as ann_ivf_topk's fixed centroids); each query keeps its exact
    vector and scores candidates by ADC — the sum over subspaces of the
    query-slice-to-codeword distance looked up from a per-query {PQ_M}×
    {PQ_KSUB} table. Top-{TOP_K} per query by ADC distance.

    Scale plan — this is the 100 TB MEMORY story of the ANN family: codes
    are {PQ_M} small ints (4 bits each packable) vs {DIM}×4 B floats — a
    32× compression, so a corpus whose raw embeddings need a 25 TB cluster
    fits the codes in executor memory. Encoding and the per-query lookup
    tables run as ONE vectorized Arrow pass each (the subspace-distance
    tensor is numpy accumulations looping the dim axis sequentially — the
    engine-standard left-fold order of ``bucket_norm_udf``, so values are
    bit-identical to the HOF definition and the oracle; a first draft
    spelled the 8×16 codeword folds as interpreted ``aggregate`` HOFs and
    paid ~16 s at sf0.1 for what the Arrow pass does in ~0.3 s). The ADC
    scan reads ONLY the code columns (parquet column pruning drops the raw
    vectors), broadcasts the bounded query side with its precomputed
    lookup tables, and ends in a TakeOrderedAndProject-shaped window. No
    shuffle touches raw vectors.

    Determinism: subspace distances fold (x−y)² in dim order from 0.0;
    per-subspace argmin ties break to the lowest codeword id (numpy
    argmin's first-match on exactly-equal doubles); the ADC sum folds the
    {PQ_M} terms in subspace order from 0.0 — all mirrored exactly in the
    oracle, so values are bit-identical.
    """
    em = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cb = [
        [float(v) for v in r.embedding]
        for r in em.orderBy("vec_id").limit(PQ_KSUB).collect()
    ]
    if not cb:
        return spark.createDataFrame([], "qid bigint, cid bigint, adc double")
    _guard_finite_cents(cb, "ann_pq_topk")
    cbm = [[float(v) for v in row] for row in cb]
    n_m, dsub = PQ_M, PQ_DSUB

    @F.pandas_udf(", ".join(f"c{m} int" for m in range(PQ_M)))
    def _enc(embs):
        # Self-contained: executors don't have the repo on sys.path.
        import numpy as np
        import pandas as pd

        if len(embs) == 0:
            return pd.DataFrame(
                {f"c{m}": pd.Series([], dtype="int32") for m in range(n_m)}
            )
        CW = np.array(cbm)  # (K, DIM) exact doubles
        A = np.vstack(embs.to_numpy()).astype(np.float64)  # (n, DIM)
        out = {}
        for m in range(n_m):
            d2 = np.zeros((A.shape[0], CW.shape[0]))
            for d in range(dsub):  # sequential in d == the left fold
                i = m * dsub + d
                diff = A[:, i, None] - CW[None, :, i]
                d2 += diff * diff
            # first-match argmin == ties to the lowest codeword id
            out[f"c{m}"] = pd.Series(np.argmin(d2, axis=1).astype("int32"))
        return pd.DataFrame(out)

    @F.pandas_udf(", ".join(f"lut{m} array<double>" for m in range(PQ_M)))
    def _lut(embs):
        # Self-contained: executors don't have the repo on sys.path.
        import numpy as np
        import pandas as pd

        if len(embs) == 0:
            return pd.DataFrame(
                {f"lut{m}": pd.Series([], dtype="object") for m in range(n_m)}
            )
        CW = np.array(cbm)
        A = np.vstack(embs.to_numpy()).astype(np.float64)
        out = {}
        for m in range(n_m):
            d2 = np.zeros((A.shape[0], CW.shape[0]))
            for d in range(dsub):  # sequential in d == the left fold
                i = m * dsub + d
                diff = A[:, i, None] - CW[None, :, i]
                d2 += diff * diff
            out[f"lut{m}"] = pd.Series(list(d2))
        return pd.DataFrame(out)

    codes = em.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("cid"), _enc("embedding").alias("cs")
    ).select("cid", "cs.*")
    qlut = em.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), _lut("embedding").alias("ls")
    ).select("qid", "ls.*")
    adc = F.expr(
        "aggregate(array("
        + ",".join(f"element_at(lut{m}, c{m} + 1)" for m in range(PQ_M))
        + "), 0.0D, (acc, x) -> acc + x)"
    )
    scored = codes.crossJoin(F.broadcast(qlut)).select(
        "qid", "cid", adc.alias("adc")
    )
    w = W.partitionBy("qid").orderBy("adc", "cid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "cid", "adc")
    )


# ---------------------------------------------------------------------------
# Spectral: dominant principal direction via quantized power iteration.
# ---------------------------------------------------------------------------

POW_ITERS = 2
POW_QUANTUM = 1e9  # |d·x_j| <= 8·1 here; 1e9 keeps int64 safe to ~1e9 rows


def _sql_dot_list(vec_expr: str, lst_expr: str, dim: int = DIM) -> str:
    """DuckDB left-fold dot of an embedding against a LIST-valued scalar
    subquery (same element order and fold shape as :func:`dot_exact`)."""
    return (
        f"LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE), "
        f"LIST_TRANSFORM(RANGE({dim}), i -> "
        f"CAST({vec_expr}[i+1] AS DOUBLE) * {lst_expr}[i+1])), "
        f"(acc, x) -> acc + x)"
    )


def _sql_pow_step(i: int) -> str:
    """One unrolled power-iteration step as DuckDB CTEs: per-(row, pos)
    contributions ``d·x_pos`` floored to integer nano-units BEFORE the
    cross-row sum (order-independent), then the L2 normalization whose
    64-term fold runs in pos order."""
    return f"""
    l{i - 1} AS (SELECT LIST(v ORDER BY pos) AS vl FROM v{i - 1}),
    s{i} AS (
      SELECT p.pos,
             SUM(CAST(FLOOR((dd.d * CAST(dd.embedding[p.pos + 1] AS DOUBLE))
                            * {POW_QUANTUM:.1f}) AS BIGINT)) AS s
      FROM (SELECT e.embedding, {_sql_dot_list('e.embedding', 'l.vl')} AS d
            FROM embeddings e CROSS JOIN l{i - 1} l) dd
      CROSS JOIN (SELECT UNNEST(RANGE({DIM})) AS pos) p
      GROUP BY p.pos),
    w{i} AS (SELECT pos, CAST(s AS DOUBLE) / {POW_QUANTUM:.1f} AS w FROM s{i}),
    n{i} AS (SELECT SQRT(LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
                                                  LIST(w * w ORDER BY pos)),
                                     (acc, x) -> acc + x)) AS nrm FROM w{i}),
    v{i} AS (SELECT pos, w / (SELECT nrm FROM n{i}) AS v FROM w{i})"""


@register(
    "embed_pca_power",
    oracle=f"""
    WITH v0 AS (SELECT UNNEST(RANGE({DIM})) AS pos, CAST(0.125 AS DOUBLE) AS v),
    {",".join(_sql_pow_step(i).strip() for i in range(1, POW_ITERS + 1))}
    SELECT CAST(pos AS INT) AS pos, v AS loading FROM v{POW_ITERS}
    """,
)
def embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding corpus (uncentered
    PCA / top right-singular vector) via {POW_ITERS} matrix-free power
    iterations: v ← normalize(Aᵀ(A·v)) starting from the uniform unit
    vector — the spectral telemetry behind whitening, drift axes, and
    anisotropy scores ("all embeddings share one dominant direction" is
    the classic representation-collapse smell).

    Scale plan: Aᵀ(Av) never materializes a {DIM}×{DIM} matrix or ships
    vectors anywhere — per row the scalar d = x·v folds map-side against
    the v literal (projected BELOW the posexplode, so it's computed once
    per vector, not once per element — the r10 Lloyd lesson), and the only
    exchange per iteration is the partial+final integer SUM over (pos) —
    {DIM} groups. Per iteration the driver sees exactly {DIM} quantized
    sums (the ann_ivf_learned budget), normalizes in plain IEEE doubles,
    and re-embeds v as literals.

    Determinism: per-(row, pos) contributions d·x_pos are floored to
    integer nano-units BEFORE the cross-row sum; the normalization folds
    the {DIM} squared loadings in pos order and SQRT is correctly rounded
    by IEEE-754 — every step mirrored exactly in the oracle's unrolled
    CTEs, so the iterated doubles are bit-identical cross-engine.
    """
    import math

    em = load_table(spark, sf_dir, "embeddings").select("embedding")
    v = [0.125] * DIM
    for _ in range(POW_ITERS):
        vlits = "array(" + ",".join(repr(x) + "D" for x in v) + ")"
        d_expr = F.expr(
            f"aggregate(zip_with(embedding, {vlits}, "
            f"(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, x) -> acc + x)"
        )
        rows = em.select(d_expr.alias("d"), "embedding")
        pe = rows.select("d", F.posexplode("embedding").alias("pos", "x"))
        sums = (
            pe.groupBy("pos")
            .agg(
                F.sum(
                    F.floor(
                        (F.col("d") * F.col("x").cast("double"))
                        * F.lit(POW_QUANTUM)
                    )
                ).alias("s")
            )
            .collect()  # DIM-row fetch, the ann_ivf_learned budget
        )
        if not sums:
            return spark.createDataFrame([], "pos int, loading double")
        w = [0.0] * DIM
        for r in sums:
            w[r.pos] = r.s / POW_QUANTUM
        acc = 0.0
        for x in w:  # pos-order fold, mirroring the oracle's LIST_REDUCE
            acc = acc + x * x
        nrm = math.sqrt(acc)
        v = [x / nrm for x in w]
    return spark.createDataFrame(
        [(j, v[j]) for j in range(DIM)], "pos int, loading double"
    )


SEMDEDUP_TH = 0.3
SEMDEDUP_ANCHORS = 128


@register(
    "embed_dedup_semantic",
    oracle=f"""
    WITH c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell,
             LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS ce
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id LIMIT {IVF_K})),
    {_sql_lloyd(1).strip()},
    {_sql_lloyd(2).strip()},
    asg AS (
      SELECT e.vec_id, e.embedding, {sql_norm('e.embedding')} AS nrm, c.cell,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {sql_d2_exact('e.embedding', 'c.ce')}, c.cell) AS rn
      FROM embeddings e CROSS JOIN c2 c),
    cells AS (SELECT vec_id, embedding, nrm, cell FROM asg WHERE rn = 1),
    anchors AS (
      SELECT cell, vec_id, embedding, nrm FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS arn
        FROM cells)
      WHERE arn <= {SEMDEDUP_ANCHORS}),
    pairs AS (
      SELECT v.vec_id AS dup_id, a.vec_id AS anchor_id, v.cell AS cell,
             {sql_cosine_pre('a.embedding', 'v.embedding', 'a.nrm', 'v.nrm')} AS score
      FROM cells v JOIN anchors a
        ON a.cell = v.cell AND a.vec_id < v.vec_id
      WHERE {sql_cosine_pre('a.embedding', 'v.embedding', 'a.nrm', 'v.nrm')}
            >= {SEMDEDUP_TH})
    SELECT dup_id, MIN(anchor_id) AS keep_id,
           CAST(MIN(cell) AS INTEGER) AS cell,
           MIN_BY(score, anchor_id) AS score
    FROM pairs GROUP BY dup_id
    """,
)
def embed_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: compose the LEARNED IVF cells
    (:func:`_lloyd_centroids` — the identical trainer ``ann_ivf_learned``
    serves from, so the two ops' cell geometry cannot drift) with an
    in-cell cosine near-dup election — the modern embedding-dedup staple
    (Abbas et al., "SemDeDup", arXiv:2303.09540: cluster the embedding
    space, then dedup only within clusters). A vector is a duplicate when
    some same-cell ANCHOR with a smaller vec_id sits at cosine ≥
    {SEMDEDUP_TH}; it reports its keeper (the smallest qualifying anchor —
    the engine-wide keep-first convention; SemDeDup's keep-farthest-from-
    centroid variant is one ORDER BY away) and the score against it.

    Candidate volume is CELL-BOUNDED BY CONSTRUCTION — the banded-family
    story one abstraction up: each vector is checked against at most
    {SEMDEDUP_ANCHORS} anchors (the cell's smallest vec_ids), so checks
    are ≤ n·{SEMDEDUP_ANCHORS} however the corpus grows and however
    lopsided the learned cells come out (the cap genuinely binds on the
    fixture: sf0.1 cells run 111–143 members). The anchor election uses
    row_number-over-cell ≤ N, which Spark rewrites with WindowGroupLimit —
    each map task keeps only its local top-{SEMDEDUP_ANCHORS} per cell
    BEFORE the exchange, so the window never sorts a full n/K-sized cell
    partition; the anchor table is then ≤ K·{SEMDEDUP_ANCHORS} rows
    (2048 here) — bounded by CONSTANTS, the one join side in the engine
    that is safe to pin broadcast at any corpus size. Threshold
    {SEMDEDUP_TH} follows the dedup_embedding_cosine fixture contract
    (the synthetic embeddings are near-orthogonal — in-cell p99 cosine is
    ~0.34, so the production-typical ~0.95 would be vacuously green; the
    plan is identical either way). Determinism: assignment ties broken by
    cell index (the shared Arrow udf's stable argsort = the oracle's
    ORDER BY d2, cell), keeper = MIN(anchor_id), score via min_by on the
    unique anchor_id — every output column driver-hash-checked."""
    em = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = _lloyd_centroids(em, "embed_dedup_semantic")
    if cents is None:
        return spark.createDataFrame(
            [], "dup_id bigint, keep_id bigint, cell int, score double"
        )
    cells = managed_persist(
        em.select(
            "vec_id",
            "embedding",
            norm(F.col("embedding")).alias("nrm"),
            F.element_at(_rank_cells_udf(cents)(F.col("embedding")), 1)
            .alias("cell"),
        )
    )
    anchors = (
        cells.withColumn(
            "arn",
            F.row_number().over(W.partitionBy("cell").orderBy("vec_id")),
        )
        .filter(F.col("arn") <= SEMDEDUP_ANCHORS)
        .select(
            F.col("cell").alias("a_cell"),
            F.col("vec_id").alias("anchor_id"),
            F.col("embedding").alias("ae"),
            F.col("nrm").alias("an"),
        )
    )
    pairs = (
        cells.join(
            F.broadcast(anchors),  # ≤ IVF_K·SEMDEDUP_ANCHORS rows, constant-bounded
            (F.col("cell") == F.col("a_cell"))
            & (F.col("anchor_id") < F.col("vec_id")),
        )
        .select(
            F.col("vec_id").alias("dup_id"),
            "anchor_id",
            "cell",
            cosine_pre(
                F.col("ae"), F.col("embedding"), F.col("an"), F.col("nrm")
            ).alias("score"),
        )
        .filter(F.col("score") >= SEMDEDUP_TH)
    )
    return pairs.groupBy("dup_id").agg(
        F.min("anchor_id").alias("keep_id"),
        F.min("cell").alias("cell"),
        F.min_by("score", "anchor_id").alias("score"),
    )
