"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline, plus a random-hyperplane
LSH-bucketed variant as the scale path (candidate generation shrinks the
cross product from |Q|×|N| to per-bucket blocks; recall tunable by number of
hyperplane tables).

Numeric determinism: dot products fold strictly left-to-right in DOUBLE via
``aggregate(zip_with(...))`` — the same fold a SQL ``list_reduce`` performs —
so scores are bit-reproducible across partitionings and against the DuckDB
oracle.

At cluster scale the query side is broadcast (queries ≪ corpus); the corpus
side never shuffles for brute force, and shuffles once on bucket id for the
LSH variant.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot_col(a: Column, b: Column) -> Column:
    """Strict left-to-right double-precision dot product."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "query_id",
    q_vec_col: str = "q_embedding",
) -> DataFrame:
    """Exact cosine top-k per query: (query_id, vec_id, score, rnk).

    Queries are broadcast — the corpus is scanned once, never shuffled; only
    the tiny per-query top-k heap result moves. Ties break on vec_id so the
    result is total-order deterministic.
    """
    scored = corpus.crossJoin(F.broadcast(queries)).where(
        F.col(id_col) != F.col(q_id_col)
    ).select(
        F.col(q_id_col),
        F.col(id_col),
        F.round(cosine_col(F.col(vec_col), F.col(q_vec_col)), 6).alias("score"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(q_id_col, id_col, "score", "rnk")
    )


def cosine_threshold_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "query_id",
    q_vec_col: str = "q_embedding",
) -> DataFrame:
    """All (query, neighbor) pairs with cosine ≥ threshold — selection-stable
    alternative to top-k (no rank boundary sensitivity)."""
    return (
        corpus.crossJoin(F.broadcast(queries))
        .where(F.col(id_col) != F.col(q_id_col))
        .select(
            F.col(q_id_col),
            F.col(id_col),
            F.round(cosine_col(F.col(vec_col), F.col(q_vec_col)), 6).alias("score"),
        )
        .where(F.col("score") >= threshold)
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    seed: int = 7,
    staging_path: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within one corpus:
    (id_a, id_b, score) with id_a < id_b and cosine ≥ threshold.

    The DEFAULT is the LSH-blocked scale path (``n_planes>0``): only pairs
    sharing a hyperplane bucket in ≥1 table are scored — same banding as
    ``lsh_ann_topk`` (at 0.95 cosine the sign-bit collision probability per
    plane is ~0.9, so recall stays high exactly for the near-dup band we
    care about). ``n_planes=0`` opts into exact all-pairs — a quadratic
    crossJoin, the small-corpus / recall-baseline path ONLY; never call it
    with defaults on a large corpus.

    ``staging_path``: materialize the exploded bucket frame there (parquet,
    executor-reachable path — same contract as ``kg_store.merge_triples``
    staging) so the Arrow bucket kernel runs ONCE and the self-join reads
    the staged columnar frame twice. Without it the kernel evaluates once
    per join side: ReuseExchange does NOT fire across ArrowEvalPython
    subplans (PythonUDF expressions defeat canonicalized-plan equality —
    measured on the sf0.01 explain), a 2× constant on a cheap matmul.
    Note staging makes this call EAGER (it performs the staging write)."""
    if n_planes > 0:
        all_planes = [_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
        buckets = lsh_buckets_udf(all_planes)
        e = corpus.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.posexplode(buckets(F.col(vec_col))).alias("tbl", "bucket"),
        )
        if staging_path is not None:
            e.write.mode("overwrite").parquet(staging_path)
            e = corpus.sparkSession.read.parquet(staging_path)
        pairs = (
            e.alias("A")
            .join(e.alias("B"), ["tbl", "bucket"])
            .where(F.col("A.id") < F.col("B.id"))
            .select(
                F.col("A.id").alias("id_a"),
                F.col("A.v").alias("va"),
                F.col("B.id").alias("id_b"),
                F.col("B.v").alias("vb"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
        b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
        pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(cosine_col(F.col("va"), F.col("vb")), 6).alias("score"),
        )
        .where(F.col("score") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — k-means coarse quantizer
# ---------------------------------------------------------------------------
def ivf_fit_centroids(
    corpus: DataFrame,
    nlist: int = 16,
    iters: int = 5,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    fit_limit: int | None = None,
    staging_path: str | None = None,
) -> list[list[float]]:
    """Lloyd's k-means as DataFrame aggregations (deterministic: seeded init
    from a hash-ordered sample, fixed iteration count).

    Expressed relationally so it scales like any other agg: each iteration
    is one assign (map-side, broadcast centroids in the plan) + one
    groupBy(centroid).avg shuffle of nlist groups. No spark.ml dependency,
    no driver-side data loops — only the (nlist × dim) centroid matrix ever
    reaches the driver.

    ``fit_limit`` bounds the fit to a deterministic hash-ordered sample of
    that many rows — at 10^9 vectors the fit MUST run on a sample (the full
    corpus still gets assigned to the fitted lists; only the Lloyd
    iterations shrink). The sample and the init both order by
    ``md5(id || salt)`` rather than a numeric hash so an external engine
    (the DuckDB driver oracle) can reproduce the fit bit-for-bit up to
    float-summation noise.

    ``staging_path``: where to materialize the fit sample. On a multi-node
    cluster this MUST be a data-filesystem path every executor can reach
    (same contract as ``kg_store.merge_triples``'s staging sibling); the
    ``tempfile`` fallback is a driver-local directory and only valid in
    local mode.
    """
    import shutil
    import tempfile

    base = corpus.select(F.col(id_col).alias("_fid"), F.col(vec_col).alias("v"))
    staging = None
    if fit_limit is not None:
        # Materialize the hash-ordered sample ONCE (parquet staging, same
        # pattern as kg_store.merge_triples): without this the lazy
        # orderBy(md5).limit plan — a corpus-wide sort — re-executes for the
        # init collect AND every Lloyd iteration (iters+1 full-corpus passes
        # at 10^9 vectors instead of one).
        sample = base.orderBy(
            F.md5(F.concat(F.col("_fid").cast("string"), F.lit(f"|s{seed}")))
        ).limit(fit_limit)
        staging = staging_path or tempfile.mkdtemp(prefix="spark_ivf_fit_")
        sample.write.mode("overwrite").parquet(staging)
        base = corpus.sparkSession.read.schema(sample.schema).parquet(staging)
    try:
        init = (
            base.select("v", F.md5(F.concat(F.col("_fid").cast("string"), F.lit(f"|{seed}"))).alias("h"))
            .orderBy("h")
            .limit(nlist)
            .collect()
        )
        centroids = [list(map(float, r.v)) for r in init]
        for _ in range(iters):
            assigned = base.select(
                F.col("v"),
                _nearest_centroid_col(F.col("v"), centroids).alias("c"),
            )
            agg = (
                assigned.select("c", F.posexplode("v").alias("i", "x"))
                .groupBy("c", "i")
                .agg(F.avg("x").alias("m"))
                .groupBy("c")
                .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("dims"))
                .select("c", F.transform("dims", lambda d: d["m"]).alias("centroid"))
                .collect()
            )
            new = {r.c: list(map(float, r.centroid)) for r in agg}
            centroids = [new.get(c, centroids[c]) for c in range(len(centroids))]
    finally:
        if staging is not None:
            shutil.rmtree(staging, ignore_errors=True)
    return centroids


def _centroid_rank_udf(centroids: list[list[float]], n: int):
    """Arrow kernel: the ``n`` nearest centroid ids per vector, by squared
    distance (−2·V·Cᵀ + ‖C‖², ‖v‖² drops out), one matmul per batch.

    Same lesson as the LSH buckets: a chained when()-expression over
    nlist × dim literals explodes Catalyst analysis/codegen (minutes at
    nlist=16, dim=64), while the matmul is a single BLAS call."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)  # (nlist, dim)
    c_sq = (C * C).sum(axis=1)  # (nlist,)

    @pandas_udf("array<int>")
    def _rank(vecs: pd.Series) -> pd.Series:
        V = np.stack(vecs.to_numpy()).astype(np.float64)  # (N, dim)
        d = -2.0 * (V @ C.T) + c_sq  # (N, nlist)
        order = np.argsort(d, axis=1, kind="stable")[:, :n]
        return pd.Series([row.astype("int32").tolist() for row in order])

    return _rank


def _nearest_centroid_col(vec: Column, centroids: list[list[float]]) -> Column:
    return _centroid_rank_udf(centroids, 1)(vec)[0]


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 5,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "query_id",
    q_vec_col: str = "q_embedding",
    fit_limit: int | None = None,
    centroids: list[list[float]] | None = None,
    staging_path: str | None = None,
) -> DataFrame:
    """IVF approximate top-k: assign corpus vectors to their nearest of
    ``nlist`` centroids (the inverted lists), probe each query's ``nprobe``
    nearest lists, exact-cosine rerank within the probed candidates.

    The corpus shuffles once on list id; queries are broadcast with their
    probe set. recall/cost knob = nprobe/nlist (nprobe=nlist degenerates to
    brute force). At 10^9 vectors nlist is ~√N and the fit runs on a
    sample — pass ``fit_limit`` (or precomputed ``centroids``).
    """
    cents = centroids if centroids is not None else ivf_fit_centroids(
        corpus, nlist, iters, seed, vec_col, id_col, fit_limit, staging_path
    )
    c_assigned = corpus.select(
        F.col(id_col), F.col(vec_col), _nearest_centroid_col(F.col(vec_col), cents).alias("lst")
    )
    # per-query probe lists: nprobe nearest centroids (same Arrow kernel)
    q_probed = queries.select(
        F.col(q_id_col),
        F.col(q_vec_col),
        F.explode(_centroid_rank_udf(cents, nprobe)(F.col(q_vec_col))).alias("lst"),
    )
    cand = c_assigned.join(F.broadcast(q_probed), "lst").where(
        F.col(id_col) != F.col(q_id_col)
    )
    scored = cand.select(
        F.col(q_id_col),
        F.col(id_col),
        F.round(cosine_col(F.col(vec_col), F.col(q_vec_col)), 6).alias("score"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(q_id_col, id_col, "score", "rnk")
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (scale path)
# ---------------------------------------------------------------------------
def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_buckets_udf(all_planes: list[list[list[float]]]):
    """Arrow-batched kernel: all tables' sign-bit buckets in one numpy matmul.

    ``all_planes`` is ``[n_tables][n_planes][dim]``. Per Arrow batch we stack
    the vectors into an (N, dim) matrix and compute sign((N,dim) @ (dim, T*P))
    once — dense linear algebra is the one place a vectorized pandas UDF
    beats Catalyst expressions (a per-plane fold expression tree grows with
    tables × planes × dim and is quadratic to analyze/codegen; the matmul is
    a single BLAS call regardless)."""
    from pyspark.sql.functions import pandas_udf

    mat = np.asarray(all_planes, dtype=np.float64)  # (T, P, dim)
    n_tables, n_planes, _ = mat.shape
    flat = mat.reshape(n_tables * n_planes, -1).T  # (dim, T*P)

    @pandas_udf("array<string>")
    def _buckets(vecs: pd.Series) -> pd.Series:
        v = np.stack(vecs.to_numpy())  # (N, dim)
        bits = (v.astype(np.float64) @ flat >= 0).astype(np.uint8)  # (N, T*P)
        bits = bits.reshape(len(v), n_tables, n_planes)
        out = [
            ["".join("1" if b else "0" for b in row[t]) for t in range(n_tables)]
            for row in bits
        ]
        return pd.Series(out)

    return _buckets


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "query_id",
    q_vec_col: str = "q_embedding",
) -> DataFrame:
    """Approximate top-k: one Arrow-batched bucket kernel for all tables,
    posexplode to (table, bucket), bucket-equijoin against the (broadcast)
    bucketed queries, then exact cosine rerank within candidates. Shuffles on
    (table, bucket) — at 10^9 vectors that's the only wide exchange, and
    bucket cardinality 2^n_planes × n_tables spreads it; skewed buckets split
    by AQE."""
    all_planes = [_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    buckets = lsh_buckets_udf(all_planes)
    c_b = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(buckets(F.col(vec_col))).alias("tbl", "bucket"),
    )
    q_b = queries.select(
        F.col(q_id_col),
        F.col(q_vec_col),
        F.posexplode(buckets(F.col(q_vec_col))).alias("tbl", "bucket"),
    )
    cands = (
        c_b.join(F.broadcast(q_b), ["tbl", "bucket"])
        .select(id_col, vec_col, q_id_col, q_vec_col)
        .dropDuplicates([id_col, q_id_col])
        .where(F.col(id_col) != F.col(q_id_col))
    )
    scored = cands.select(
        F.col(q_id_col),
        F.col(id_col),
        F.round(cosine_col(F.col(vec_col), F.col(q_vec_col)), 6).alias("score"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(q_id_col, id_col, "score", "rnk")
    )
