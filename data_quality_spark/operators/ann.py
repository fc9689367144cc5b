"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: the exactness baseline.  Queries are collected
  and broadcast (a query set is small by definition); the corpus side
  never shuffles — each partition scores its rows against the broadcast
  queries and emits only its local top-k, which TakeOrdered merges.
- Sign-LSH (random hyperplane) bucketed variant.  Each vector gets
  `NUM_PLANES` sign bits from deterministic ±1 hyperplanes (seeded,
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

# the `embeddings` table: (vec_id, embedding array<float> of DIM)
DIM = 64
# sign-LSH: NUM_PLANES ±1 hyperplanes drawn from SEED
NUM_PLANES = 6
SEED = 42


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


def _top_k(candidates: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, rank) of the k nearest `candidates` (vec_id,
    embedding, __qid, __qvec) per query: rank 1 = nearest, ties broken by
    neighbor id (deterministic), self-matches excluded."""
    scored = candidates.filter(F.col("vec_id") != F.col("__qid")).select(
        F.col("__qid").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        cosine_expr(F.col("embedding"), F.col("__qvec")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _query_side(queries: DataFrame) -> DataFrame:
    return queries.select(F.col("query_id").alias("__qid"), F.col("embedding").alias("__qvec"))


def brute_force_topk(vectors: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Exact top-k cosine neighbors of each (query_id, embedding) query
    among the (vec_id, embedding) `vectors` via broadcast join."""
    return _top_k(vectors.crossJoin(F.broadcast(_query_side(queries))), k)


# ---------------------------------------------------------------------------
# Sign-LSH bucketing
# ---------------------------------------------------------------------------


def _planes():
    """Deterministic ±1 hyperplanes (Rademacher), reproducible anywhere."""
    import numpy as np

    rng = np.random.RandomState(SEED)
    return rng.choice([-1.0, 1.0], size=(NUM_PLANES, DIM)).astype("float64")


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


def lsh_topk(vectors: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Approximate top-k: score only within the query's LSH buckets.

    Multi-probe: each query also searches the 3 buckets reached by flipping
    its lowest-margin sign bits, so recall rises toward brute force at the
    cost of 4 bucket joins' worth of candidates, while the corpus side
    still shuffles nothing (bucket keys only, query side broadcast).
    Buckets are disjoint, so no candidate dedup is needed.  Same output
    shape as brute_force_topk.
    """
    planes = _planes()
    v = add_lsh_keys(vectors, "embedding", planes)
    q = add_lsh_keys(_query_side(queries), "__qvec", planes, 3)
    return _top_k(v.join(F.broadcast(q), on="lsh_key"), k)


def train_ivf_centroids(vectors: DataFrame):
    """IVF coarse quantizer: 8 centroids from 5 k-means iterations on a deterministic sample
    of at most 4,096 vectors.

    Sampling uses the hash-uniform order (engine/partitioning invariant);
    Lloyd iterations run in numpy on the driver — the sample is O(k·dim)
    bounded, never the corpus.  Returns an (8, DIM) float64 array.
    """
    import numpy as np

    from .sampling import reservoir_k

    # deterministic sample keyed on the vector content hash
    keyed = vectors.select(
        F.md5(F.concat_ws(",", F.col("embedding").cast("array<string>"))).alias("__k"),
        "embedding",
    )
    rows = reservoir_k(keyed, 4096, "__k").collect()
    # sort by the content-hash key: collect() order depends on partitioning,
    # and X's row order feeds rng.choice + the mean reductions — sorting
    # makes the trained centroids invariant to cluster size / parallelism
    rows = sorted(rows, key=lambda r: r["__k"])
    X = np.asarray([r["embedding"] for r in rows], dtype="float64")
    rng = np.random.RandomState(SEED)
    centroids = X[rng.choice(len(X), size=min(8, len(X)), replace=False)]
    for _ in range(5):
        d = ((X[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(centroids)):
            mask = assign == c
            if mask.any():
                centroids[c] = X[mask].mean(axis=0)
    return centroids


def add_ivf_key(df: DataFrame, centroids) -> DataFrame:
    """Assign each vector to its nearest centroid as `ivf_key` (vectorized
    per batch)."""
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

    return df.withColumn("ivf_key", _assign(F.col("embedding")))


def ivf_topk(vectors: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """IVF approximate top-k: train 8 centroids, then score only the vectors
    in each query's 3 nearest inverted lists.

    At 10^12 vectors this is the classic scale path: the corpus is
    partitioned by centroid id once (bucketable/Iceberg-partitionable), and
    each query touches 3/8 of the data.  Same output shape as
    brute_force_topk.
    """
    import numpy as np

    centroids = train_ivf_centroids(vectors)
    v = add_ivf_key(vectors, centroids)
    # queries probe their 3 nearest centroids
    q_rows = _query_side(queries).collect()
    c = np.asarray(centroids, dtype="float64")
    probe_rows = []
    for r in q_rows:
        x = np.asarray(r["__qvec"], dtype="float64")
        d = ((c - x) ** 2).sum(axis=1)
        for key in np.argsort(d, kind="stable")[:3]:
            probe_rows.append((r["__qid"], [float(t) for t in r["__qvec"]], int(key)))
    spark = vectors.sparkSession
    q = spark.createDataFrame(
        probe_rows, "__qid long, __qvec array<double>, ivf_key int"
    )
    return _top_k(v.join(F.broadcast(q), on="ivf_key"), k)


def embedding_dedup_candidates(vectors: DataFrame) -> DataFrame:
    """Embedding-cosine near-dup pairs: bucket by LSH key, score in-bucket,
    keep cosine >= 0.35.  Output: (id_a, id_b, cosine)."""
    keyed = add_lsh_keys(vectors, "embedding", _planes())
    v = keyed.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"), "lsh_key")
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, "lsh_key")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cosine_expr(F.col("a.vec"), F.col("b.vec")).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.35)
    )
