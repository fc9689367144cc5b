"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: the exactness baseline.  Queries are collected
  and broadcast (a query set is small by definition); the corpus side
  never shuffles — each partition scores its rows against the broadcast
  queries and emits only its local top-k, which TakeOrdered merges.
- Sign-LSH (random hyperplane) bucketed variant: the scale path.  Each
  vector gets `num_planes` sign bits from deterministic ±1 hyperplanes
  (seeded, reproducible), grouped into band keys; neighbor candidates are
  only scored within shared buckets.  At 10^12 rows this turns an O(n·q)
  scan into O(bucket) work per query.

Dot products run in a vectorized numpy pandas UDF (Arrow batches): 64-dim
float ops in numpy beat interpreted per-element Catalyst `zip_with` by
~100×.  For oracle-checked exactness we also provide a pure-Catalyst
`cosine_expr` used by the driver-contract query (sequential double fold —
bit-identical to DuckDB's list fold).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.literals import lit_array


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
# Sign-LSH bucketing (scale path)
# ---------------------------------------------------------------------------


def _planes(dim: int, num_planes: int, seed: int):
    """Deterministic ±1 hyperplanes (Rademacher), reproducible anywhere."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.choice([-1.0, 1.0], size=(num_planes, dim)).astype("float64")


def add_lsh_key(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 12,
    seed: int = 42,
    out_col: str = "lsh_key",
) -> DataFrame:
    """Attach the sign-LSH bucket key (bigint of `num_planes` sign bits).

    Vectorized numpy in an Arrow batch: (B, dim) @ (dim, planes) per batch.
    """
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _key(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np

        planes = _planes(dim, num_planes, seed).T  # (dim, planes)
        weights = (1 << np.arange(num_planes)).astype("int64")
        for vecs in batches:
            m = np.asarray(vecs.tolist(), dtype="float64")  # (B, dim)
            signs = (m @ planes) > 0  # (B, planes)
            yield pd.Series(signs @ weights)

    return df.withColumn(out_col, _key(F.col(vec_col)))


def add_lsh_probe_keys(
    df: DataFrame,
    vec_col: str,
    dim: int = 64,
    num_planes: int = 10,
    seed: int = 42,
    probes: int = 0,
    out_col: str = "lsh_key",
) -> DataFrame:
    """Multi-probe key array: the exact bucket plus the `probes` buckets
    reached by flipping the sign bits whose hyperplane margin is SMALLEST
    (classic multi-probe LSH: the most uncertain bits are the likeliest to
    differ for true near neighbors).  Output: one row per probed bucket."""
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def _keys(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np

        planes = _planes(dim, num_planes, seed).T  # (dim, planes)
        weights = (1 << np.arange(num_planes)).astype("int64")
        for vecs in batches:
            m = np.asarray(vecs.tolist(), dtype="float64")
            proj = m @ planes                       # (B, planes): signed margins
            base = ((proj > 0) @ weights).astype("int64")
            order = np.argsort(np.abs(proj), axis=1)  # smallest margin first
            out = []
            for b in range(m.shape[0]):
                keys = [int(base[b])]
                for p in range(min(probes, num_planes)):
                    keys.append(int(base[b]) ^ int(weights[order[b, p]]))
                out.append(keys)
            yield pd.Series(out)

    return df.withColumn(out_col, F.explode(_keys(F.col(vec_col))))


def lsh_plane_dots_expr(vec_col: Column, planes) -> list[Column]:
    """Per-plane dot products as NATIVE sequential-fold expressions.

    The planes are ±1 Rademacher rows, so each product is exact; the fold
    order matches DuckDB's `list_sum(list_transform(...))` bit-for-bit
    (the same device as `cosine_expr`).  This is the engine-portable twin
    of the numpy batch matmul in `add_lsh_key` — used by oracle-checked
    contract queries; production keeps the vectorized UDF.
    """
    # closure factory, NOT a default arg: pyspark inspects the lambda's
    # parameter count, and a 3rd (defaulted) param breaks arity resolution
    def _times_plane(a):
        # binary transform lambda: arg 2 IS the 0-based array index
        return lambda x, i: x.cast("double") * F.element_at(a, i + 1)

    dots = []
    for row in planes:
        arr = lit_array(row, "double")
        prod = F.transform(vec_col, _times_plane(arr))
        dots.append(F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v))
    return dots


def lsh_base_key_expr(dots: list[Column]) -> Column:
    """Sign-bit bucket key from per-plane dots (bigint)."""
    key = F.lit(0).cast("long")
    for p, d in enumerate(dots):
        key = key + F.when(d > 0, F.lit(1 << p)).otherwise(F.lit(0)).cast("long")
    return key


def lsh_probe_keys_expr(dots: list[Column], probes: int) -> Column:
    """Array of probe keys: the base key plus the buckets reached by
    flipping the `probes` lowest-|margin| sign bits (ties broken by plane
    index — the struct sort is lexicographic (|margin|, p) in both Spark
    and DuckDB)."""
    base = lsh_base_key_expr(dots)
    ms = F.array(
        *[F.struct(F.abs(d).alias("m"), F.lit(p).alias("p")) for p, d in enumerate(dots)]
    )
    bit_values = lit_array([1 << p for p in range(len(dots))], "bigint")
    flips = F.slice(F.array_sort(ms), 1, probes)
    probe_keys = F.transform(
        flips, lambda s: base.bitwiseXOR(F.element_at(bit_values, s["p"] + 1))
    )
    return F.concat(F.array(base), probe_keys)


def add_lsh_key_foldexact(
    df: DataFrame, vec_col: str, planes, out_col: str = "lsh_key"
) -> DataFrame:
    """Corpus-side portable keys, FAST path: a numpy Arrow UDF that
    accumulates the plane dots with an explicit per-dimension loop —
    `acc = acc + m[:, i] * plane[p][i]` — i.e. the SAME left-fold of
    float64 IEEE adds as `lsh_plane_dots_expr` and DuckDB's list_sum, so
    keys are bit-identical to the oracle, but vectorized across rows
    (the interpreted Catalyst fold costs ~1µs/element; this is ~100×)."""
    import numpy as np
    from pyspark.sql.types import LongType

    pl = [np.asarray(row, dtype="float64") for row in planes]
    nplanes = len(pl)

    @F.pandas_udf(LongType())
    def _key(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in batches:
            m = np.asarray(vecs.tolist(), dtype="float64")  # (B, dim)
            key = np.zeros(m.shape[0], dtype="int64")
            for p in range(nplanes):
                acc = np.zeros(m.shape[0], dtype="float64")
                row = pl[p]
                for i in range(m.shape[1]):
                    # sequential fold per row (vectorized across rows):
                    # bit-identical to ((0+t0)+t1)+... in any engine
                    acc = acc + m[:, i] * row[i]
                key |= (acc > 0).astype("int64") << p
            yield pd.Series(key)

    return df.withColumn(out_col, _key(F.col(vec_col)))


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
    portable: bool = False,
) -> DataFrame:
    """Approximate top-k: score only within the query's LSH bucket(s).

    `probes` > 0 enables multi-probe: each query additionally searches the
    buckets reached by flipping its lowest-margin sign bits — recall rises
    toward brute force at the cost of `1 + probes` bucket joins' worth of
    candidates, while the corpus side still shuffles nothing (bucket keys
    only, query side broadcast).  Buckets are disjoint, so no candidate
    dedup is needed.  Same output shape as brute_force_topk.

    `portable=True` computes keys with the native sequential-fold
    expressions (bit-identical to a SQL oracle) instead of the numpy UDF;
    the bucketing join and scoring below are the same code either way.
    """
    qbase = queries.select(
        F.col(query_id_col).alias("__qid"), F.col(vec_col).alias("__qvec")
    )
    if portable:
        planes = _planes(dim, num_planes, seed)
        # corpus side: fold-exact numpy keys (bit-identical, vectorized);
        # query side is tiny — the expression fold is fine and also carries
        # the margins for multi-probe
        v = add_lsh_key_foldexact(vectors, vec_col, planes)
        q = qbase.withColumn(
            "lsh_key",
            F.explode(
                lsh_probe_keys_expr(lsh_plane_dots_expr(F.col("__qvec"), planes), probes)
            ),
        )
    else:
        v = add_lsh_key(vectors, vec_col, dim, num_planes, seed)
        if probes > 0:
            q = add_lsh_probe_keys(qbase, "__qvec", dim, num_planes, seed, probes)
        else:
            q = add_lsh_key(qbase, "__qvec", dim, num_planes, seed)
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
    portable: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: bucket by LSH key, score in-bucket.
    Output: (id_a, id_b, cosine).  `portable=True` uses the native
    sequential-fold key expressions (SQL-oracle-replayable)."""
    if portable:
        keyed = add_lsh_key_foldexact(vectors, vec_col, _planes(dim, num_planes, seed))
    else:
        keyed = add_lsh_key(vectors, vec_col, dim, num_planes, seed)
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
