"""Sampling operators (reference: dataquality-sampling, SURVEY.md §2.8).

The reference's reservoir samplers are push-based with a seeded RNG
(`sampling/ReservoirSampler.java:59-80`, `FastReservoirSampler.java:44-60`).
In a distributed engine, per-row RNG state is a determinism hazard; we use
**hash-derived uniforms** instead: u(row) = md5-derived fraction — a seeded,
partitioning-invariant, engine-reproducible uniform per row.  Exact-k
reservoir ≡ top-k by u; weighted (A-Res) ≡ top-k by u^(1/w).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SEED = 42


def hash_uniform(key: Column) -> Column:
    """Deterministic uniform in [0,1) from a key column: first 13 hex chars
    of md5(SEED:key) → 52-bit fraction (fits a double exactly)."""
    h = F.md5(F.concat(F.lit(f"{SEED}:"), key.cast("string")))
    return F.conv(F.substring(h, 1, 13), 16, 10).cast("double") / F.lit(
        float(1 << 52)
    )


def reservoir_k(df: DataFrame, k: int, key_col: str) -> DataFrame:
    """Exact-k uniform sample: smallest k hash-uniforms.

    Physically a TakeOrderedAndProject: each partition keeps its local
    top-k, only k rows per partition reach the driver-side merge — the
    distributed equivalent of Algorithm R's single pass.
    """
    u = hash_uniform(F.col(key_col)).alias("__u")
    return (
        df.select("*", u)
        .orderBy(F.col("__u").asc(), F.col(key_col).asc())
        .limit(k)
        .drop("__u")
    )


def weighted_reservoir_k(df: DataFrame, k: int, key_col: str, weight_col: str) -> DataFrame:
    """A-Res weighted reservoir (the reference's binary-heap sampler,
    `parallel/ReservoirSamplerWithBinaryHeap.java:27`): key = u^(1/w),
    top-k by key."""
    u = hash_uniform(F.col(key_col))
    score = F.pow(u, 1.0 / F.col(weight_col))
    return (
        df.select("*", score.alias("__s"))
        .orderBy(F.col("__s").desc(), F.col(key_col).asc())
        .limit(k)
        .drop("__s")
    )


def stratified_reservoir_k(
    df: DataFrame,
    k: int,
    strata_col: str,
    key_col: str,
) -> DataFrame:
    """Exact-k uniform sample WITHIN each stratum (language-balanced /
    source-balanced curation draws): rank rows per stratum by
    ``(md5(SEED:key), key)`` and keep the first k — deterministic,
    partitioning-invariant, engine-reproducible (same device as
    :func:`reservoir_k`).

    Scale shape (10^12 rows, a handful of giant strata): a naive
    ``row_number`` window over ``partitionBy(stratum)`` funnels the whole
    corpus through one task per stratum.  Instead:

    1. count each stratum — tiny agg, map-side combined;
    2. broadcast the counts back and prefilter to
       ``u < least(1, 4k/n_s)`` — survivors are
       ~``4k`` rows per stratum regardless of corpus size
       (strata at or below ``4k`` rows skip the filter
       entirely via the ``least``);
    3. exact rank among the survivors — the window now runs on a
       bounded, broadcast-sized set.

    The prefilter can only change the result if a stratum's k-th
    smallest uniform exceeds ``4k/n_s`` — a
    ``P[Binomial(n, 4k/n) < k]`` tail event (~e^{-k});
    the oracle-parity gate recomputes the exact rank independently, so
    any such drop fails the hash compare rather than passing silently.
    """
    h = F.md5(F.concat(F.lit(f"{SEED}:"), F.col(key_col).cast("string")))
    u = F.conv(F.substring(h, 1, 13), 16, 10).cast("double") / F.lit(float(1 << 52))
    base = df.select(
        F.col(strata_col).alias("_st"), F.col(key_col), h.alias("_h"), u.alias("_u")
    )
    counts = base.groupBy("_st").agg(F.count(F.lit(1)).alias("_n"))
    thr = F.least(F.lit(1.0), F.lit(4.0 * k) / F.col("_n"))
    survivors = base.join(F.broadcast(counts), "_st").filter(F.col("_u") < thr)
    from pyspark.sql.window import Window

    w = Window.partitionBy("_st").orderBy(F.col("_h").asc(), F.col(key_col).asc())
    return (
        survivors.select("_st", key_col, F.row_number().over(w).alias("_rn"))
        .filter(F.col("_rn") <= k)
        .select(
            F.col("_st").alias(strata_col),
            key_col,
            F.col("_rn").cast("bigint").alias("rank_in_stratum"),
        )
    )
