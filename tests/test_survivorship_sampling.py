"""Survivorship rules + sampling operators (hand-computed goldens)."""

import pyspark.sql.functions as F
import pytest

from data_quality_spark.operators import sampling as S
from data_quality_spark.operators import survivorship as SV


@pytest.fixture(scope="module")
def records(spark):
    rows = [
        ("g1", "alice", 30, "2024-01-01", "x@a.com"),
        ("g1", "Alice", 31, "2024-03-01", None),
        ("g1", "ALICE Smith", 29, "2024-02-01", ""),
        ("g2", "bob", 40, "2024-01-15", "b@b.com"),
    ]
    return spark.createDataFrame(rows, "g string, name string, age int, d string, email string")


def test_survivorship_rules(records):
    out = records.groupBy("g").agg(
        SV.largest(F.col("age")).alias("largest_age"),
        SV.smallest(F.col("age")).alias("smallest_age"),
        SV.longest(F.col("name")).alias("longest_name"),
    )
    g1 = {r["g"]: r for r in out.collect()}["g1"]
    assert g1["largest_age"] == 31 and g1["smallest_age"] == 29
    assert g1["longest_name"] == "ALICE Smith"


def test_most_common_deterministic(spark):
    df = spark.createDataFrame(
        [("g", "x"), ("g", "x"), ("g", "y"), ("g", "z")], "g string, v string"
    )
    out = SV.most_common_deterministic(df, ["g"], "v").collect()[0]
    assert out["survivor"] == "x"


def test_reservoir_determinism(spark):
    df = spark.range(1000).withColumnRenamed("id", "k")
    a = sorted(r["k"] for r in S.reservoir_k(df, 10, "k").collect())
    b = sorted(r["k"] for r in S.reservoir_k(df.repartition(7), 10, "k").collect())
    assert a == b and len(a) == 10


def test_sample_fraction_rate(spark):
    df = spark.range(20_000).withColumnRenamed("id", "k")
    # hash_uniform is a uniform draw in [0,1): a 0.1 threshold keeps ~10%
    n = df.filter(S.hash_uniform(F.col("k")) < 0.1).count()
    assert 1800 <= n <= 2200  # ±10% of expected


def test_weighted_reservoir_bias(spark):
    # weight 100 vs 1: heavy items must dominate the sample
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 100, 100.0).otherwise(1.0).alias("w"),
    )
    got = [r["k"] for r in S.weighted_reservoir_k(df, 50, "k", "w").collect()]
    heavy = sum(1 for k in got if k < 100)
    assert heavy >= 35  # 100 heavy items at 100x weight dominate top-50


def test_stratified_reservoir_exact_and_prefilter_safe(spark):
    # 3 strata of very different sizes: the oversample prefilter must
    # produce EXACTLY the naive full-window result, and small strata
    # (n <= k) must be kept whole
    df = spark.range(5000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 100 == 0, "rare")
        .when(F.col("id") % 3 == 0, "mid")
        .otherwise("big")
        .alias("st"),
    )
    got = S.stratified_reservoir_k(df, 30, "st", "k")
    rows = sorted((r["st"], r["k"], r["rank_in_stratum"]) for r in got.collect())

    # naive oracle: full window, no prefilter
    from pyspark.sql.window import Window

    h = F.md5(F.concat(F.lit("42:"), F.col("k").cast("string")))
    w = Window.partitionBy("st").orderBy(h.asc(), F.col("k").asc())
    naive = (
        df.select("st", "k", F.row_number().over(w).cast("bigint").alias("rank_in_stratum"))
        .filter(F.col("rank_in_stratum") <= 30)
    )
    assert rows == sorted((r["st"], r["k"], r["rank_in_stratum"]) for r in naive.collect())

    per = {r["st"]: r["c"] for r in got.groupBy("st").agg(F.count("*").alias("c")).collect()}
    assert per == {"big": 30, "mid": 30, "rare": 30}

    # a stratum smaller than k is returned in full
    tiny = S.stratified_reservoir_k(df.filter(F.col("st") == "rare"), 500, "st", "k")
    assert tiny.count() == 50
