"""Nested quality (Avro-path analog), multimodal plumbing, datetime patterns."""

import pyspark.sql.functions as F

from data_quality_spark.operators import multimodal as MM
from data_quality_spark.operators import nested as NQ
from data_quality_spark.operators.profiling import datetime_pattern_frequency


def test_leaf_paths():
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("a", T.StringType()),
            T.StructField(
                "b",
                T.StructType(
                    [
                        T.StructField("c", T.LongType()),
                        T.StructField("d", T.ArrayType(T.StringType())),
                    ]
                ),
            ),
            T.StructField("m", T.MapType(T.StringType(), T.StringType())),
        ]
    )
    got = [p for p, _t in NQ.leaf_paths(schema)]
    assert got == ["a", "b.c", "b.d", "m"]


def test_nested_quality_struct(spark):
    rows = [
        ('{"name": "x", "inner": {"n": "12", "tags": ["a", ""]}}',),
        ('{"name": "", "inner": {"n": "abc", "tags": []}}',),
        ('{"name": "y", "inner": {"n": null, "tags": ["b"]}}',),
    ]
    df = spark.createDataFrame(rows, "j string")
    schema = "name string, inner struct<n: string, tags: array<string>>"
    out = NQ.json_quality(df, "j", schema, expected={"_j.inner.n": "INTEGER"})
    got = {r["path"]: (r["valid_cnt"], r["empty_cnt"], r["invalid_cnt"]) for r in out.collect()}
    # paths rooted at the parsed alias _j
    assert got["_j.name"] == (2, 1, 0)
    assert got["_j.inner.n"] == (1, 1, 1)      # 12 valid, null empty, abc invalid
    assert got["_j.inner.tags"] == (2, 1, 0)   # "a","b" valid; "" empty


def test_media_pipeline(spark):
    media = MM.synthesize_media(spark, 50)
    feats = MM.extract_media_features(media)
    rows = feats.collect()
    assert len(rows) == 50
    by_id = {r["media_id"]: r for r in rows}
    assert by_id[0]["byte_len"] > 64
    assert len(by_id[0]["sha256"]) == 64
    assert by_id[0]["magic"] in ("image/jpeg", "image/png", "audio/wav", "audio/mpeg")
    assert len(by_id[0]["feature"]) == 8
    # deterministic under repartitioning
    feats2 = MM.extract_media_features(MM.synthesize_media(spark, 50).repartition(7))
    by_id2 = {r["media_id"]: r for r in feats2.collect()}
    assert all(by_id[i]["sha256"] == by_id2[i]["sha256"] for i in range(50))
    assert all(by_id[i]["feature"] == by_id2[i]["feature"] for i in range(50))


def test_media_dedup(spark):
    # byte-identical payloads share the extracted sha256 digest, whatever
    # their ids and partitions
    a = MM.synthesize_media(spark, 10)
    dup = a.filter(F.col("media_id") < 3).withColumn(
        "media_id", F.col("media_id") + 100
    )
    feats = MM.extract_media_features(a.union(dup).repartition(3))
    groups = (
        feats.groupBy("sha256")
        .agg(F.count(F.lit(1)).alias("copies"), F.min("media_id").alias("canonical_id"))
        .filter(F.col("copies") > 1)
        .collect()
    )
    assert len(groups) == 3
    assert all(r["copies"] == 2 and r["canonical_id"] < 3 for r in groups)


def test_datetime_pattern_frequency(spark):
    rows = [("2024-01-31",), ("2024-02-01",), ("1/31/2024",), ("notadate",), ("31.1.2024",)]
    df = spark.createDataFrame(rows, "d string")
    got = {r["pattern"]: r["cnt"] for r in datetime_pattern_frequency(df, "d").collect()}
    assert got["yyyy-MM-dd"] == 2
    assert got["M/d/yyyy"] == 1
    assert got["d.M.yyyy"] == 1
    assert "notadate" not in got
