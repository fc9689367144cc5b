"""IVF ANN + stateful streaming sessionization."""

from datetime import datetime, timedelta

import pyspark.sql.functions as F

from data_quality_spark.operators import ann


def test_ivf_topk_recall(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    base = rng.randn(200, 64).astype("float32")
    for i in range(5):  # planted near neighbors
        base[i + 100] = base[i] + rng.randn(64).astype("float32") * 0.05
    rows = [(i, [float(x) for x in base[i]]) for i in range(200)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        r["query_id"]: r["neighbor_id"]
        for r in ann.ivf_topk(vecs, queries, 1).collect()
    }
    recall = sum(1 for i in range(5) if got.get(i) == i + 100) / 5
    assert recall >= 0.8
    # determinism: same seed → same result
    got2 = {
        r["query_id"]: r["neighbor_id"]
        for r in ann.ivf_topk(vecs, queries, 1).collect()
    }
    assert got == got2


def _events(spark):
    base = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: two sessions separated by a 2h gap
        (1, base, 1.0),
        (1, base + timedelta(minutes=5), 2.0),
        (1, base + timedelta(minutes=10), 3.0),
        (1, base + timedelta(hours=3), 4.0),
        (1, base + timedelta(hours=3, minutes=2), 5.0),
        # user 2: one session
        (2, base + timedelta(minutes=1), 10.0),
        (2, base + timedelta(minutes=20), 20.0),
    ]
    return spark.createDataFrame(rows, "user_id long, ts timestamp, value double")


def test_sessionize_batch(spark):
    from data_quality_spark.streaming.sessionize import sessionize_batch

    out = sessionize_batch(_events(spark))
    rows = sorted(
        ((r["user_id"], r["n_events"], r["total_value"]) for r in out.collect())
    )
    assert rows == [(1, 2, 9.0), (1, 3, 6.0), (2, 2, 30.0)]


def test_sessionize_stream_matches_batch(spark, tmp_path):
    from data_quality_spark.streaming.sessionize import sessionize, sessionize_batch

    in_dir = str(tmp_path / "ev")
    _events(spark).write.parquet(in_dir)
    stream = spark.readStream.schema("user_id long, ts timestamp, value double").parquet(in_dir)
    q = (
        sessionize(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["user_id"], r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM sessions").collect()
    )
    want = sorted(
        (r["user_id"], r["n_events"], r["total_value"])
        for r in sessionize_batch(_events(spark)).collect()
    )
    # stream emits closed sessions; with availableNow the final watermark can
    # leave the LAST session per user un-emitted — batch result must be a
    # superset containing every emitted session
    assert set(got).issubset(set(want))
    assert len(got) >= 1  # at least the gap-closed session emitted
