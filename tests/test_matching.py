"""Record-linkage matcher tests (reference pattern: exact inline expected
values, `SwooshRecordGroupingTest.java:137-267`)."""

import pyspark.sql.functions as F
import pytest

from data_quality_spark.functions.keyers import fingerprint_key
from data_quality_spark.operators import matching as M


def _pair(spark, a, b):
    return spark.createDataFrame([(a, b)], "a string, b string")


def test_native_matchers(spark):
    df = _pair(spark, "kitten", "sitting")
    r = df.select(M.levenshtein_weight(F.col("a"), F.col("b")).alias("lev")).collect()[0]
    assert r["lev"] == pytest.approx(1 - 3 / 7)


def test_qgram_weight(spark):
    # "abcd" vs "abce": bigrams {ab,bc,cd} vs {ab,bc,ce} → J = 2/4
    r = _pair(spark, "abcd", "abce").select(
        M.qgram_weight(F.col("a"), F.col("b")).alias("q")
    ).collect()[0]
    assert r["q"] == pytest.approx(0.5)


def test_python_matchers_scalar():
    # jellyfish-verified values
    assert M._jaro("MARTHA", "MARHTA") == pytest.approx(0.944444, abs=1e-5)
    assert M._jaro_winkler("MARTHA", "MARHTA") == pytest.approx(0.961111, abs=1e-5)
    assert M._jaro("abc", "abc") == 1.0
    assert M._jaro("abc", "xyz") == 0.0
    assert M._hamming("karolin", "kathrin") == pytest.approx(4 / 7)
    assert M._hamming("abc", "abcd") == 0.0
    assert M._lcs("ABCBDAB", "BDCABA") == pytest.approx(4 / 7)


def test_py_matcher_udf(spark):
    r = _pair(spark, "MARTHA", "MARHTA").select(
        M.py_matcher_weight("jaro", F.col("a"), F.col("b")).alias("j"),
        M.py_matcher_weight("jaro_winkler", F.col("a"), F.col("b")).alias("jw"),
    ).collect()[0]
    assert r["j"] == pytest.approx(0.944444, abs=1e-5)
    assert r["jw"] == pytest.approx(0.961111, abs=1e-5)


def test_candidate_pairs_and_clustering(spark):
    rows = [
        (1, "John Smith"), (2, "john  smith"), (3, "Smith John"),
        (4, "Alice Jones"), (5, "alice jones"), (6, "Bob Brown"),
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    pairs = M.candidate_pairs(df, "id", fingerprint_key(F.col("name")))
    got = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    # fingerprint key sorts+dedupes tokens → 1,2,3 all share a block; 4,5 too
    assert got == {(1, 2), (1, 3), (2, 3), (4, 5)}
    matched = pairs.select(F.col("a_id").alias("id_a"), F.col("b_id").alias("id_b"))
    clusters = {r["id"]: r["cluster_id"] for r in M.cluster_matches(matched).collect()}
    assert clusters == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}


def test_cluster_chain_components(spark):
    # chain 1-2, 2-3, 3-4 must collapse to one component (diameter > 1)
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")
    got = {r["id"]: r["cluster_id"] for r in M.cluster_matches(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cluster_long_chain_pointer_jumping(spark):
    # a 60-node chain has diameter 59: neighbor-min alone would need 59
    # rounds; pointer jumping must converge within max_iter=10 (O(log d))
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in M.cluster_matches(pairs, max_iter=10).collect()
    }
    assert got == {i: 0 for i in range(61)}


def _shuffled_chain(n, seed):
    """Edges of a path over ids 0..n-1 visited in a seeded random order,
    listed in random order: the long-diameter shape root hooking must
    collapse in few rounds."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    ids = rng.permutation(n)
    edges = np.stack([ids[:-1], ids[1:]], axis=1)
    rng.shuffle(edges)
    return pd.DataFrame({"id_a": edges[:, 0], "id_b": edges[:, 1]}, dtype="int64")


def test_cluster_matches_raises_on_nonconvergence(spark):
    from pyspark.errors import PythonException

    # a shuffled 41-node chain takes 4 rounds; the kernel raises at execution
    pairs = spark.createDataFrame(_shuffled_chain(41, seed=1))
    with pytest.raises(PythonException, match="did not converge"):
        M.cluster_matches(pairs, max_iter=2).collect()


def test_cluster_shuffled_100k_chain_converges(spark):
    # hooking a node's own label instead of its root took 15,641 rounds here
    pairs = spark.createDataFrame(_shuffled_chain(100_000, seed=3))
    r = M.cluster_matches(pairs).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("id").alias("ids"),
        F.max("cluster_id").alias("hi"),
        F.min("cluster_id").alias("lo"),
    ).collect()[0]
    assert (r["n"], r["ids"], r["lo"], r["hi"]) == (100_000, 100_000, 0, 0)


def test_tokenized_modes_exact_vectors():
    from data_quality_spark.operators.matching import (
        _anyorder,
        _exact_eq,
        _levenshtein_ratio,
        _sameorder,
        _sameplace,
    )

    # ANYORDER: Hungarian recovers the perfect permutation matching
    assert _anyorder("john smith", "smith john", _exact_eq) == 1.0
    assert abs(_anyorder("john smith extra", "smith john", _exact_eq) - 2 / 3) < 1e-12
    # partial-token match the sorted-token approximation gets wrong:
    # jon<->john 0.75 + smith<->smith 1.0, / 2
    assert abs(_anyorder("jon smith", "smith john", _levenshtein_ratio) - 0.875) < 1e-12
    # SAMEPLACE: positional, normalized by the longer list
    assert _sameplace("a b", "a c", _exact_eq) == 0.5
    assert _sameplace("a b c", "a b", _exact_eq) == 2 / 3
    # SAMEORDER: best order-preserving embedding of the shorter list
    assert _sameorder("a c", "a b c", _exact_eq) == 2 / 3
    # order must be kept: "c" before "a" has no monotone embedding into "a b c"
    assert _sameorder("c a", "a b c", _exact_eq) == 0.0


def test_tokenized_weight_spark(spark):
    from data_quality_spark.operators.matching import tokenized_weight

    df = spark.createDataFrame(
        [("john smith", "smith john"), ("aa bb", "aa bb"), (None, "x")],
        "a string, b string",
    )
    rows = df.select(
        tokenized_weight("exact", "anyorder", F.col("a"), F.col("b")).alias("any"),
        tokenized_weight("exact", "sameplace", F.col("a"), F.col("b")).alias("same"),
    ).collect()
    assert rows[0]["any"] == 1.0 and rows[0]["same"] == 0.0
    assert rows[1]["any"] == 1.0 and rows[1]["same"] == 1.0
    assert rows[2]["any"] == 0.0

