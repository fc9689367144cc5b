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


def test_cluster_matches_raises_on_nonconvergence(spark):
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    with pytest.raises(ValueError, match="did not converge"):
        M.cluster_matches(pairs, max_iter=2)


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

