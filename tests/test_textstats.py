"""Hand-computed micro-table tests for the `with_text_features` columns
(reference test style: inline expected-value unit tests, SURVEY.md §5.1)."""

import pytest
from pyspark.sql import functions as F

from data_quality_spark.functions import textstats as ts


def _one(spark, text, expr):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(expr(F.col("text")).alias("v")).collect()[0]["v"]


TEXTS = [
    "a b  c\nd", "   ", "", "one", "héllo 中文", "ab cdef", "ab!!", "abcd", "a 1",
    "The cat and THE dog", "cat dog", "a b a b", "a A", "x y x y x", "a b c", "a",
    "ab\ncdef\ng", "- one\n- two\ntext", "read more...\ndone", "abc 123 a1",
    "中文中文", "ab中文", None,
]


@pytest.fixture(scope="module")
def feats(spark):
    """`with_text_features` row of each of TEXTS, keyed by text."""
    df = spark.createDataFrame([(t,) for t in TEXTS], "text string")
    return {r["text"]: r for r in ts.with_text_features(df).collect()}


def _ratio(r, num, den):
    return r[num] / r[den]


def test_word_count(feats):
    assert feats["a b  c\nd"]["_nw"] == 4
    assert feats["   "]["_nw"] == 0
    assert feats[""]["_nw"] == 0
    assert feats["one"]["_nw"] == 1


def test_char_count_code_points(feats):
    # code-point semantics (TextLengthStatistics.java:57): é and 中 are 1 each
    assert feats["héllo 中文"]["_nchars"] == 8


def test_mean_word_length(feats):
    r = feats["ab cdef"]
    assert r["_sum_wlen"] / r["_nw"] == pytest.approx(3.0)
    assert feats[""]["_nw"] == feats[""]["_sum_wlen"] == 0


def test_symbol_ratio(feats):
    # "ab!!" → 2 symbols / 4 chars
    assert _ratio(feats["ab!!"], "_n_sym", "_nchars") == pytest.approx(0.5)
    assert _ratio(feats["abcd"], "_n_sym", "_nchars") == pytest.approx(0.0)
    # whitespace and digits are not symbols
    assert _ratio(feats["a 1"], "_n_sym", "_nchars") == pytest.approx(0.0)


def test_stopword_count(feats):
    assert feats["The cat and THE dog"]["_n_stop"] == 3  # the, and, the
    assert feats["cat dog"]["_n_stop"] == 0


def test_distinct_word_ratio(feats):
    assert _ratio(feats["a b a b"], "_n_distinct", "_nw") == pytest.approx(0.5)
    assert _ratio(feats["a A"], "_n_distinct", "_nw") == pytest.approx(0.5)  # case-folded


def test_word_ngrams(spark):
    def grams(ws):
        df = spark.createDataFrame([(ws,)], "w array<string>")
        return df.select(F.expr(ts.ngrams_sql("w", 2)).alias("g")).collect()[0]["g"]

    assert grams(["a", "b", "c", "d"]) == ["a b", "b c", "c d"]
    assert grams(["a"]) == []


def test_duplicate_ngram_fraction(feats):
    # "x y x y x" → bigrams: [x y, y x, x y, y x] → 2 distinct / 4 → dup 0.5
    r = feats["x y x y x"]
    assert 1.0 - r["_n_g2_distinct"] / r["_n_g2"] == pytest.approx(0.5)
    r = feats["a b c"]
    assert 1.0 - r["_n_g2_distinct"] / r["_n_g2"] == pytest.approx(0.0)
    assert feats["a"]["_n_g2"] == 0


def test_line_stats(feats):
    assert feats["ab\ncdef\ng"]["_n_lines"] == 3
    assert _ratio(feats["- one\n- two\ntext"], "_n_bullet", "_n_lines") == pytest.approx(2 / 3)
    assert _ratio(feats["read more...\ndone"], "_n_ellipsis", "_n_lines") == pytest.approx(0.5)


def test_alpha_word_fraction(feats):
    assert _ratio(feats["abc 123 a1"], "_n_alpha_w", "_nw") == pytest.approx(2 / 3)


def test_cjk_ratio(feats):
    assert _ratio(feats["中文中文"], "_n_cjk", "_nchars") == pytest.approx(1.0)
    assert _ratio(feats["ab中文"], "_n_cjk", "_nchars") == pytest.approx(0.5)
    assert _ratio(feats["abcd"], "_n_cjk", "_nchars") == pytest.approx(0.0)


def test_null_text_features(feats):
    # NULL text has NULL features, as in the Python kernel
    assert [feats[None][c] for c in ts.FEATURE_COLS] == [None] * len(ts.FEATURE_COLS)


def test_word_pattern_expr(spark):
    from data_quality_spark.operators.profiling import word_pattern_expr

    got = _one(spark, "John SMITH bought 42 items, 中文 x9y", lambda _: word_pattern_expr("text"))
    assert got == "[Word] [WORD] [word] [Number] items, [Ideogram] [alnum]"
