"""Japanese text operators — transliteration and number normalization."""

import pyspark.sql.functions as F

from data_quality_spark.functions import japanese as JP


def test_katakana_to_romaji_scalar():
    assert JP.katakana_to_romaji_str("カタカナ") == "katakana"
    assert JP.katakana_to_romaji_str("トウキョウ") == "toukyou"
    assert JP.katakana_to_romaji_str("シャツ") == "shatsu"
    assert JP.katakana_to_romaji_str("ラッパ") == "rappa"     # sokuon doubles
    assert JP.katakana_to_romaji_str("コーヒー") == "ko-hi-"
    assert JP.katakana_to_romaji_str("abcカナ") == "abckana"  # pass-through


def test_kanji_numbers():
    cases = {
        "五": 5, "十": 10, "十五": 15, "二十三": 23, "百": 100,
        "三百四十五": 345, "千九百八十四": 1984, "一万二千三百四十五": 12345,
        "三億": 300_000_000,
    }
    for k, v in cases.items():
        assert JP.kanji_number_to_int(k) == v, k
    assert JP.kanji_number_to_int("五x") is None


def test_normalize_numbers_in_text():
    assert (
        JP.normalize_japanese_numbers_str("価格は三百四十五円です")
        == "価格は345円です"
    )


def test_spark_udfs(spark):
    df = spark.createDataFrame([("カタカナ テスト",), ("三百円",)], "t string")
    rows = df.select(
        JP.katakana_to_romaji(F.col("t")).alias("r"),
        JP.normalize_japanese_numbers(F.col("t")).alias("n"),
    ).collect()
    assert rows[0]["r"] == "katakana tesuto"
    assert rows[1]["n"] == "300円"
