"""The Arrow feature kernel must equal the native Catalyst expressions on
the fixture corpus and on case-mapping rows — value-for-value, every
feature column.  The Arrow side is the production pass,
`analyze.with_analysis`."""

from data_quality_spark.analyze import with_analysis
from data_quality_spark.functions.textstats import FEATURE_COLS, with_text_features
from data_quality_spark.schema import synthesize_pages


# Unicode 16 capitals that Spark's `lower` maps and Python 3.11's
# `str.lower` does not, beside their lowercase forms; one with NBSP, which
# only Python's `str.split` breaks on
CASE_ROWS = ("Ᲊ ᲊ", "Ꟛ ꟛ Ꟍ ꟍ", "𐵐 𐵰 the 𐵐𐵑 𐵰𐵱", "Ᲊ\xa0ᲊ ᲊ\xa0ᲊ")


def test_rules_feature_parity(spark):
    pages = synthesize_pages(spark, 800, partitions=4).select("url", "text").unionByName(
        spark.createDataFrame([(f"case://{i}", t) for i, t in enumerate(CASE_ROWS)], "url STRING, text STRING")
    )
    nat = {
        r["url"]: tuple(r[c] for c in FEATURE_COLS)
        for r in with_text_features(pages).collect()
    }
    arr = {
        r["url"]: tuple(r[c] for c in FEATURE_COLS)
        for r in with_analysis(pages).collect()
    }
    assert set(nat) == set(arr)
    mismatches = []
    for url in nat:
        if nat[url] != arr[url]:
            mismatches.append((url, dict(zip(FEATURE_COLS, nat[url])), dict(zip(FEATURE_COLS, arr[url]))))
    assert not mismatches, mismatches[:3]
