"""The Arrow feature kernel must equal the native Catalyst expressions on
the fixture corpus — value-for-value, every feature column.  The Arrow side
is the production pass, `analyze.with_analysis`."""

from data_quality_spark.analyze import with_analysis
from data_quality_spark.functions.textstats import FEATURE_COLS, with_text_features
from data_quality_spark.schema import synthesize_pages


def test_rules_feature_parity(spark):
    pages = synthesize_pages(spark, 800, partitions=4).select("url", "text")
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
