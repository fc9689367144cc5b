"""End-to-end pipeline gates (FIXTURES.md invariants):

- keep/drop F1 ≥ 0.99 vs the oracle labels, and keep, every rule verdict
  and the reasons equal to the oracle's on every page
- byte-identical scrubbed text per url
- determinism under different partitioning
- langid accuracy on the synthesized corpus
"""

import pyspark.sql.functions as F
import pytest

from data_quality_spark.pipeline import apply_quality_pipeline, output_columns
from data_quality_spark.schema import gen_rows_local, synthesize_pages

from .oracle import label_row

N_DOCS = 3000


@pytest.fixture(scope="module")
def result_and_oracle(spark):
    pages = synthesize_pages(spark, N_DOCS, partitions=8)
    out = apply_quality_pipeline(pages).select(*output_columns())
    got = {r["url"]: r for r in out.collect()}
    want = {}
    for url, _ts, _html, text, _lang in gen_rows_local(N_DOCS):
        want[url] = label_row(text)
    return got, want


def test_rowcount(result_and_oracle):
    got, want = result_and_oracle
    assert len(got) == N_DOCS == len(want)


def test_keep_f1(result_and_oracle):
    got, want = result_and_oracle
    tp = fp = fn = 0
    for url, w in want.items():
        g = got[url]["keep"]
        if g and w["keep"]:
            tp += 1
        elif g and not w["keep"]:
            fp += 1
        elif not g and w["keep"]:
            fn += 1
    prec = tp / (tp + fp) if tp + fp else 1.0
    rec = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    assert f1 >= 0.99, f"F1={f1:.4f} (tp={tp} fp={fp} fn={fn})"


def test_keep_matches(result_and_oracle):
    got, want = result_and_oracle
    mismatches = [url for url, w in want.items() if got[url]["keep"] != w["keep"]]
    assert not mismatches, mismatches[:10]


def test_reasons_match(result_and_oracle):
    """The failed rules in `RULE_NAMES` order, then `language`, then
    `perplexity`: the rules and the two model gates are one array."""
    got, want = result_and_oracle
    mismatches = [
        (url, got[url]["reasons"], w["reasons"])
        for url, w in want.items()
        if list(got[url]["reasons"]) != w["reasons"]
    ]
    assert not mismatches, mismatches[:10]


def test_scrub_byte_identical(result_and_oracle):
    got, want = result_and_oracle
    for url, w in want.items():
        g = got[url]["scrubbed_text"]
        assert g.encode("utf-8") == w["scrubbed"].encode("utf-8"), url


def test_rule_verdicts_match(result_and_oracle):
    got, want = result_and_oracle
    mismatches = []
    for url, w in want.items():
        for name, val in w["verdicts"].items():
            if got[url][f"rule_{name}"] != val:
                mismatches.append((url, name))
    assert not mismatches, mismatches[:10]


def test_langid_on_clean_docs(result_and_oracle):
    got, want = result_and_oracle
    agree = sum(1 for url in want if got[url]["lang_detected"] == want[url]["lang"])
    assert agree / len(want) >= 0.999


def test_determinism_across_partitioning(spark):
    """Same (seed, n) at different parallelism → identical bytes (the
    FIXTURES.md determinism invariant, local stand-in for cluster runs)."""
    a = synthesize_pages(spark, 500, partitions=3)
    b = synthesize_pages(spark, 500, partitions=13)
    ra = {r["url"]: r for r in apply_quality_pipeline(a).select(*output_columns()).collect()}
    rb = {r["url"]: r for r in apply_quality_pipeline(b).select(*output_columns()).collect()}
    assert set(ra) == set(rb)
    for url in ra:
        assert ra[url]["keep"] == rb[url]["keep"]
        assert ra[url]["scrubbed_text"] == rb[url]["scrubbed_text"]
        assert ra[url]["ppl"] == rb[url]["ppl"]


def test_html_column_pruned(spark, tmp_path):
    """The binary html column must never be read from the parquet scan —
    column pruning must reach the source (critical at 100 TB)."""
    path = str(tmp_path / "pages")
    synthesize_pages(spark, 50).write.parquet(path)
    pages = spark.read.parquet(path)
    plan = (
        apply_quality_pipeline(pages)
        .select(*output_columns())
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    read_schemas = [
        l.split("ReadSchema:")[1] for l in plan.split("\n") if "ReadSchema:" in l
    ]
    assert read_schemas, plan
    for schema in read_schemas:
        assert "html" not in schema, schema
