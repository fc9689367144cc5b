"""End-to-end quality-filter pipeline: rules → langid → perplexity → scrub →
decide, composed as ONE logical plan (single scan; Catalyst collapses the
projections; the fused analysis UDF runs in one ArrowEvalPython stage).

spark-submit entry:
    spark-submit --py-files dq.zip -m data_quality_spark.pipeline \
        --input <pages parquet/iceberg> --output <dir> [--buckets 64]
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import decide, rules, scrub
from .analyze import with_analysis
from .session import get_spark


def apply_quality_pipeline(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → + rule_*, lang_detected, ppl,
    scrubbed_text, keep, reasons.

    Column-pruning note: `html` is never referenced, so the parquet scan
    never reads it (verified via .explain ReadSchema) — critical at 100 TB.
    """
    df = with_analysis(pages)          # ONE Arrow pass: features+lang+ppl
    df = rules.attach_rules(df)
    df = df.drop("lang_conf")
    df = df.withColumn("scrubbed_text", scrub.scrub_expr(F.col("text")))
    df = decide.with_decision(df)
    return df


def output_columns() -> list[str]:
    return [
        "url",
        "warc_ts",
        "lang",
        "lang_detected",
        "ppl",
        "keep",
        "reasons",
        "scrubbed_text",
        *[f"rule_{n}" for n in rules.RULE_NAMES],
    ]


def run(
    input_path: str,
    output_path: str,
    buckets: int = 0,
    master: str | None = None,
    bucket_concurrency: int = 1,
    data_format: str = "parquet",
    catalog: str = "dq",
    warehouse: str = "/tmp/dq_warehouse",
    catalog_type: str = "hadoop",
) -> dict:
    """Batch entry point.  With buckets>0, runs resumable per-bucket commits
    (see checkpoint.py; `bucket_concurrency` > 1 keeps a big cluster
    saturated by running that many bucket jobs at once); otherwise a
    single write.

    `data_format='iceberg'` resolves input/output as catalog table names
    through the configured Iceberg catalog (sources/iceberg.py — pure
    conf; the DataFrame plan is identical).  When the Iceberg runtime
    jars are absent (this sandbox) the CLI degrades gracefully: a clear
    warning, then the parquet-path semantics, so the same command line
    works in both environments.  Bucketed (checkpointed) runs keep the
    file-based commit protocol in both modes.
    """
    from .sources.iceberg import (
        ICEBERG_RUNTIME_PACKAGE,
        iceberg_available,
        iceberg_conf,
        read_pages,
        write_output,
    )

    extra_conf = iceberg_conf(catalog, warehouse, catalog_type) if data_format == "iceberg" else None
    spark = get_spark(app_name="dq-pipeline", master=master, extra_conf=extra_conf)
    fmt = data_format
    if fmt == "iceberg" and not iceberg_available(spark):
        import sys

        print(
            "WARNING: --format iceberg requested but the Iceberg runtime is not "
            f"on the classpath (submit with --packages {ICEBERG_RUNTIME_PACKAGE}); "
            "falling back to parquet paths.",
            file=sys.stderr,
        )
        fmt = "parquet"
    pages = read_pages(spark, input_path, fmt)
    if buckets > 0:
        from .checkpoint import run_with_checkpoint

        return run_with_checkpoint(
            spark, pages, output_path, n_buckets=buckets, max_concurrency=bucket_concurrency
        )
    from .metrics import observe_rule_metrics

    out = apply_quality_pipeline(pages).select(*output_columns())
    out, obs = observe_rule_metrics(out)
    write_output(out, output_path, fmt, partition_by=["keep"])
    return dict(obs.get)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="pages parquet path, or Iceberg table name with --format iceberg")
    p.add_argument("--output", required=True, help="output dir, or Iceberg table name with --format iceberg")
    p.add_argument("--buckets", type=int, default=0)
    p.add_argument("--bucket-concurrency", type=int, default=1)
    p.add_argument("--master", default=None)
    p.add_argument("--format", choices=["parquet", "iceberg"], default="parquet")
    p.add_argument("--catalog", default="dq", help="Iceberg catalog name (--format iceberg)")
    p.add_argument("--warehouse", default="/tmp/dq_warehouse", help="Iceberg warehouse location")
    p.add_argument("--catalog-type", default="hadoop", choices=["hadoop", "hive", "rest"])
    a = p.parse_args()
    metrics = run(
        a.input, a.output, buckets=a.buckets, master=a.master,
        bucket_concurrency=a.bucket_concurrency, data_format=a.format,
        catalog=a.catalog, warehouse=a.warehouse, catalog_type=a.catalog_type,
    )
    print(metrics)


if __name__ == "__main__":
    main()
