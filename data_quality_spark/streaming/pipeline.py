"""Streaming quality pipeline: readStream → rules/models/scrub → writeStream.

The reference has no streaming runtime, but every accumulator it defines is
incremental and mergeable (`ValueQualityStatistics.mergeCounts`,
`common/inference/ValueQualityStatistics.java:92-97`) — exactly the property
Structured Streaming stateful aggregation needs (SURVEY.md §2.11).  The
batch rule/model/scrub stages are pure per-row projections, so they lift to
streaming unchanged; only the metrics aggregation needs watermarked windows.

Ops notes at scale: file-source streaming over an Iceberg/parquet landing
zone; the same bucketed-commit pattern (checkpoint.py) is subsumed by the sink's own
checkpointLocation — exactly-once via the streaming commit log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..metrics import RULE_COUNTERS
from ..pipeline import apply_quality_pipeline, output_columns
from ..rules import RULE_NAMES
from ..schema import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)


def streaming_quality(pages_stream: DataFrame) -> DataFrame:
    """Identical projection pipeline as batch — rules, langid, perplexity,
    scrub, decision all lift to streaming unchanged (pure per-row)."""
    return apply_quality_pipeline(pages_stream).select(*output_columns())


def windowed_rule_metrics(
    quality_stream: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Per-window keep/drop + rule-hit counts with late-data watermarking.

    Mergeable counters → partial aggregation in the state store; the
    watermark bounds state size (old windows evict) — the streaming form of
    `ValueQualityStatistics` accounting.
    """
    return (
        quality_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"))
        .agg(*map(F.expr, RULE_COUNTERS))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "rows_total",
            "kept_total",
            *[f"{n}_pass" for n in RULE_NAMES],
        )
    )


def run_stream_once(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> None:
    """Process everything currently in input_dir exactly once
    (trigger availableNow) and write partitioned parquet — the streaming
    twin of pipeline.run; restartable from the sink checkpoint."""
    stream = streaming_quality(read_pages_stream(spark, input_dir))
    q = (
        stream.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def dedup_pages_stream(pages_stream: DataFrame, delay: str = "2 hours") -> DataFrame:
    """Streaming canonical-URL dedup: recrawl copies of a page arriving
    within the watermark are dropped on the canonical key BEFORE any
    model work runs.

    `dropDuplicatesWithinWatermark` retains per-key state only until
    the event-time watermark passes (bounded state at crawl scale),
    unlike `dropDuplicates`, whose state grows with every key seen.
    The canonicalizer is the same scan-side expression as the batch
    path, so batch and streaming agree on what "the same page" means.

    Determinism caveat: the surviving ROW per key is whichever copy the
    operator saw first within a micro-batch (partition-order dependent)
    — the canonical-key SET is deterministic, the surviving payload is
    not.  When keep-first-by-id semantics matter, use the batch
    `urltools.url_duplicate_groups` (min-id keep) downstream instead.
    """
    from ..operators.urltools import canonical_url

    return (
        pages_stream.withColumn("canonical_url", canonical_url(F.col("url")))
        .withWatermark("warc_ts", delay)
        .dropDuplicatesWithinWatermark(["canonical_url"])
    )
