"""SparkSession factory tuned for the quality-filter workload.

Scale notes (100 TB / 1000-executor target):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting — the
  first line of defense against domain-level skew in web corpora.
- Arrow on with a bounded batch size so the fused analysis UDF
  (`analyze.analyze_text`: features, langid, perplexity) streams bounded
  memory per task; scrub is a JVM expression cascade.
- shuffle.partitions sized for local[32] tests; on a real cluster this is
  overridden by --conf (AQE coalescing makes the initial number forgiving).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("DQS_SHUFFLE_PARTITIONS", "32"))


def get_spark(
    app_name: str = "data-quality-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config."""
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = os.environ.get("DQS_MASTER", "local[*]")
    builder = builder.master(master)
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # session-local timezone pinned for deterministic timestamp semantics
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("DQS_DRIVER_MEMORY", "8g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
