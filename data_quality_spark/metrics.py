"""Per-rule hit metrics via `observe()` — zero extra passes.

The reference accumulates `ValueQualityStatistics` counters inline with the
scan (`ValueQualityAnalyzer.java:67-99`); `DataFrame.observe` is the exact
Spark analog: metrics ride along with the action that materializes the
DataFrame, no second job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from .rules import RULE_NAMES


def observe_rule_metrics(df: DataFrame, name: str = "dq_rule_metrics") -> tuple[DataFrame, Observation]:
    """Attach an Observation counting pass/fail per rule + keep/drop totals.

    Read `observation.get` AFTER an action has materialized the DataFrame.
    `name` must be unique among concurrently-running observed queries
    (the concurrent-bucket checkpoint path names one per bucket).
    """
    obs = Observation(name)
    aggs = [F.count(F.lit(1)).alias("rows_total")]
    for rule in RULE_NAMES:
        aggs.append(F.sum(F.when(F.col("rule_" + rule), 1).otherwise(0)).alias(f"{rule}_pass"))
    if "keep" in df.columns:
        aggs.append(F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kept_total"))
    return df.observe(obs, *aggs), obs
