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

# The rule-hit counters as SQL aggregates over the rule_* and keep columns,
# shared by the batch observation and the streaming windows.
RULE_COUNTERS: tuple[str, ...] = (
    "count(1) AS rows_total",
    *(f"sum(CASE WHEN rule_{name} THEN 1 ELSE 0 END) AS {name}_pass" for name in RULE_NAMES),
    "sum(CASE WHEN keep THEN 1 ELSE 0 END) AS kept_total",
)


def observe_rule_metrics(df: DataFrame, name: str = "dq_rule_metrics") -> tuple[DataFrame, Observation]:
    """Attach an Observation counting pass/fail per rule + keep/drop totals
    (`RULE_COUNTERS`; `df` carries the rule_* and keep columns).

    Read `observation.get` AFTER an action has materialized the DataFrame.
    `name` must be unique among concurrently-running observed queries
    (the concurrent-bucket checkpoint path names one per bucket).
    """
    obs = Observation(name)
    return df.observe(obs, *map(F.expr, RULE_COUNTERS)), obs
