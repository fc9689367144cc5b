"""Survivorship (golden record): the reference's Drools rule functions that
the queries use (`survivorship/model/RuleDefinition.java:193-221`) as
aggregate expressions.

No rule engine: every rule is a deterministic aggregate, composed per
attribute in ONE groupBy.agg — conflict resolution is the aggregate's own
semantics plus explicit tiebreaks, replacing Drools salience.  All rules are
mergeable aggregates → partial aggregation at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def largest(c: Column) -> Column:
    """Largest (`action/LargestAction`)."""
    return F.max(c)


def smallest(c: Column) -> Column:
    return F.min(c)


def longest(c: Column) -> Column:
    """Longest value; tie → lexicographically greatest (deterministic).
    Length-prefixed max trick keeps it a single mergeable aggregate."""
    return F.substring(
        F.max(F.concat(F.lpad(F.length(c).cast("string"), 9, "0"), c)), 10, 1_000_000
    )


def most_common_deterministic(df: DataFrame, group_cols: list[str], value_col: str) -> DataFrame:
    """Exact MostCommon with greatest-value tiebreak (deterministic): two
    aggregations (value counts → argmax via struct max), both
    partial-agg friendly.  Output: group_cols + survivor."""
    counts = df.groupBy(*group_cols, value_col).agg(F.count(F.lit(1)).alias("cnt"))
    return counts.groupBy(*group_cols).agg(
        F.max(F.struct(F.col("cnt"), F.col(value_col).alias("v")))["v"].alias("survivor")
    )
