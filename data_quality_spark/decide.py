"""Keep/drop decision: heuristic rules + language + perplexity.

The analog of the reference's dominant-verdict logic
(`DataTypeOccurences.java:41-82` threshold voting): every signal is a column,
the decision is one boolean expression, the reasons an array of failed rule
names — all computed in the same projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import rules

ALLOWED_LANGS: tuple[str, ...] = ("en", "de", "fr", "es", "zh")
MAX_PERPLEXITY = 100.0   # applies to detected-English docs only (English LM)


def lang_ok_expr(lang_col: Column) -> Column:
    return lang_col.isin(*ALLOWED_LANGS)


def ppl_ok_expr(lang_col: Column, ppl_col: Column) -> Column:
    """Perplexity gate — only meaningful where the LM's language applies."""
    return F.when(lang_col == "en", ppl_col <= F.lit(MAX_PERPLEXITY)).otherwise(F.lit(True))


def with_decision(df: DataFrame) -> DataFrame:
    """Attach keep + reasons columns.  Expects rule_*, lang_detected, ppl."""
    lang_ok = lang_ok_expr(F.col("lang_detected"))
    ppl_ok = ppl_ok_expr(F.col("lang_detected"), F.col("ppl"))
    heur_keep = rules.keep_expr()
    keep = heur_keep & lang_ok & ppl_ok
    extra = F.filter(
        F.array(
            F.when(~lang_ok, F.lit("language")),
            F.when(~ppl_ok, F.lit("perplexity")),
        ),
        lambda x: x.isNotNull(),
    )
    reasons = F.concat(rules.reasons_expr(), extra)
    return df.withColumn("keep", keep).withColumn("reasons", reasons)
