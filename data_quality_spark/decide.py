"""Keep/drop decision: heuristic rules + language + perplexity.

The analog of the reference's dominant-verdict logic
(`DataTypeOccurences.java:41-82` threshold voting): every signal is a column,
the decision is one Spark SQL predicate over the `rule_*` columns
(`rules.RULES`), the language and the perplexity, the reasons an array of
the failed checks' names, both parsed in one projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .rules import RULE_NAMES

ALLOWED_LANGS: tuple[str, ...] = ("en", "de", "fr", "es", "zh")
MAX_PERPLEXITY = 100.0   # applies to detected-English docs only (English LM)

_LANG_OK = "lang_detected IN (" + ", ".join(f"'{lang}'" for lang in ALLOWED_LANGS) + ")"
# the perplexity gate is only meaningful where the LM's language applies
_PPL_OK = f"CASE WHEN lang_detected = 'en' THEN ppl <= {MAX_PERPLEXITY}D ELSE true END"

_CHECKS: tuple[tuple[str, str], ...] = (
    *((name, f"rule_{name}") for name in RULE_NAMES),
    ("language", _LANG_OK),
    ("perplexity", _PPL_OK),
)
_KEEP = " AND ".join(f"({check})" for _, check in _CHECKS)
# the failed checks' names, rules in registry order, then language, perplexity
_REASONS = (
    "filter(array("
    + ", ".join(f"CASE WHEN NOT ({check}) THEN '{name}' END" for name, check in _CHECKS)
    + "), x -> x IS NOT NULL)"
)


def with_decision(df: DataFrame) -> DataFrame:
    """Attach keep + reasons columns.  Expects rule_*, lang_detected, ppl."""
    return df.selectExpr("*", f"{_KEEP} AS keep", f"{_REASONS} AS reasons")
