"""Web-text quality rule registry.

The reference's validation framework attaches a valid/invalid/empty verdict
per value per rule (`ValueQualityAnalyzer`,
`dataquality-statistics/.../quality/ValueQualityAnalyzer.java:28,67-99`).
Here each rule is a named **boolean Catalyst expression** over the `text`
column (True = passes, i.e. "valid"); the keep/drop decision is the
conjunction, and per-rule hit counts are plain `sum(when(...))` aggregates —
the exact Spark analog of `ValueQualityStatistics` counting
(`common/inference/ValueQualityStatistics.java:108-122`).

Thresholds follow the Gopher/C4 heuristics family; all values are frozen
constants so the pytest oracle and the DuckDB oracle reproduce them exactly.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .functions import textstats as ts
from .functions import typeinfer as ti

# Frozen rule thresholds (Gopher-style bounds adapted to the fixture corpus).
MIN_WORDS = 10
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 2.0
MAX_MEAN_WORD_LEN = 12.0
MAX_SYMBOL_RATIO = 0.30
MIN_STOPWORD_COUNT = 1          # at least one English stop word → prose-like
MAX_DUP_2GRAM_FRACTION = 0.30
MAX_DUP_3GRAM_FRACTION = 0.20
MIN_DISTINCT_WORD_RATIO = 0.30
MIN_ALPHA_WORD_FRACTION = 0.70
MAX_BULLET_LINE_FRACTION = 0.90
MAX_ELLIPSIS_LINE_FRACTION = 0.30
CJK_GATE_RATIO = 0.30            # above this, word rules yield to char rules
MIN_CHARS_CJK = 20
MAX_CHARS_CJK = 400_000


@dataclass(frozen=True)
class Rule:
    """One keep/drop rule: name + boolean expression builder (True = pass)."""

    name: str
    expr: Callable[[Column], Column]


def _cjk_gate() -> Column:
    """Word-based rules don't apply to unsegmented (CJK-dominant) text —
    they pass through and `char_count_cjk` takes over."""
    return (F.col("_nchars") > 0) & (
        F.col("_n_cjk") / F.col("_nchars") > CJK_GATE_RATIO
    )


def _gated(rule: Column) -> Column:
    return F.when(_cjk_gate(), F.lit(True)).otherwise(rule)


# Each builder returns a Column over the scalar feature columns
# (ts.FEATURE_COLS, attached by analyze.with_analysis or ts.with_text_features)
# + the raw text column.


def _r_word_count(c: Column) -> Column:
    wc = F.col("_nw")
    return _gated((wc >= MIN_WORDS) & (wc <= MAX_WORDS))


def _r_mean_word_length(c: Column) -> Column:
    wc = F.col("_nw")
    m = F.col("_sum_wlen") / wc
    return _gated((wc > 0) & (m >= MIN_MEAN_WORD_LEN) & (m <= MAX_MEAN_WORD_LEN))


def _r_symbol_ratio(c: Column) -> Column:
    n = F.col("_nchars")
    return F.when(n > 0, F.col("_n_sym") / n <= MAX_SYMBOL_RATIO).otherwise(F.lit(True))


def _r_stopwords(c: Column) -> Column:
    return _gated(F.col("_n_stop") >= MIN_STOPWORD_COUNT)


def _r_dup_2gram(c: Column) -> Column:
    n, d = F.col("_n_g2"), F.col("_n_g2_distinct")
    return _gated(
        F.when(n > 0, 1.0 - d / n <= MAX_DUP_2GRAM_FRACTION).otherwise(F.lit(True))
    )


def _r_dup_3gram(c: Column) -> Column:
    n, d = F.col("_n_g3"), F.col("_n_g3_distinct")
    return _gated(
        F.when(n > 0, 1.0 - d / n <= MAX_DUP_3GRAM_FRACTION).otherwise(F.lit(True))
    )


def _r_distinct_words(c: Column) -> Column:
    wc = F.col("_nw")
    return _gated((wc > 0) & (F.col("_n_distinct") / wc >= MIN_DISTINCT_WORD_RATIO))


def _r_alpha_words(c: Column) -> Column:
    wc = F.col("_nw")
    return _gated((wc > 0) & (F.col("_n_alpha_w") / wc >= MIN_ALPHA_WORD_FRACTION))


def _r_char_count_cjk(c: Column) -> Column:
    ln = F.col("_nchars")
    return F.when(
        _cjk_gate(), (ln >= MIN_CHARS_CJK) & (ln <= MAX_CHARS_CJK)
    ).otherwise(F.lit(True))


def _r_bullet_lines(c: Column) -> Column:
    return F.col("_n_bullet") / F.col("_n_lines") <= MAX_BULLET_LINE_FRACTION


def _r_ellipsis_lines(c: Column) -> Column:
    return F.col("_n_ellipsis") / F.col("_n_lines") <= MAX_ELLIPSIS_LINE_FRACTION


def _r_non_empty(c: Column) -> Column:
    return ~ti.is_empty(c)


RULES: tuple[Rule, ...] = (
    Rule("non_empty", _r_non_empty),
    Rule("word_count", _r_word_count),
    Rule("mean_word_length", _r_mean_word_length),
    Rule("symbol_ratio", _r_symbol_ratio),
    Rule("stopwords", _r_stopwords),
    Rule("dup_2gram", _r_dup_2gram),
    Rule("dup_3gram", _r_dup_3gram),
    Rule("distinct_words", _r_distinct_words),
    Rule("alpha_words", _r_alpha_words),
    Rule("char_count_cjk", _r_char_count_cjk),
    Rule("bullet_lines", _r_bullet_lines),
    Rule("ellipsis_lines", _r_ellipsis_lines),
)

RULE_NAMES: tuple[str, ...] = tuple(r.name for r in RULES)


def attach_rules(df_with_features: DataFrame) -> DataFrame:
    """`rule_<name>` booleans from already-attached feature columns (cheap
    scalar expressions — one projection, codegen'd); the feature columns
    are dropped."""
    c = F.col("text")
    # a NULL page fails every rule, including those that pass empty text
    cols = [
        (c.isNotNull() & F.coalesce(r.expr(c), F.lit(False))).alias("rule_" + r.name)
        for r in RULES
    ]
    return df_with_features.select("*", *cols).drop(*ts.FEATURE_COLS)


def keep_expr() -> Column:
    """Conjunction of all rule verdicts."""
    out = F.lit(True)
    for name in RULE_NAMES:
        out = out & F.col("rule_" + name)
    return out


def reasons_expr() -> Column:
    """Array of names of failed rules (stable rule-registry order)."""
    pairs = [
        F.when(~F.col("rule_" + name), F.lit(name)) for name in RULE_NAMES
    ]
    return F.filter(F.array(*pairs), lambda x: x.isNotNull())

