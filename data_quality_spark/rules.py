"""Web-text quality rule registry.

The reference's validation framework attaches a valid/invalid/empty verdict
per value per rule (`ValueQualityAnalyzer`,
`dataquality-statistics/.../quality/ValueQualityAnalyzer.java:28,67-99`).
Here each rule is a named **Spark SQL predicate** over the feature columns
(`ts.FEATURE_COLS`) and `text` (true = passes, i.e. "valid"), and
`attach_rules` parses all of them in one `selectExpr`; the keep/drop
decision is their conjunction (`decide.py`), and per-rule hit counts are
plain `sum(CASE ...)` aggregates (`metrics.py`), the exact Spark analog of
`ValueQualityStatistics` counting
(`common/inference/ValueQualityStatistics.java:108-122`).

Thresholds follow the Gopher/C4 heuristics family; all values are frozen
constants so the pytest oracle and the DuckDB oracle reproduce them exactly.
In the SQL they are written as double literals (`0.3D`): a bare `0.3`
parses as DECIMAL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

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

# Unsegmented (CJK-dominant) text: word-based rules do not apply to it, they
# pass and `char_count_cjk` takes over.
_CJK = f"(_nchars > 0 AND _n_cjk / _nchars > {CJK_GATE_RATIO}D)"


def _words_rule(pred: str) -> str:
    return f"CASE WHEN {_CJK} THEN true ELSE {pred} END"


# Spark SQL literals process backslash escapes; the regex keeps its own
_NON_BLANK = ti.NON_BLANK_CHAR.replace("\\", "\\\\")

RULES: tuple[tuple[str, str], ...] = (
    ("non_empty", f"text IS NOT NULL AND text RLIKE '{_NON_BLANK}'"),
    ("word_count", _words_rule(f"_nw >= {MIN_WORDS} AND _nw <= {MAX_WORDS}")),
    (
        "mean_word_length",
        _words_rule(
            f"_nw > 0 AND _sum_wlen / _nw >= {MIN_MEAN_WORD_LEN}D"
            f" AND _sum_wlen / _nw <= {MAX_MEAN_WORD_LEN}D"
        ),
    ),
    ("symbol_ratio", f"CASE WHEN _nchars > 0 THEN _n_sym / _nchars <= {MAX_SYMBOL_RATIO}D ELSE true END"),
    ("stopwords", _words_rule(f"_n_stop >= {MIN_STOPWORD_COUNT}")),
    (
        "dup_2gram",
        _words_rule(
            f"CASE WHEN _n_g2 > 0 THEN 1.0D - _n_g2_distinct / _n_g2 <= {MAX_DUP_2GRAM_FRACTION}D ELSE true END"
        ),
    ),
    (
        "dup_3gram",
        _words_rule(
            f"CASE WHEN _n_g3 > 0 THEN 1.0D - _n_g3_distinct / _n_g3 <= {MAX_DUP_3GRAM_FRACTION}D ELSE true END"
        ),
    ),
    ("distinct_words", _words_rule(f"_nw > 0 AND _n_distinct / _nw >= {MIN_DISTINCT_WORD_RATIO}D")),
    ("alpha_words", _words_rule(f"_nw > 0 AND _n_alpha_w / _nw >= {MIN_ALPHA_WORD_FRACTION}D")),
    (
        "char_count_cjk",
        f"CASE WHEN {_CJK} THEN _nchars >= {MIN_CHARS_CJK} AND _nchars <= {MAX_CHARS_CJK} ELSE true END",
    ),
    ("bullet_lines", f"_n_bullet / _n_lines <= {MAX_BULLET_LINE_FRACTION}D"),
    ("ellipsis_lines", f"_n_ellipsis / _n_lines <= {MAX_ELLIPSIS_LINE_FRACTION}D"),
)

RULE_NAMES: tuple[str, ...] = tuple(name for name, _ in RULES)

# Each rule as the boolean a page gets: a NULL page fails every rule,
# including those that pass empty text, and a NULL predicate fails.
RULE_SQL: dict[str, str] = {name: f"(text IS NOT NULL AND coalesce({pred}, false))" for name, pred in RULES}


def attach_rules(df_with_features: DataFrame) -> DataFrame:
    """`rule_<name>` booleans (`RULE_SQL`) from already-attached feature
    columns (cheap scalar expressions — one projection, codegen'd); the
    feature columns are dropped."""
    return df_with_features.selectExpr("*", *(f"{RULE_SQL[n]} AS rule_{n}" for n in RULE_NAMES)).drop(
        *ts.FEATURE_COLS
    )
