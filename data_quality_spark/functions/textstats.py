"""Native column expressions for text statistics.

Reference semantics: TextLengthAnalyzer / TextLengthStatistics count
**code-point** lengths with and without blanks
(`dataquality-statistics/.../text/TextLengthAnalyzer.java:28,40-50`,
`TextLengthStatistics.java:51-109`).  Spark's `length()` on a string column
counts code points, so the reference semantics are the built-in ones.

On top of that we provide the Gopher/C4-family heuristic features used by the
web-text quality rules (SURVEY.md §7.2 step 2): word count, mean word length,
symbol-to-word ratio, stop-word fraction, repetition (distinct-word and
duplicate-n-gram fractions), line-shape features.  Every expression here is a
pure Catalyst expression — whole-stage-codegen friendly, no Python in the hot
path — and each has an exact ANSI/DuckDB SQL equivalent used by the
correctness oracle.

Determinism contract: every function is a pure per-row function of its input
column; results are invariant under repartitioning and parallelism level.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .literals import lit_array

# Stop-word list — the analog of the reference's dictionary-membership rule
# (WordNetDictionary.isValidTerm, `dataquality-wordnet/.../WordNetDictionary.
# java:112`): membership of tokens in a broadcast set.  Union of the most
# frequent function words of en/de/fr/es so prose in any supported
# space-delimited language registers hits.  Frozen so oracle SQL can inline it.
STOPWORDS: tuple[str, ...] = (
    # en
    "the", "be", "to", "of", "and", "a", "in", "that", "have", "it",
    "is", "was", "for", "on", "are", "with", "as", "at", "this", "but",
    # de
    "der", "die", "das", "und", "ist", "ein", "eine", "mit", "nicht", "auf",
    # fr
    "le", "la", "les", "et", "est", "une", "que", "pour", "dans", "pas",
    # es
    "el", "los", "las", "y", "es", "por", "para", "con", "del", "se",
)


def words(col: Column) -> Column:
    """Array of non-empty whitespace-separated tokens (code-point aware)."""
    return F.filter(F.split(col, r"\s+"), lambda w: w != F.lit(""))


def ngrams_from_words(w: Column, n: int) -> Column:
    """Array of word n-grams (space-joined) from a word-array column.

    O(len) via shifted-slice `zip_with` (not O(len²) per-position slicing).
    Empty array when fewer than n words.  `w` should already be case-folded
    if case-insensitive n-grams are wanted.
    """
    cnt = F.size(w)
    grams = F.zip_with(
        F.slice(w, 1, cnt - (n - 1)),
        F.slice(w, 2, cnt - (n - 1)),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    for k in range(3, n + 1):
        grams = F.zip_with(
            grams,
            F.slice(w, k, cnt - (n - 1)),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(cnt >= n, grams).otherwise(F.array().cast("array<string>"))


# Scalar feature columns shared by the rule registry and the quality score.
# `with_text_features` computes them as Catalyst expressions (the profiling
# queries, whose values DuckDB SQL reproduces); the pipeline gets the same
# values from `compute_features_py`, the per-page kernel inside the fused
# Arrow UDF `analyze.analyze_text`, because Spark's higher-order array
# functions are interpreted (~µs per array element) and thirteen features
# over hundreds of words per page made the native stage the pipeline's
# scaling bottleneck.  The two are kept equal by test_feature_parity and the
# fuzz corpus.
FEATURE_COLS: tuple[str, ...] = (
    "_nchars", "_nw", "_sum_wlen", "_n_stop", "_n_distinct",
    "_n_g2", "_n_g2_distinct", "_n_g3", "_n_g3_distinct",
    "_n_sym", "_n_cjk", "_n_alpha_w", "_n_lines", "_n_bullet", "_n_ellipsis",
)

_CJK_CLASS = r"[\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}\x{AC00}-\x{D7AF}]"

def with_text_features(df):
    """Attach the scalar text-feature columns (see FEATURE_COLS) of `text`
    as native expressions (chained projections so each expensive array is
    built once)."""
    c = F.col("text")
    cjk_count = F.when(
        c.rlike(_CJK_CLASS),
        F.length(c) - F.length(F.regexp_replace(c, _CJK_CLASS, "")),
    ).when(c.isNotNull(), F.lit(0))
    step1 = df.select(
        "*",
        F.length(c).alias("_nchars"),
        words(c).alias("__ws"),
        F.length(F.regexp_replace(c, r"[\p{L}\p{N}\s]", "")).alias("_n_sym"),
        cjk_count.alias("_n_cjk"),
        F.split(c, r"\n").alias("__lines"),
    )
    ws = F.col("__ws")
    lines = F.col("__lines")
    step2 = step1.select(
        "*",
        F.transform(ws, lambda x: F.lower(x)).alias("__lws"),
        F.size(ws).alias("_nw"),
        F.aggregate(ws, F.lit(0), lambda a, x: a + F.length(x)).alias("_sum_wlen"),
        F.size(F.filter(ws, lambda x: x.rlike(r"\p{L}"))).alias("_n_alpha_w"),
        F.size(lines).alias("_n_lines"),
        F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"^[-*•]"))).alias("_n_bullet"),
        F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))).alias("_n_ellipsis"),
    )
    lws = F.col("__lws")
    stop_arr = lit_array(STOPWORDS, "string")
    step3 = step2.select(
        "*",
        F.size(F.filter(lws, lambda x: F.array_contains(stop_arr, x))).alias("_n_stop"),
        F.size(F.array_distinct(lws)).alias("_n_distinct"),
        # NULL text keeps NULL n-gram counts, as in compute_features_py
        F.when(lws.isNotNull(), ngrams_from_words(lws, 2)).alias("__g2"),
        F.when(lws.isNotNull(), ngrams_from_words(lws, 3)).alias("__g3"),
    )
    step4 = step3.select(
        "*",
        F.size("__g2").alias("_n_g2"),
        F.size(F.array_distinct("__g2")).alias("_n_g2_distinct"),
        F.size("__g3").alias("_n_g3"),
        F.size(F.array_distinct("__g3")).alias("_n_g3_distinct"),
    )
    return step4.drop("__ws", "__lws", "__g2", "__g3", "__lines")


# --- Python kernel ----------------------------------------------------------

import re as _re
import string as _string
from itertools import repeat

_RE_WS = _re.compile(r"[ \t\n\x0b\f\r]+")          # Java \s (ASCII)
# characters str.split() splits on that Java \s does not
_RE_PY_ONLY_WS = _re.compile(
    "[\x1c-\x1f\x85\xa0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]"
)
_RE_SYM = _re.compile(r"[^\w \t\n\x0b\f\r]|_")      # ≈ Java [^\p{L}\p{N}\s]
# deletes every ASCII character _RE_SYM does not match
_ASCII_NON_SYM = str.maketrans(
    "", "", _string.ascii_letters + _string.digits + " \t\n\x0b\f\r"
)
_RE_CJK = _re.compile("[\u3040-\u30FF\u4E00-\u9FFF\uAC00-\uD7AF]")
_RE_LETTER_ANY = _re.compile(r"[^\W\d_]")           # ≈ Java \p{L}
_RE_BULLET = _re.compile(r"^[-*•]")
_RE_ELLIPSIS = _re.compile(r"(\.\.\.|…)[ \t\x0b\f\r]*$")
_STOPSET = frozenset(STOPWORDS)


def compute_features_py(t: str | None) -> tuple:
    """Pure-Python feature kernel — must match the native expressions
    exactly (pytest-asserted).  Fast paths apply only where a property of
    the text makes them exact."""
    if t is None:
        return tuple([None] * len(FEATURE_COLS))
    if _RE_PY_ONLY_WS.search(t) is None:
        # every separator str.split() sees is a Java \s one; lower-casing
        # never makes or removes whitespace, and final-sigma context stops
        # at whitespace, so the whole-text lower splits into the words' lowers
        ws = t.split()
        lws = t.lower().split()
    else:
        ws = [w for w in _RE_WS.split(t) if w]
        lws = [w.lower() for w in ws]
    if t.isascii():
        # an ASCII word has a letter iff its lower form has a cased char
        n_alpha = sum(map(str.islower, lws))
        n_sym = len(t.translate(_ASCII_NON_SYM))
        n_cjk = 0
    else:
        n_alpha = sum(map(bool, map(_RE_LETTER_ANY.search, ws)))
        n_sym = _RE_SYM.subn("", t)[1]
        n_cjk = len(_RE_CJK.findall(t))
    nw = len(ws)
    lines = t.split("\n")
    return (
        len(t),
        nw,
        sum(map(len, ws)),
        sum(map(_STOPSET.__contains__, lws)),
        len(set(lws)),
        max(nw - 1, 0),
        len(set(zip(lws, lws[1:]))),
        max(nw - 2, 0),
        len(set(zip(lws, lws[1:], lws[2:]))),
        n_sym,
        n_cjk,
        n_alpha,
        len(lines),
        sum(map(bool, map(_RE_BULLET.match, map(str.strip, lines, repeat(" "))))),
        sum(map(bool, map(_RE_ELLIPSIS.search, lines))),
    )

