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

from .literals import sql_array

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

# The capitals (Unicode 14-16) that Spark's `lower` maps and DuckDB's leaves
# unchanged, with their lowercase forms; tests/test_oracle_parity.py
# recomputes the pair from both engines over every code point below U+30000.
# Python 3.11's `str.lower` (Unicode 14.0) leaves 27 of them unchanged too.
LOWER_MAP = {
    0x1C89: 0x1C8A, 0x2C2F: 0x2C5F, 0xA7C0: 0xA7C1, 0xA7C7: 0xA7C8, 0xA7C9: 0xA7CA,
    0xA7CB: 0x0264, 0xA7CC: 0xA7CD, 0xA7D0: 0xA7D1, 0xA7D6: 0xA7D7, 0xA7D8: 0xA7D9,
    0xA7DA: 0xA7DB, 0xA7DC: 0x019B, 0xA7F5: 0xA7F6,
    **{c: c + 0x27 for c in range(0x10570, 0x10596) if c not in (0x1057B, 0x1058B, 0x10593)},
    **{c: c + 0x20 for c in range(0x10D50, 0x10D66)},
}


def words_sql(v: str) -> str:
    """SQL: array of the non-empty whitespace-separated tokens (code-point
    aware) of the SQL expression `v`."""
    return f"filter(split({v}, '\\\\s+'), w -> w != '')"


def ngrams_sql(w: str, n: int) -> str:
    """SQL: array of word n-grams (n >= 2, space-joined) of the word-array
    SQL expression `w`.

    O(len) via shifted-slice `zip_with` (not O(len²) per-position slicing).
    Empty array when fewer than n words.  `w` should already be case-folded
    if case-insensitive n-grams are wanted.
    """
    cnt = f"size({w}) - {n - 1}"
    grams = f"slice({w}, 1, {cnt})"
    for k in range(2, n + 1):
        grams = f"zip_with({grams}, slice({w}, {k}, {cnt}), (a, b) -> concat_ws(' ', a, b))"
    return f"CASE WHEN size({w}) >= {n} THEN {grams} ELSE CAST(array() AS array<string>) END"


# Scalar feature columns shared by the rule registry and the quality score.
# `with_text_features` computes all fifteen natively, as parsed SQL (the
# contract queries, whose values DuckDB SQL reproduces); the pipeline gets
# the same values from `compute_features_py`, the per-page kernel inside the
# fused Arrow UDF `analyze.analyze_text`, because Spark's higher-order array
# functions are interpreted (~µs per array element) and fifteen features
# over hundreds of words per page made the native stage the pipeline's
# scaling bottleneck.  test_feature_parity and test_fuzz_parity compare the
# two column for column.
FEATURE_COLS: tuple[str, ...] = (
    "_nchars", "_nw", "_sum_wlen", "_n_stop", "_n_distinct",
    "_n_g2", "_n_g2_distinct", "_n_g3", "_n_g3_distinct",
    "_n_sym", "_n_cjk", "_n_alpha_w", "_n_lines", "_n_bullet", "_n_ellipsis",
)

_CJK_CLASS = r"[\\x{3040}-\\x{30FF}\\x{4E00}-\\x{9FFF}\\x{AC00}-\\x{D7AF}]"


def with_text_features(df):
    """Attach the scalar text-feature columns (see FEATURE_COLS) of `text`
    as native expressions: four chained projections, so each expensive
    array is built once, each one parsed SQL fragment per column (a few
    py4j calls per column instead of ~10 per Column operator)."""
    step1 = df.selectExpr(
        "*",
        "length(text) AS _nchars",
        f"{words_sql('text')} AS __ws",
        r"length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '')) AS _n_sym",
        f"CASE WHEN text RLIKE '{_CJK_CLASS}' "
        f"THEN length(text) - length(regexp_replace(text, '{_CJK_CLASS}', '')) "
        "WHEN text IS NOT NULL THEN 0 END AS _n_cjk",
        r"split(text, '\\n') AS __lines",
    )
    step2 = step1.selectExpr(
        "*",
        "transform(__ws, x -> lower(x)) AS __lws",
        "size(__ws) AS _nw",
        "aggregate(__ws, 0, (a, x) -> a + length(x)) AS _sum_wlen",
        r"size(filter(__ws, x -> x RLIKE '\\p{L}')) AS _n_alpha_w",
        "size(__lines) AS _n_lines",
        "size(filter(__lines, l -> trim(l) RLIKE '^[-*•]')) AS _n_bullet",
        r"size(filter(__lines, l -> l RLIKE '(\\.\\.\\.|…)\\s*$')) AS _n_ellipsis",
    )
    step3 = step2.selectExpr(
        "*",
        f"size(filter(__lws, x -> array_contains({sql_array(STOPWORDS, 'string')}, x))) AS _n_stop",
        "size(array_distinct(__lws)) AS _n_distinct",
        # NULL text keeps NULL n-gram counts, as in compute_features_py
        f"CASE WHEN __lws IS NOT NULL THEN {ngrams_sql('__lws', 2)} END AS __g2",
        f"CASE WHEN __lws IS NOT NULL THEN {ngrams_sql('__lws', 3)} END AS __g3",
    )
    step4 = step3.selectExpr(
        "*",
        "size(__g2) AS _n_g2",
        "size(array_distinct(__g2)) AS _n_g2_distinct",
        "size(__g3) AS _n_g3",
        "size(array_distinct(__g3)) AS _n_g3_distinct",
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
_RE_LOWER_MAP = _re.compile("[" + "".join(map(chr, LOWER_MAP)) + "]")


def spark_lower(t: str) -> str:
    """Spark's `lower` of `t`: `str.lower` after `LOWER_MAP`, which holds
    capitals that Python's Unicode tables do not lower.  Text without them
    (all ASCII text) pays one C-level scan at most."""
    if not t.isascii() and _RE_LOWER_MAP.search(t) is not None:
        t = t.translate(LOWER_MAP)
    return t.lower()


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
        lws = spark_lower(t).split()
    else:
        ws = [w for w in _RE_WS.split(t) if w]
        lws = list(map(spark_lower, ws))
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

