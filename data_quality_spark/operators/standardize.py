"""Standardization — the reference's Lucene synonym-index path (SURVEY §2.7)
re-expressed with broadcast dictionaries.

Reference: `SynonymIndexSearcher` looks a word up in a Lucene index mapping
word→synonyms with fuzzy `maxEdits` matching
(`standardization/index/SynonymIndexSearcher.java:172-237`);
`FirstNameStandardize` replaces a value by its standard form
(`standardization/query/FirstNameStandardize.java:102-156`).

Spark design: the synonym table is small by definition (it fits an index on
one node in the reference), so it becomes a **broadcast map**:
- exact standardization = `element_at(map, lower(col))` — pure expression,
  no join, no shuffle;
- fuzzy standardization = broadcast join against the distinct dictionary
  keys on a levenshtein bound (candidate space = dict size × distinct
  values, never corpus × dict).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.literals import lit_map

# Lucene FuzzyQuery maxEdits: a fuzzy hit is within this edit distance
MAX_EDITS = 1


def _synonym_to_standard(synonyms: dict[str, list[str]]) -> dict[str, str]:
    """Invert standard→synonyms to synonym→standard (all lower-cased);
    standards map to themselves."""
    out: dict[str, str] = {}
    for std, syns in synonyms.items():
        out[std.lower()] = std
        for s in syns:
            out[s.lower()] = std
    return out


def standardize_expr(col: Column, synonyms: dict[str, list[str]]) -> Column:
    """Exact lookup: value → standard form, original kept when unknown
    (SynonymReplaceAction semantics).  The literal map is broadcast with
    the plan — zero shuffle."""
    m = lit_map(_synonym_to_standard(synonyms), "string", "string")
    return F.coalesce(m[F.lower(col)], col)


def standardize_fuzzy(
    df: DataFrame,
    column: str,
    synonyms: dict[str, list[str]],
) -> DataFrame:
    """`column` standardized as `<column>_std`: exact map hit first; else
    nearest dictionary key within `MAX_EDITS` (Lucene fuzzy query analog,
    deterministic tiebreak: smallest distance, then shortest key, then
    lexicographic).

    Plan shape: distinct values (small) ⨝ broadcast dict keys → best match →
    broadcast the (value→standard) result back onto the corpus.  The corpus
    itself never shuffles.
    """
    lookup = _synonym_to_standard(synonyms)
    spark = df.sparkSession
    dict_df = spark.createDataFrame(
        [(k, v) for k, v in lookup.items()], "syn string, std string"
    )
    values = df.select(F.lower(F.col(column)).alias("val")).distinct()
    cand = (
        values.crossJoin(F.broadcast(dict_df))
        .withColumn("dist", F.levenshtein(F.col("val"), F.col("syn")))
        .filter(F.col("dist") <= MAX_EDITS)
    )
    w = Window.partitionBy("val").orderBy(
        F.asc("dist"), F.asc(F.length("syn")), F.asc("syn")
    )
    best = (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("val", F.col("std").alias("__std"))
    )
    joined = df.join(
        F.broadcast(best), F.lower(F.col(column)) == F.col("val"), "left"
    ).drop("val")
    return joined.withColumn(f"{column}_std", F.coalesce(F.col("__std"), F.col(column))).drop("__std")


# --- Lucene search-mode parity (SynonymIndexSearcher modes) -----------------
#
# The reference exposes six search modes over the synonym index
# (`SynonymIndexSearcher.java:196-229`, query builders :405-490):
# MATCH_ANY / MATCH_ALL (SHOULD / MUST token clauses over word+synonym
# token fields), MATCH_PARTIAL (sloppy PhraseQuery, slop=1),
# MATCH_EXACT (whole-string term on wordterm/synterm), and the _FUZZY
# variants (per-token FuzzyQuery, maxEdits = MAX_EDITS).  Re-expressed here over the
# broadcast dictionary with a deterministic score (query-token coverage;
# Lucene's BM25 rank is index-statistics-dependent and intentionally NOT
# replicated — hit SETS mirror SynonymIndexSearcherTest, ordering is
# coverage-then-docid).


def _an_tokens(s: str) -> list[str]:
    """StandardAnalyzer-style tokens: lower-cased alphanumeric runs."""
    import re

    return re.findall(r"[a-z0-9]+", s.lower())


def _lev_within(a: str, b: str, k: int) -> bool:
    """levenshtein(a, b) <= k (banded; k is 0-2 in practice)."""
    if abs(len(a) - len(b)) > k:
        return False
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        if min(cur) > k:
            return False
        prev = cur
    return prev[-1] <= k


def _tok_hit(qt: str, field_tokens: list[str], fuzzy: bool) -> bool:
    if qt in field_tokens:
        return True
    if fuzzy:
        return any(_lev_within(qt, ft, MAX_EDITS) for ft in field_tokens)
    return False


def _phrase_within_slop(q_tokens: list[str], field_tokens: list[str], slop: int) -> bool:
    """Ordered embedding of q_tokens into field_tokens with total gap ≤ slop
    (the sloppy-PhraseQuery semantics the reference's MATCH_PARTIAL uses —
    reversed tokens don't match at slop 1, one interleaved token does)."""
    if not q_tokens:
        return False
    import math

    best: dict[int, float] = {-1: 0.0}  # last matched field pos → -total_gap
    for qt in q_tokens:
        nxt: dict[int, float] = {}
        for last, neg_gap in best.items():
            for p, ft in enumerate(field_tokens):
                if p > last and ft == qt:
                    g = neg_gap - (p - last - 1 if last >= 0 else 0)
                    if g > nxt.get(p, -math.inf):
                        nxt[p] = g
        best = nxt
        if not best:
            return False
    return max(best.values()) >= -slop


def compile_synonym_entries(entries) -> list[tuple[str, list[str], list[tuple[str, list[str]]]]]:
    """entries: [(word, "syn1|syn2"), ...] (the reference's builder input
    shape) → [(word_lower, word_tokens, [(syn_lower, syn_tokens), ...])]."""
    out = []
    for word, syns in entries:
        syn_list = [s for s in (syns.split("|") if isinstance(syns, str) else syns) if s]
        out.append(
            (
                word.strip().lower(),
                _an_tokens(word),
                [(s.strip().lower(), _an_tokens(s)) for s in syn_list],
            )
        )
    return out


def synonym_match_ids(value: str | None, compiled, mode: str = "MATCH_ANY") -> list[int]:
    """Doc ids matching `value` under `mode`, ordered by (coverage desc,
    doc id asc).  Pure Python on the broadcast dictionary — unit-testable
    against SynonymIndexSearcherTest's expected hit sets."""
    if value is None:
        return []
    q = value.strip().lower()
    if not q:
        return []
    q_tokens = _an_tokens(q)
    fuzzy = mode.endswith("_FUZZY")
    hits: list[tuple[float, int]] = []
    for i, (w, wt, syns) in enumerate(compiled):
        fields = [(w, wt)] + syns
        score = 0.0
        if mode == "MATCH_EXACT":
            if any(q == f for f, _ft in fields):
                score = 1.0
        elif mode == "MATCH_PARTIAL":
            if any(q == f for f, _ft in fields) or any(
                _phrase_within_slop(q_tokens, ft, 1) for _f, ft in fields
            ):
                score = 1.0
        elif mode in ("MATCH_ANY", "MATCH_ANY_FUZZY"):
            for _f, ft in fields:
                n = sum(1 for qt in q_tokens if _tok_hit(qt, ft, fuzzy))
                if q_tokens:
                    score = max(score, n / len(q_tokens))
        elif mode in ("MATCH_ALL", "MATCH_ALL_FUZZY"):
            for _f, ft in fields:
                if all(_tok_hit(qt, ft, fuzzy) for qt in q_tokens):
                    score = 1.0
        else:
            raise ValueError(f"unknown search mode: {mode}")
        if score > 0:
            hits.append((score, i))
    hits.sort(key=lambda t: (-t[0], t[1]))
    return [i for _s, i in hits]


def synonym_search(
    df: DataFrame,
    col: str,
    entries,
    mode: str = "MATCH_ANY",
) -> DataFrame:
    """Distributed search: every row's value → ordered matching doc-id
    array `match_ids`.  The compiled dictionary rides the UDF closure (broadcast with
    the task binary — it is index-on-one-node small by the reference's own
    design); per-batch Arrow transfer, no shuffle, corpus never moves."""
    from pyspark.sql.types import ArrayType, IntegerType

    compiled = compile_synonym_entries(entries)

    @F.pandas_udf(ArrayType(IntegerType()))
    def _search(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vals in batches:
            yield vals.map(lambda v: synonym_match_ids(v, compiled, mode))

    return df.withColumn("match_ids", _search(F.col(col)))


# --- masking (TextPatternUtil.replaceCharacter analog) ----------------------


def mask_same_class(col: Column) -> Column:
    """Masking: replace each char by a same-class substitute chosen by a
    seeded per-value hash (`common/pattern/TextPatternUtil.java:73-80` uses
    a Random; ours is hash-deterministic so masking is stable per value —
    re-identification-safe AND reproducible).

    Lower→x, upper→X, digit→hash-derived digit, everything else kept.

    The per-value digit offset derives from md5 (not xxhash64) so masking
    is reproducible in ANY engine — the driver's DuckDB oracle recomputes
    it exactly (same device as the MinHash/SimHash portable variants).
    """
    masked = F.regexp_replace(col, r"[a-z]", "x")
    masked = F.regexp_replace(masked, r"[A-Z]", "X")
    # digits: shift the whole string's digits by a per-value offset
    # (first 8 md5 hex chars as an integer, mod 10 — engine-agnostic)
    offset = (
        F.conv(F.substring(F.md5(F.concat(F.lit("42"), col)), 1, 8), 16, 10)
        .cast("long")
        % 10
    )
    digits = "0123456789"
    shifted = [digits[i:] + digits[:i] for i in range(10)]
    expr = F.when(offset == 0, F.translate(masked, digits, shifted[0]))
    for i in range(1, 10):
        expr = expr.when(offset == i, F.translate(masked, digits, shifted[i]))
    return expr.otherwise(masked)
