"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, document fingerprinting.  (Language-ID lives in langid.py.)

All native Catalyst expressions with exact DuckDB twins unless noted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import textstats as ts

# BPE-ish pre-tokenization regex (GPT-2 style, simplified to the Java/RE2
# common subset): word pieces, numbers, punctuation runs, whitespace runs.
# The whitespace class is Java's `\s` spelled out: RE2's `\s` lacks VT.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]+"


def bpe_token_count(col: Column) -> Column:
    """Count of BPE-style pre-tokens via regexp_count (JVM, codegen'd) —
    the cheap `len(tokenizer(text))` estimator used for token budgeting."""
    return F.regexp_count(col, F.lit(BPE_TOKEN_PATTERN))


def quality_score() -> Column:
    """Composite [0,1] prose-quality score: mean of five bounded signals
    (stopword density, distinct-word ratio, alpha-word ratio, symbol
    cleanliness, length sweet-spot) over the `ts.with_text_features`
    columns.  Monotone, deterministic, rule-free — the scalar companion to
    the boolean rule registry.  NULL for NULL text (`_nchars` is NULL
    exactly then)."""
    nw, nchars = F.col("_nw"), F.col("_nchars")
    stop_frac = F.when(nw > 0, F.col("_n_stop") / nw).otherwise(F.lit(0.0))
    s1 = F.least(stop_frac * 2.5, F.lit(1.0))                      # stopword density
    s2 = F.when(nw > 0, F.col("_n_distinct") / nw)                 # vocabulary spread
    s3 = F.when(nw > 0, F.col("_n_alpha_w") / nw).otherwise(F.lit(0.0))  # real words
    sym = F.when(nchars > 0, F.col("_n_sym") / nchars).otherwise(F.lit(0.0))
    s4 = F.lit(1.0) - F.least(sym * 3.0, F.lit(1.0))               # cleanliness
    s5 = F.when((nw >= 50) & (nw <= 5000), 1.0).when(nw > 0, 0.5).otherwise(0.0)
    score = (s1 + F.coalesce(s2, F.lit(0.0)) + s3 + s4 + s5) / 5.0
    return F.when(nchars.isNull(), None).otherwise(score)


def char_shingle_fingerprint(col: Column) -> Column:
    """Document fingerprint: the 8 smallest md5 hashes of 16-character
    shingles at a stride of 8 (winnowing-style rolling-hash selection, expressed
    natively: substr windows → md5 → array_sort → slice).

    Two documents sharing most content share most minima — fingerprint
    overlap is a containment signal that, unlike MinHash over word
    shingles, survives small in-place edits.  Engine-agnostic (md5).
    """
    n = F.length(col)
    positions = F.sequence(
        F.lit(1), F.greatest(n - 15, F.lit(1)), F.lit(8)
    )
    hashes = F.transform(positions, lambda p: F.md5(F.substring(col, p, 16)))
    return F.slice(F.array_sort(F.array_distinct(hashes)), 1, 8)


def benchmark_contamination(
    df: DataFrame,
    benchmark: DataFrame,
) -> DataFrame:
    """Per-document benchmark-contamination check (the decontamination
    stage of a training-data pipeline): fraction of each (doc_id, text)
    document's distinct word 3-grams that also occur in a benchmark/eval corpus.
    Documents with high overlap leak evaluation data into training and
    must be dropped.  No reference analog (the reference validates field
    values, not corpus overlap) — this is one of the pipeline extensions.

    `benchmark` is a one-column DataFrame of benchmark texts (column
    `text`); its distinct shingle set is broadcast — eval suites are
    KBs-to-MBs against a 100 TB corpus, so the corpus side never shuffles
    for the membership test.  The only shuffle is the per-doc hit
    re-aggregation of (id) pairs after the explode.

    Output: (doc_id, n_shingles, n_hits, contamination) with
    contamination = n_hits / n_shingles (0.0 for docs with no shingles).
    """
    from .dedup import word_shingles

    bench_sh = (
        benchmark.select(
            F.explode(word_shingles("text")).alias("_sh")
        ).distinct()
    )
    doc_sh = df.select(
        F.col("doc_id").alias("_id"),
        F.explode_outer(word_shingles("text")).alias("_sh"),
    )
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "_sh", "left_semi")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    totals = df.select(
        F.col("doc_id").alias("_id"),
        F.size(word_shingles("text")).cast("bigint").alias("n_shingles"),
    )
    return totals.join(hits, "_id", "left").select(
        F.col("_id").alias("doc_id"),
        F.greatest(F.col("n_shingles"), F.lit(0).cast("bigint")).alias("n_shingles"),
        F.coalesce(F.col("n_hits"), F.lit(0).cast("bigint")).alias("n_hits"),
        F.when(
            F.col("n_shingles") > 0,
            F.coalesce(F.col("n_hits"), F.lit(0).cast("bigint")) / F.col("n_shingles"),
        )
        .otherwise(F.lit(0.0))
        .alias("contamination"),
    )


def doc_signature_table(df: DataFrame) -> DataFrame:
    """Per-doc signature row of `documents(doc_id, text)`: token counts,
    quality score, fingerprint.  One projection — all signals share one
    scan."""
    c = F.col("text")
    return ts.with_text_features(df).select(
        F.col("doc_id"),
        F.col("_nw").cast("long").alias("ws_tokens"),
        bpe_token_count(c).cast("long").alias("bpe_tokens"),
        quality_score().alias("quality"),
        char_shingle_fingerprint(c).alias("fingerprint"),
    )


def dup_line_metrics(col: Column, id_expr: Column) -> list[Column]:
    """Within-document duplicate-line metrics (the Gopher repetition
    family at line granularity): counts of non-empty lines, duplicate
    line copies beyond the first occurrence, and the character mass of
    those copies, plus the two exact-integer-ratio fractions.

    Entirely per-row codegen'd expressions — a per-document metric needs
    NO shuffle, ever: duplicate copies are `n - distinct(n)`, and the
    duplicate character mass is the length difference of the joined line
    arrays (``array_join`` keeps the whole computation out of the
    interpreted higher-order-function path; see CLAUDE.md hot-path rule).
    Complements `dedup.corpus_line_dedup` (cross-document boilerplate)."""
    lines = F.filter(F.split(col, "\n"), lambda x: x != "")
    n = F.size(lines).cast("bigint")
    nd = F.size(F.array_distinct(lines)).cast("bigint")
    chars = F.length(F.array_join(lines, "")).cast("bigint")
    chars_d = F.length(F.array_join(F.array_distinct(lines), "")).cast("bigint")
    return [
        id_expr,
        n.alias("n_lines"),
        (n - nd).alias("n_dup_lines"),
        (chars - chars_d).alias("n_dup_chars"),
        F.when(n > 0, (n - nd) / n).otherwise(F.lit(0.0)).alias("dup_line_frac"),
        F.when(chars > 0, (chars - chars_d) / chars)
        .otherwise(F.lit(0.0))
        .alias("dup_char_frac"),
    ]


def top_ngram_stats_multi(
    df: DataFrame, text_col: str, id_col: str, ns: tuple[int, ...] = (2, 3)
) -> DataFrame:
    """Most frequent word n-gram per document for each n in `ns`, plus the
    character mass it covers (the Gopher `top-n-gram character fraction`
    repetition signal).  Each gram is tagged with its n in ONE per-row
    array, so all n values share a single explode, a single count
    aggregation, and a single rank window — the per-n formulation joined
    per n costs ~3x the exchanges (its branch subtrees are multi-consumer
    diamonds that recompute; measured 12 exchanges -> 3).  `explode_outer`
    keeps gram-less docs alive, so no second corpus pass is needed for the
    base table."""
    from pyspark.sql.window import Window

    from ..functions.textstats import ngrams_sql, words_sql

    lws = words_sql(f"lower({text_col})")

    def tag(n: int):
        return F.expr(f"transform({ngrams_sql(lws, n)}, g -> named_struct('n', {n}, 'g', g))")

    tagged = F.concat(*[tag(n) for n in ns])
    exploded = df.select(
        F.col(id_col).alias("_id"),
        F.length(F.col(text_col)).cast("bigint").alias("_nc"),
        F.explode_outer(tagged).alias("_t"),
    ).select("_id", "_nc", F.col("_t.n").alias("_n"), F.col("_t.g").alias("_g"))
    counts = exploded.groupBy("_id", "_nc", "_n", "_g").agg(
        F.count(F.lit(1)).cast("bigint").alias("_cnt")
    )
    w = Window.partitionBy("_id", "_n").orderBy(F.col("_cnt").desc(), F.col("_g").asc())
    top = counts.select(
        "_id", "_nc", "_n", "_g", "_cnt", F.row_number().over(w).alias("_rn")
    ).filter(F.col("_rn") == 1)

    aggs = []
    for n in ns:
        gram = F.coalesce(F.max(F.when(F.col("_n") == n, F.col("_g"))), F.lit(""))
        cnt = F.coalesce(
            F.max(F.when(F.col("_n") == n, F.col("_cnt"))), F.lit(0).cast("bigint")
        )
        aggs.append(gram.alias(f"top{n}_gram"))
        aggs.append(cnt.alias(f"top{n}_cnt"))
    wide = top.groupBy("_id", "_nc").agg(*aggs)
    out_cols = [F.col("_id").alias(id_col)]
    for n in ns:
        gram = F.col(f"top{n}_gram")
        cnt = F.col(f"top{n}_cnt")
        frac = F.when(
            F.col("_nc") > 0, cnt * F.length(gram).cast("bigint") / F.col("_nc")
        ).otherwise(F.lit(0.0))
        out_cols += [gram, cnt, frac.alias(f"top{n}_frac")]
    return wide.select(*out_cols)


# ---------------------------------------------------------------------------
# Script profiling + mojibake detection (round 5 — multilingual-crawl QA)
# ---------------------------------------------------------------------------

# Unicode-script classes in the Java∩RE2 common subset (the same
# \x{...}-range device as profiling.char_pattern_expr, whose DuckDB twin
# is parity-proven).  LATIN includes the Latin-1/Extended letter blocks;
# the two stray math signs inside 00C0-024F (× ÷) are counted as Latin —
# documented approximation, identical in both engines.
SCRIPT_CLASSES: tuple[tuple[str, str], ...] = (
    ("latin", r"[A-Za-z\x{00C0}-\x{024F}]"),
    ("cyrillic", r"[\x{0400}-\x{04FF}]"),
    ("han", r"[\x{4E00}-\x{9FFF}]"),
    ("kana", r"[\x{3040}-\x{30FF}]"),
    ("hangul", r"[\x{AC00}-\x{D7AF}]"),
    ("arabic", r"[\x{0600}-\x{06FF}]"),
    ("greek", r"[\x{0370}-\x{03FF}]"),
    ("digit", r"[0-9]"),
)


def _class_count(col: Column, rx: str) -> Column:
    """Codepoint count of a character class: length delta of a
    regexp_replace strip — pure codegen'd expression, no explode."""
    return (
        F.length(col) - F.length(F.regexp_replace(col, rx, ""))
    ).cast("bigint")


def script_profile(col: Column) -> list[Column]:
    """Per-script codepoint counts plus the dominant letter script — the
    script/language routing signal a multilingual crawl derives before
    language-ID (CJK/Cyrillic/Arabic pages route to different tokenizer
    and quality stacks).  `dominant_script` is the max-count LETTER
    script (digits excluded); ties and all-zero rows resolve by the
    fixed class order / 'none' — deterministic in both engines.

    Scale shape: 8 regexp_replace length-deltas per row, zero shuffle —
    rides the scan at any corpus size."""
    counts = {name: _class_count(col, rx) for name, rx in SCRIPT_CLASSES}
    letters = [n for n, _ in SCRIPT_CLASSES if n != "digit"]
    best = F.greatest(*[counts[n] for n in letters])
    dominant = F.lit("none")
    # reversed fold so the FIRST class in SCRIPT_CLASSES wins ties,
    # mirroring the oracle's first-match CASE
    for name in reversed(letters):
        dominant = F.when(
            (counts[name] > 0) & (counts[name] == best), F.lit(name)
        ).otherwise(dominant)
    cols = [counts[n].alias(f"n_{n}") for n, _ in SCRIPT_CLASSES]
    return cols + [dominant.alias("dominant_script")]


def script_profile_sql(expr: str) -> list[str]:
    """DuckDB twin of `script_profile` — generated from SCRIPT_CLASSES."""
    cnt = {
        name: (
            f"CAST(length({expr}) - length(regexp_replace({expr}, "
            f"'{rx}', '', 'g')) AS BIGINT)"
        )
        for name, rx in SCRIPT_CLASSES
    }
    letters = [n for n, _ in SCRIPT_CLASSES if n != "digit"]
    best = "greatest(" + ", ".join(cnt[n] for n in letters) + ")"
    arms = " ".join(
        f"WHEN {cnt[n]} > 0 AND {cnt[n]} = {best} THEN '{n}'" for n in letters
    )
    out = [f"{cnt[n]} AS n_{n}" for n, _ in SCRIPT_CLASSES]
    out.append(f"CASE {arms} ELSE 'none' END AS dominant_script")
    return out


# Common UTF-8-decoded-as-Latin-1 artifacts.  Deliberately
# SUBSTRING-free (no entry occurs anywhere inside another — the
# stronger property the independent per-artifact occurrence counts
# actually require; test-enforced) so counts never double-count;
# U+FFFD is the decoder-replacement marker.
MOJIBAKE_ARTIFACTS: tuple[str, ...] = (
    "Ã©", "Ã¨", "Ã«", "Ã¤", "Ã¶", "Ã¼", "Ã±", "Ã§", "Ã³", "Ã­", "Ã¡", "Ãº",
    "â€™", "â€œ", "â€“", "â€”", "â€¦", "Â«", "Â»", "Â°",
)
REPLACEMENT_CHAR = "�"


def mojibake_metrics(col: Column) -> list[Column]:
    """(n_mojibake, n_replacement, is_mojibake): occurrence counts of the
    classic UTF-8-as-Latin-1 artifact set plus the U+FFFD decoder
    marker — the cheap encoding-QA gate a crawl pipeline runs before
    spending tokenizer budget on garbage.  Counts are exact integers
    (length-delta / artifact-length; the division is exact so the
    BIGINT cast is engine-stable).  Pure expressions, zero shuffle."""
    total = F.lit(0).cast("bigint")
    for a in MOJIBAKE_ARTIFACTS:
        delta = F.length(col) - F.length(F.replace(col, F.lit(a), F.lit("")))
        total = total + (delta / F.lit(len(a))).cast("bigint")
    repl = (
        F.length(col) - F.length(F.replace(col, F.lit(REPLACEMENT_CHAR), F.lit("")))
    ).cast("bigint")
    return [
        total.alias("n_mojibake"),
        repl.alias("n_replacement"),
        ((total + repl) > 0).alias("is_mojibake"),
    ]


def mojibake_metrics_sql(expr: str) -> list[str]:
    """DuckDB twin of `mojibake_metrics` (same artifact table)."""
    parts = []
    for a in MOJIBAKE_ARTIFACTS:
        lit = a.replace("'", "''")
        parts.append(
            f"CAST((length({expr}) - length(replace({expr}, '{lit}', ''))) "
            f"/ {len(a)} AS BIGINT)"
        )
    total = "(" + " + ".join(parts) + ")"
    repl = (
        f"CAST(length({expr}) - length(replace({expr}, chr(65533), '')) AS BIGINT)"
    )
    return [
        f"{total} AS n_mojibake",
        f"{repl} AS n_replacement",
        f"({total} + {repl}) > 0 AS is_mojibake",
    ]
