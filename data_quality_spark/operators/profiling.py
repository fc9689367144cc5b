"""Column profiling operators: type voting, pattern frequency, top-k
frequency, histogram, quantiles, and the composed whole-table profile.

Each mirrors one reference analyzer (SURVEY.md §2.3/2.4) as a single
DataFrame aggregation — partial aggregation (map-side combine) replaces the
reference's mergeable stats beans (`ValueQualityStatistics.mergeCounts`,
`ConcurrentAnalyzer` clone+merge).  At 100 TB every operator here is one scan
+ one (or zero) shuffles of pre-aggregated partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import typeinfer as ti

# ---------------------------------------------------------------------------
# Type inference (DataTypeAnalyzer + DataTypeOccurences)
# ---------------------------------------------------------------------------


def data_type_counts(df: DataFrame, columns: list[str]) -> DataFrame:
    """Per-column occurrence count of each DataTypeEnum verdict.

    Output: (column_name, data_type, cnt).  One scan; the per-column
    classification expressions are stacked with a posexplode so all columns
    profile in a single aggregate (Analyzers.with one-pass semantics).
    """
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                ti.classify(F.col(c).cast("string")).alias("data_type"),
            )
            for c in columns
        ]
    )
    return (
        df.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.column_name").alias("column_name"), F.col("p.data_type").alias("data_type"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dominant_type(df: DataFrame, columns: list[str]) -> DataFrame:
    """Threshold-voted column type (DataTypeOccurences.java:41-82).

    Most frequent non-EMPTY type if it covers ≥50% of non-empty values, else
    STRING; INTEGER absorbed into DOUBLE when DOUBLE present ("any integer is
    a double").  Output: (column_name, suggested_type).
    """
    counts = data_type_counts(df, columns)
    non_empty = counts.filter(F.col("data_type") != "EMPTY")
    # "Any integer is a double" — but ONLY when both types are present
    # (`DataTypeOccurences.java:59-63`): DOUBLE's count absorbs INTEGER's,
    # INTEGER keeps its own count; a pure-integer column stays INTEGER.
    per_col = non_empty.groupBy("column_name").agg(
        F.sum("cnt").alias("total"),
        F.sum(F.when(F.col("data_type") == "INTEGER", F.col("cnt")).otherwise(0)).alias("int_cnt"),
        F.sum(F.when(F.col("data_type") == "DOUBLE", F.col("cnt")).otherwise(0)).alias("dbl_cnt"),
    )
    adjusted = non_empty.join(per_col, "column_name").withColumn(
        "adj_cnt",
        F.when(
            (F.col("data_type") == "DOUBLE") & (F.col("int_cnt") > 0) & (F.col("dbl_cnt") > 0),
            F.col("cnt") + F.col("int_cnt"),
        ).otherwise(F.col("cnt")),
    )
    ranked = adjusted.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("column_name").orderBy(F.desc("adj_cnt"), F.asc("data_type"))
        ),
    ).filter(F.col("rk") == 1)
    return ranked.select(
        "column_name",
        F.when(F.col("adj_cnt") >= 0.5 * F.col("total"), F.col("data_type"))
        .otherwise(F.lit("STRING"))
        .alias("suggested_type"),
    )


# ---------------------------------------------------------------------------
# Pattern frequency (CompositePatternFrequencyAnalyzer + recognizers)
# ---------------------------------------------------------------------------


def char_pattern_expr(col):
    """Char-class pattern: lower→a, upper→A, digit→9; CJK classes to class
    chars (GenericCharPatternRecognizer / TextPatternUtil.findPattern,
    `statistics/frequency/recognition/GenericCharPatternRecognizer.java:31-42`).

    Pure regexp_replace cascade — JVM-side, codegen'd.
    """
    out = F.when(ti.is_empty(col), F.lit("(EMPTY)"))
    x = F.regexp_replace(col, r"[a-z]", "a")
    x = F.regexp_replace(x, r"[A-Z]", "A")
    x = F.regexp_replace(x, r"[0-9]", "9")
    x = F.regexp_replace(x, r"[\x{3040}-\x{309F}]", "H")   # Hiragana
    x = F.regexp_replace(x, r"[\x{30A0}-\x{30FF}]", "K")   # Katakana
    x = F.regexp_replace(x, r"[\x{AC00}-\x{D7AF}]", "G")   # Hangul
    x = F.regexp_replace(x, r"[\x{4E00}-\x{9FFF}]", "C")
    return out.otherwise(x)


def pattern_frequency(df: DataFrame, column: str) -> DataFrame:
    """Pattern → frequency table for one column. Output: (pattern, cnt)."""
    return (
        df.select(char_pattern_expr(F.col(column).cast("string")).alias("pattern"))
        .groupBy("pattern")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def word_pattern_expr(column: str):
    """Word-level pattern (WordPatternRecognizer,
    `statistics/frequency/recognition/WordPatternRecognizer.java:82,174-189`):
    each token → its class tag, joined with the original separators reduced
    to single spaces.

    Classes (first match wins): [Number] all digits; [WORD] all upper;
    [Word] capitalized; [word] all lower; [Ideogram]+ CJK run;
    [alnum] mixed letters+digits; anything else kept verbatim (punct).
    """
    from ..functions.textstats import words_sql

    def tag(w):
        return (
            F.when(w.rlike(r"^[0-9]+$"), F.lit("[Number]"))
            .when(w.rlike(r"^[\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}\x{AC00}-\x{D7AF}]+$"), F.lit("[Ideogram]"))
            .when(w.rlike(r"^[A-Z]+$"), F.lit("[WORD]"))
            .when(w.rlike(r"^[A-Z][a-z]+$"), F.lit("[Word]"))
            .when(w.rlike(r"^[a-z]+$"), F.lit("[word]"))
            .when(w.rlike(r"^[A-Za-z0-9]+$"), F.lit("[alnum]"))
            .otherwise(w)
        )

    return F.array_join(F.transform(F.expr(words_sql(f"CAST({column} AS STRING)")), tag), " ")


def word_pattern_frequency(df: DataFrame, column: str) -> DataFrame:
    """Word-pattern → frequency table. Output: (pattern, cnt)."""
    return (
        df.select(word_pattern_expr(column).alias("pattern"))
        .groupBy("pattern")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _sql_escape(x: str) -> str:
    """Escape a regex/name for embedding in a Spark SQL single-quoted
    literal (backslashes and quotes are escape-processed by the parser)."""
    return x.replace("\\", "\\\\").replace("'", "\\'")


def datetime_pattern_sql_case(col_name: str) -> str:
    """Matched date/time pattern per value (DateTimePatternRecognizer,
    `statistics/frequency/recognition/DateTimePatternRecognizer.java:47-63`)
    as one Spark-SQL CASE string over a column name: REGEX-table
    recognition like the reference's SystemDateTimePatternManager (format
    → validating regex, first match wins; NULL when none) over the full
    DATE_REGEXES/TIME_REGEXES table (`functions/typeinfer.py`).

    Structural dispatch (DateRegexesGrouped.txt device): one cheap gate
    regex picks the family, then only that family's patterns run.  Gates
    are pairwise exclusive, so this is exactly the flat first-match
    cascade the DuckDB oracle executes.  Parsed SQL rather than chained
    `when()` Columns, which are far costlier on the driver: building the
    ~200-branch cascade that way cost ~1.1 s of py4j round-trips plus
    ~4 s of analysis and doomed >64 KB codegen attempts PER PLAN (janino
    failures are not cached, so every execution re-paid the
    compile-and-fall-back); the parsed CASE analyzes and codegens clean —
    measured 6.35 s → 0.68 s warm on the sf0.01 fixture (round 5)."""
    outer = []
    for gate, fam in ti.DATETIME_GROUPS:
        inner = " ".join(
            f"WHEN {col_name} RLIKE '{_sql_escape(rx)}' THEN '{_sql_escape(f)}'"
            for f, rx in fam
        )
        outer.append(
            f"WHEN {col_name} RLIKE '{_sql_escape(gate)}' THEN (CASE {inner} END)"
        )
    return "CASE " + " ".join(outer) + " END"


def datetime_pattern_frequency(df: DataFrame, column: str) -> DataFrame:
    """Pattern string → count (frequent-date-pattern profiling; feeds the
    SortedList-style ordering of parse attempts)."""
    # Unrecognized values surface as one NULL-pattern group — the exact
    # SQL `GROUP BY` semantics the DuckDB oracle runs.  Do NOT add a
    # `pattern IS NOT NULL` filter here: the optimizer pushes it through
    # the projection (even from above the aggregate, since it's a
    # grouping-key predicate), substituting the input expression into
    # every one of the cascade's ~210 column references — the resulting
    # filter tree overflowed the 64 KB codegen limit and dropped the
    # whole scan stage to interpreted eval with per-run janino retry
    # cost (round 5: 6.4 s → 1.0 s warm on the sf0.01 fixture once the
    # filter was removed).  Callers that must exclude the NULL group
    # filter the AGGREGATED output themselves (~|patterns| rows).
    return (
        df.select(F.col(column).cast("string").alias("_ds"))
        .select(F.expr(datetime_pattern_sql_case("_ds")).alias("pattern"))
        .groupBy("pattern")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ---------------------------------------------------------------------------
# Frequency / top-k (DataTypeFrequencyAnalyzer.getTopK)
# ---------------------------------------------------------------------------


def value_frequency_topk(df: DataFrame, column: str, k: int) -> DataFrame:
    """Top-k most frequent values. Ties broken by value for determinism.

    groupBy + full agg then a single-partition top-k of the (small)
    aggregated result — never a driver-side hash map.
    """
    counts = df.groupBy(F.col(column).alias("value")).agg(F.count(F.lit(1)).alias("cnt"))
    return counts.orderBy(F.desc("cnt"), F.asc("value")).limit(k)


# ---------------------------------------------------------------------------
# Histogram (HistogramAnalyzer): fixed-range equi-width, below/above counters
# ---------------------------------------------------------------------------


def histogram(df: DataFrame, column: str, lo: float, hi: float, num_bins: int) -> DataFrame:
    """Equi-width histogram on [lo, hi); last bin upper-inclusive
    (HistogramStatistics.java:50-101).  Values outside the range land in
    bin -1 (below) / num_bins (above).  Output: (bin, cnt) sorted by bin."""
    x = F.col(column).cast("double")
    width = (hi - lo) / num_bins
    bin_expr = (
        F.when(x.isNull(), None)
        .when(x < lo, F.lit(-1))
        .when(x > hi, F.lit(num_bins))
        .when(x == hi, F.lit(num_bins - 1))  # upper bound inclusive in last bin
        .otherwise(F.floor((x - lo) / F.lit(width)).cast("int"))
    )
    return (
        df.select(bin_expr.alias("bin"))
        .filter(F.col("bin").isNotNull())
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Quantiles (QuantileAnalyzer exact / TDigestAnalyzer approx)
# ---------------------------------------------------------------------------


def quantiles(df: DataFrame, column: str, probs: list[float]) -> DataFrame:
    """Exact `percentile` (reference QuantileAnalyzer contract) — never
    buffers in the driver.  The t-digest contract is `percentile_approx`
    (see `queries.quantiles_approx_lquantity`)."""
    x = F.col(column).cast("double")
    aggs = [
        F.percentile(x, F.lit(p)).alias(f"q{str(p).replace('.', '_')}") for p in probs
    ]
    return df.agg(*aggs)


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Full per-column profile in ONE aggregate pass — the Spark form of
    `Analyzers.with(quality, type, cardinality, length…)` composing analyzers
    over a single scan (`common/inference/Analyzers.java:48-67`).

    Output (long format): one row per column with
      (column_name, n_rows, n_empty, n_distinct, min_len, max_len,
       avg_len, n_boolean, n_integer, n_double, n_date, n_string)
    where n_distinct is exact (oracle-comparable; `approx_count_distinct`
    is the HLL form, see `queries.cardinality_hll`).  Every other counter
    is partial-aggregation-friendly; the exact distinct counts make Spark
    expand and shuffle the distinct values once.
    """
    columns = columns or df.columns
    aggs = []
    for c in columns:
        s = F.col(c).cast("string")
        ln = F.length(s)
        cls = ti.classify(s)
        aggs.extend(
            [
                F.count(F.lit(1)).alias(f"{c}__n_rows"),
                F.sum(F.when(ti.is_empty(s), 1).otherwise(0)).alias(f"{c}__n_empty"),
                F.countDistinct(s).alias(f"{c}__n_distinct"),
                F.min(ln).alias(f"{c}__min_len"),
                F.max(ln).alias(f"{c}__max_len"),
                F.avg(ln).alias(f"{c}__avg_len"),
                *[
                    F.sum(F.when(cls == t, 1).otherwise(0)).alias(f"{c}__n_{t.lower()}")
                    for t in ("BOOLEAN", "INTEGER", "DOUBLE", "DATE", "STRING")
                ],
            ]
        )
    wide = df.agg(*aggs)
    fields = [
        "n_rows", "n_empty", "n_distinct", "min_len", "max_len",
        "avg_len", "n_boolean", "n_integer", "n_double", "n_date", "n_string",
    ]
    stacked = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                *[F.col(f"{c}__{f}").cast("double").alias(f) for f in fields],
            )
            for c in columns
        ]
    )
    return wide.select(F.explode(stacked).alias("p")).select("p.*")
