"""Per-type classification micro-fixtures (reference pattern: testBoolean.csv
… testString.csv, SURVEY.md §5.2-3) + dominant-type voting semantics."""

from pyspark.sql import functions as F

from data_quality_spark.functions import typeinfer as ti
from data_quality_spark.operators import profiling as prof


def _classify_all(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    rows = df.select(F.col("v"), ti.classify(F.col("v")).alias("t")).collect()
    return {r["v"]: r["t"] for r in rows}


def test_classify_basic(spark):
    got = _classify_all(
        spark,
        ["42", "-7", "＋１２", "3.14", "1,234.5", "1.234,5", "2e10", "45%",
         "true", "FALSE", "2024-01-31", "1/31/2024", "20240131", "12:34:56",
         "hello", "", "   ", "\t", "\n", "\x0b", "\r\n", "\xa0", None],
    )
    assert got["42"] == "INTEGER"
    assert got["-7"] == "INTEGER"
    assert got["＋１２"] == "INTEGER"          # full-width accepted (TypeInferenceUtils.java:28)
    assert got["3.14"] == "DOUBLE"
    assert got["1,234.5"] == "DOUBLE"
    assert got["1.234,5"] == "DOUBLE"
    assert got["2e10"] == "DOUBLE"
    assert got["45%"] == "DOUBLE"
    assert got["true"] == "BOOLEAN"
    assert got["FALSE"] == "BOOLEAN"
    assert got["2024-01-31"] == "DATE"
    assert got["1/31/2024"] == "DATE"
    # integer check precedes date (classify order) — 8-digit dates stay INTEGER
    assert got["20240131"] == "INTEGER"
    assert got["12:34:56"] == "TIME"
    assert got["hello"] == "STRING"
    assert got[""] == "EMPTY"
    assert got["   "] == "EMPTY"
    # blank is Java's \s: tab, newline, VT, FF, CR, space — not NBSP
    for v in ("\t", "\n", "\x0b", "\r\n"):
        assert got[v] == "EMPTY", repr(v)
    assert got["\xa0"] == "STRING"
    assert got[None] == "EMPTY"


def test_is_valid_as(spark):
    df = spark.createDataFrame([("12",), ("x",), ("3.5",)], "v string")
    rows = df.select(
        ti.is_valid_as(F.col("v"), "INTEGER").alias("i"),
        ti.is_valid_as(F.col("v"), "DOUBLE").alias("d"),
        ti.is_valid_as(F.col("v"), "STRING").alias("s"),
    ).collect()
    assert [r["i"] for r in rows] == [True, False, False]
    assert [r["d"] for r in rows] == [True, False, True]  # INTEGER ⊂ DOUBLE
    assert [r["s"] for r in rows] == [True, True, True]   # STRING always valid


def test_dominant_type_threshold_voting(spark):
    # 3 ints + 1 string over 4 non-empty → 75% ≥ 50% → INTEGER (no DOUBLE
    # present, so no absorption — DataTypeOccurences.java:59-63 conditional)
    df = spark.createDataFrame([("1",), ("2",), ("3",), ("x",), ("",)], "c string")
    got = prof.dominant_type(df, ["c"]).collect()[0]
    assert got["suggested_type"] == "INTEGER"
    # with a real double present, integers absorb into DOUBLE
    df2 = spark.createDataFrame([("1",), ("2",), ("3.5",), ("x",)], "c string")
    got2 = prof.dominant_type(df2, ["c"]).collect()[0]
    assert got2["suggested_type"] == "DOUBLE"
    # 50/50 mixed types sum below threshold→ STRING
    df2 = spark.createDataFrame([("1",), ("x",), ("y",), ("z",)], "c string")
    got2 = prof.dominant_type(df2, ["c"]).collect()[0]
    assert got2["suggested_type"] == "STRING"


def test_value_quality_counting(spark):
    """valid/invalid/empty triplet — ValueQualityStatistics semantics."""
    df = spark.createDataFrame(
        [("1",), ("2",), ("x",), ("",), (None,)], "c string"
    )
    c = F.col("c")
    got = df.agg(
        F.sum(F.when(ti.is_empty(c), 1).otherwise(0)).alias("empty"),
        F.sum(F.when(~ti.is_empty(c) & ti.is_valid_as(c, "INTEGER"), 1).otherwise(0)).alias("valid"),
        F.sum(F.when(~ti.is_empty(c) & ~ti.is_valid_as(c, "INTEGER"), 1).otherwise(0)).alias("invalid"),
    ).collect()[0]
    assert (got["valid"], got["invalid"], got["empty"]) == (2, 1, 2)


def test_datetime_regex_table_breadth(spark):
    """Round-2 widening: 2-digit years, month names, dots, times all
    recognize; garbage does not (regex-table semantics like the
    reference's SystemDateTimePatternManager — structural validation,
    day/month ranges enforced, calendar validity not)."""
    from data_quality_spark.operators.profiling import datetime_pattern_sql_case
    from pyspark.sql import functions as F

    cases = {
        "2021-03-04": "yyyy-MM-dd",
        "2021-03-04 12:30:05": "yyyy-MM-dd HH:mm:ss",
        "2021-03-04T12:30:05": "yyyy-MM-dd'T'HH:mm:ss",
        "3/4/2021": "M/d/2021".replace("2021", "yyyy"),
        "04.03.2021": "dd.MM.yyyy",
        "4-Mar-2021": "d-MMM-yyyy",
        "Mar 4, 2021": "MMM d, yyyy",
        "4 March 2021": "d MMMM yyyy",
        "13/03/95": "dd/MM/yy",
        "20210304": "yyyyMMdd",
        "12:30:05": "HH:mm:ss",
        "9:05 PM": "h:mm a",
        "23.59": "H.mm",
        "not a date": None,
        "32/03/95": None,       # day out of range
        "2021-13-04": None,     # month out of range
    }
    df = spark.createDataFrame([(v,) for v in cases], "v string")
    got = {
        r["v"]: r["p"]
        for r in df.select("v", F.expr(datetime_pattern_sql_case("v")).alias("p")).collect()
    }
    for v, expected in cases.items():
        assert got[v] == expected, (v, got[v], expected)


def test_datetime_locale_families(spark):
    """Round-4 widening: Italian / Portuguese / Dutch month-name families
    (DateRegexesGrouped.txt locale groups), incl. the first-match-wins
    semantics for cross-locale month collisions (it/fr 'novembre',
    pt/es 'agosto' and 'abril' resolve to the EARLIER cascade entry on
    both engines — the reference's in-group ordering)."""
    from pyspark.sql import functions as F

    from data_quality_spark.operators.profiling import datetime_pattern_sql_case

    cases = {
        "4 marzo 2021": "d MMMM yyyy (it)",
        "15 luglio 1999": "d MMMM yyyy (it)",
        "12 de janeiro de 2020": "d 'de' MMMM 'de' yyyy (pt)",
        "3 de outubro de 1987": "d 'de' MMMM 'de' yyyy (pt)",
        "4 maart 2021": "d MMMM yyyy (nl)",
        "28 augustus 2015": "d MMMM yyyy (nl)",
        # collisions: earlier cascade entry wins, deterministically
        "7 novembre 1995": "d MMMM yyyy (fr)",       # fr before it
        "15 de agosto de 2020": "d 'de' MMMM 'de' yyyy (es)",  # es before pt
        "1 de abril de 2020": "d 'de' MMMM 'de' yyyy (es)",
        # case sensitivity: exact-case literals like the reference rows
        "4 Marzo 2021": None,
        "32 maart 2021": None,  # day out of range
    }
    df = spark.createDataFrame([(v,) for v in cases], "v string")
    got = {
        r["v"]: r["p"]
        for r in df.select("v", F.expr(datetime_pattern_sql_case("v")).alias("p")).collect()
    }
    for v, expected in cases.items():
        assert got[v] == expected, (v, got[v], expected)


def test_is_date_is_time_combined(spark):
    from data_quality_spark.functions import typeinfer as ti
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("2021-03-04",), ("4-Mar-2021",), ("12:30:05",), ("hello",), ("123",)],
        "v string",
    )
    rows = df.select(
        "v", ti.is_date(F.col("v")).alias("d"), ti.is_time(F.col("v")).alias("t")
    ).collect()
    got = {r["v"]: (r["d"], r["t"]) for r in rows}
    assert got["2021-03-04"] == (True, False)
    assert got["4-Mar-2021"] == (True, False)
    assert got["12:30:05"] == (False, True)
    assert got["hello"] == (False, False)
    assert got["123"] == (False, False)


def test_datetime_dispatch_mirrors_flat_cascade():
    """The gate-dispatch's in-group order must equal the flat
    DATE_REGEXES+TIME_REGEXES order restricted to that group, every
    format must sit in exactly one group, and gates must be pairwise
    exclusive on each other's sample prefixes — together these make the
    dispatched recognizer provably identical to the DuckDB oracle's
    flat first-match scan (round-5 invariant; the round-4 version
    relied on a per-case shape-disjointness argument instead)."""
    import re

    from data_quality_spark.functions import typeinfer as ti

    flat = [f for f, _ in ti.DATE_REGEXES + ti.TIME_REGEXES]
    assert len(flat) == len(set(flat))
    grouped = [f for _, fam in ti.DATETIME_GROUPS for f, _ in fam]
    assert sorted(grouped) == sorted(set(grouped)), "format in two groups"
    assert set(grouped) == set(flat), "group coverage != flat table"
    for gate, fam in ti.DATETIME_GROUPS:
        fnames = [f for f, _ in fam]
        want = [f for f in flat if f in set(fnames)]
        assert fnames == want, f"in-group order diverges from flat order in {gate}"
    # regexes compile in `re` (RE2-compatible subset is asserted by the
    # DuckDB parity fixture; `re` compile catches syntax-level slips)
    for _, rx in ti.DATE_REGEXES + ti.TIME_REGEXES:
        re.compile(rx)
