"""String normalization / conversion operators.

Reference: dataquality-converters (`converters/*.java`) + common string
handlers (SURVEY.md §2.6).  Native expressions where possible; NFKC runs in
a pandas UDF (Unicode normalization tables aren't expressible in Catalyst).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType


def collapse_duplicate_chars(c: Column) -> Column:
    """DuplicateCharEraser (`converters/DuplicateCharEraser.java:64`):
    collapse runs of the same char to one.  Java backreference regex."""
    return F.regexp_replace(c, r"(.)\1+", "$1")


def nfkc_str(v: str | None) -> str | None:
    """Scalar NFKC (the per-row contract; exposed for oracles/tests)."""
    import unicodedata

    return unicodedata.normalize("NFKC", v) if v is not None else None


@F.pandas_udf(StringType())
def nfkc_normalize(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """NFKC normalization (CharWidthConverter NFKC mode) — Arrow-batched."""
    for s in batches:
        yield s.map(nfkc_str)


def acronym(c: Column) -> Column:
    """Acronym builder (`common/character/Acronym.java:31`): first char of
    each token, upper-cased."""
    words = F.filter(F.split(c, r"\s+"), lambda x: x != F.lit(""))
    return F.array_join(
        F.transform(words, lambda w: F.upper(F.substring(w, 1, 1))), ""
    )


# --- unit conversions (converters/DurationConverter, DistanceConverter) ----


def julian_day(c: Column) -> Column:
    """JulianDayConverter (`converters/JulianDayConverter.java:41`): days
    since the Julian epoch (unix epoch = JD 2440587.5; date-at-midnight
    convention → 2440588)."""
    return (F.unix_date(F.to_date(c)) + F.lit(2440588)).cast("long")


# --- Chronology conversion (DateCalendarConverter chronology path) ---------
#
# The reference converts between java.time chronologies
# (`converters/DateCalendarConverter.java:32-39`: Iso ↔ Hijrah / Japanese /
# Minguo / ThaiBuddhist).  Three of the four are exact arithmetic on the
# proleptic Gregorian calendar and are implemented natively below;
# HijrahChronology needs the Umm al-Qura lunar tables and is a documented
# exclusion (no table resource in this sandbox).

# Japanese eras (public table: era, first day, Gregorian start year).
# Meiji is dated from 1868-01-01 — java.time's JapaneseEra.MEIJI boundary —
# so engine and oracle agree on every 1868+ date; pre-Meiji dates fall back
# to the plain ISO string in BOTH engines (documented behavior).
_JAPANESE_ERAS = (
    ("Reiwa", "2019-05-01", 2019),
    ("Heisei", "1989-01-08", 1989),
    ("Showa", "1926-12-25", 1926),
    ("Taisho", "1912-07-30", 1912),
    ("Meiji", "1868-01-01", 1868),
)


def iso_to_hijri_tabular(c: Column) -> Column:
    """ISO date → TABULAR Islamic date 'yyyy-MM-dd AH' (civil epoch,
    the public arithmetic a.k.a. Kuwaiti algorithm — pure integer math on
    the Julian day number, no tables).

    CAVEAT (the reason the reference's Hijrah path was an exclusion): the
    reference uses java.time HijrahChronology = the Umm al-Qura lunar
    tables of Saudi Arabia; the tabular calendar deviates from it by ±1-2
    days around month boundaries.  This is the documented arithmetic
    approximation, not Umm al-Qura parity
    (`converters/DateCalendarConverter.java:32-39`)."""
    jd = julian_day(c)
    d1 = jd - F.lit(1948440) + F.lit(10632)
    n = F.floor((d1 - 1) / F.lit(10631))
    d2 = d1 - F.lit(10631) * n + F.lit(354)
    j = (
        F.floor((F.lit(10985) - d2) / F.lit(5316)) * F.floor((F.lit(50) * d2) / F.lit(17719))
        + F.floor(d2 / F.lit(5670)) * F.floor((F.lit(43) * d2) / F.lit(15238))
    )
    d3 = (
        d2
        - F.floor((F.lit(30) - j) / F.lit(15)) * F.floor((F.lit(17719) * j) / F.lit(50))
        - F.floor(j / F.lit(16)) * F.floor((F.lit(15238) * j) / F.lit(43))
        + F.lit(29)
    )
    month = F.floor((F.lit(24) * d3) / F.lit(709))
    day = d3 - F.floor((F.lit(709) * month) / F.lit(24))
    year = F.lit(30) * n + j - F.lit(30)
    return F.concat(
        F.lpad(year.cast("string"), 4, "0"),
        F.lit("-"),
        F.lpad(month.cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad(day.cast("string"), 2, "0"),
        F.lit(" AH"),
    )


def iso_to_hijri_umalqura(col: str) -> Column:
    """ISO date (the SQL expression `col`) → Umm al-Qura Hijri 'yyyy-MM-dd
    AH' with REFERENCE parity: the month table is the JDK's java.time
    HijrahChronology data (1300-1600 AH ≈ 1882-2077 CE; see
    functions/umalqura_table.py, regenerable via scripts/gen_umalqura.py),
    i.e. the same authority the reference's DateCalendarConverter consults
    (`converters/DateCalendarConverter.java:32-39`).

    O(1) pure-expression lookup, no join and no UDF: a mean-lunation
    division guesses the month index — measured max drift 1 over the
    whole table (asserted at generation time AND here), so a closed-form
    three-way select (g+1 / g / g-1) lands it exactly.  The three-way
    form is deliberate: iterative when-corrections nest the guess
    subtree exponentially and overflow the JVM stack at plan
    (de)serialization.  Dates outside the table → null (the chronology
    itself is undefined there; the arithmetic `iso_to_hijri_tabular`
    remains for unbounded input).

    The 3,612-entry table is ONE folded literal (`literals.sql_array`) and
    the whole conversion one parsed SQL fragment.  Built one `F.lit` per
    entry, `umalqura_convert_orders` took 1.62 s to build (15,000+ py4j
    calls); as Column operators around the folded literal 0.18 s (549);
    as one fragment 61 calls (sf0.01, local[4], 4-vCPU Xeon, warm
    medians; BENCH/BASELINE.md "Driver literal build" and "Driver build
    without jobs")."""
    from .literals import sql_array
    from .umalqura_table import MAX_IDX_DRIFT, MEAN_LUNATION, MONTH_STARTS, START_HY

    assert MAX_IDX_DRIFT <= 1, "three-way select needs regeneration for drift > 1"
    n = len(MONTH_STARTS)
    t0 = MONTH_STARTS[0]
    arr = sql_array(MONTH_STARTS, "int")
    d = f"unix_date(to_date({col}))"
    g = f"greatest(0, least({n - 1}, CAST(floor(({d} - ({t0})) / {MEAN_LUNATION!r}D) AS INT)))"
    idx = (
        f"CASE WHEN {d} >= element_at({arr}, least({g} + 2, {n})) THEN least({g} + 1, {n - 1}) "
        f"WHEN {d} >= element_at({arr}, {g} + 1) THEN {g} ELSE greatest({g} - 1, 0) END"
    )
    hy = f"CAST({START_HY} + floor(({idx}) / 12) AS INT)"
    hm = f"CAST(({idx}) % 12 + 1 AS INT)"
    hd = f"CAST({d} - element_at({arr}, ({idx}) + 1) + 1 AS INT)"
    # conservative table end: last month assumed 29 days (shortest legal)
    return F.expr(
        f"CASE WHEN {d} >= ({t0}) AND {d} <= {MONTH_STARTS[-1] + 28} THEN concat("
        f"lpad(CAST({hy} AS STRING), 4, '0'), '-', lpad(CAST({hm} AS STRING), 2, '0'), '-', "
        f"lpad(CAST({hd} AS STRING), 2, '0'), ' AH') ELSE CAST(NULL AS STRING) END"
    )


def iso_to_minguo(c: Column) -> Column:
    """ISO date → Minguo (ROC) 'yyyy-MM-dd' string: year − 1911."""
    d = F.to_date(c)
    y = (F.year(d) - 1911).cast("int")
    return F.concat(
        F.lpad(y.cast("string"), 4, "0"), F.date_format(d, "-MM-dd")
    )


def iso_to_thai_buddhist(c: Column) -> Column:
    """ISO date → Thai Buddhist 'yyyy-MM-dd' string: year + 543."""
    d = F.to_date(c)
    y = (F.year(d) + 543).cast("int")
    return F.concat(F.lpad(y.cast("string"), 4, "0"), F.date_format(d, "-MM-dd"))


def iso_to_japanese(c: Column) -> Column:
    """ISO date → Japanese-era string 'Era y-MM-dd' (era year 1-based)."""
    d = F.to_date(c)
    expr = F.lit(None).cast("string")
    out = F.when(F.lit(False), expr)
    for era, start, base in _JAPANESE_ERAS:
        yr = (F.year(d) - base + 1).cast("int")
        out = out.when(
            d >= F.lit(start).cast("date"),
            F.concat(F.lit(era + " "), yr.cast("string"), F.date_format(d, "-MM-dd")),
        )
    return out.otherwise(F.date_format(d, "yyyy-MM-dd"))
