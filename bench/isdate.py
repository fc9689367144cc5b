"""isDate / getDatePatterns throughput micro-bench vs the reference floor.

The reference asserts 100,001 isDate() calls complete in < 2.0 s CPU on one
warmed thread (≈ ≥50k values/s/core) and getDatePatterns() in < 2.5 s
(≈ ≥40k/s/core) — `statistics/datetime/PerformanceTest.java:33-102`.

This bench isolates the same two operations in the Spark engine on ONE core
(local[1]): a 100k-value mixed column (8 date/time formats + plain strings,
the datetime_patterns_orders fixture recipe) is materialized to parquet
first so the timed job is scan + classify only; warm runs, best of 3.

Usage: python bench/isdate.py   (writes bench/isdate_result.json and
replaces its section of BENCH/BASELINE.md)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_quality_spark.runreport import splice_baseline, write_result  # noqa: E402

N = 100_000
OUT = "/tmp/dqs_isdate_vals"


def build(spark) -> None:
    from pyspark.sql import functions as F

    from data_quality_spark.functions.literals import lit_array
    from data_quality_spark.functions.typeinfer import MONTHS_DE, MONTHS_FR

    df = spark.range(N).withColumn(
        "d", F.date_add(F.lit("1992-01-01").cast("date"), (F.col("id") % 2400).cast("int"))
    )
    k = F.col("id")
    d = F.col("d")
    fr_month = F.element_at(lit_array(MONTHS_FR, "string"), F.month(d))
    de_month = F.element_at(lit_array(MONTHS_DE, "string"), F.month(d))
    day_s = F.dayofmonth(d).cast("string")
    year_s = F.year(d).cast("string")
    ds = (
        F.when(k % 10 == 0, F.date_format(d, "yyyy-MM-dd"))
        .when(k % 10 == 1, F.date_format(d, "M/d/yyyy"))
        .when(k % 10 == 2, F.date_format(d, "dd.MM.yyyy"))
        .when(k % 10 == 3, F.date_format(d, "d-MMM-yyyy"))
        .when(k % 10 == 4, F.date_format(d, "dd/MM/yy"))
        .when(k % 10 == 5, F.concat(day_s, F.lit(" "), fr_month, F.lit(" "), year_s))
        .when(k % 10 == 6, F.concat(day_s, F.lit(". "), de_month, F.lit(" "), year_s))
        .when(k % 10 == 7, F.date_format(d, "yyyy-MM-dd HH:mm:ss"))
        # non-dates: the prefilter should reject these cheaply
        .when(k % 10 == 8, F.concat(F.lit("customer record "), k.cast("string")))
        .otherwise(F.concat(F.lit("order#"), k.cast("string")))
    )
    df.select(ds.alias("v")).coalesce(1).write.mode("overwrite").parquet(OUT)


def main() -> None:
    from pyspark.sql import functions as F

    from data_quality_spark.functions import typeinfer as ti
    from data_quality_spark.operators.profiling import datetime_pattern_frequency
    from data_quality_spark.session import get_spark

    spark = get_spark(master="local[1]", shuffle_partitions=1)
    spark.sparkContext.setLogLevel("ERROR")
    build(spark)
    vals = spark.read.parquet(OUT)

    def timed(fn):
        best = float("inf")
        for _ in range(4):  # first run warms codegen; best-of the rest
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        return best

    t_isdate = timed(
        lambda: vals.select(
            F.sum(F.when(ti.is_date(F.col("v")), 1).otherwise(0))
        ).collect()
    )
    t_patterns = timed(lambda: datetime_pattern_frequency(vals, "v").collect())

    res = {
        "n": N,
        "isdate_sec": round(t_isdate, 3),
        "isdate_vals_per_sec_core": round(N / t_isdate),
        "patterns_sec": round(t_patterns, 3),
        "patterns_vals_per_sec_core": round(N / t_patterns),
        "formats": len(ti.DATE_REGEXES) + len(ti.TIME_REGEXES),
    }
    print(json.dumps(res))
    write_result("isdate_result.json", res)

    section = f"""## isDate / getDatePatterns throughput (reference floor: PerformanceTest.java)

One core (local[1]), 100k-value mixed column (8 date/time formats + 20%
non-dates), classifier covering {res['formats']} formats incl. FR/DE/ES/IT/PT/NL
month names; warm best-of-3, scan included.

| op | reference floor | measured | verdict |
|---|---|---|---|
| isDate (prefilter + combined rlike) | ≥50k vals/s/core | {res['isdate_vals_per_sec_core']:,}/s | {"met" if res['isdate_vals_per_sec_core'] >= 50000 else "BELOW"} |
| getDatePatterns (gate-dispatch cascade) | ≥40k vals/s/core | {res['patterns_vals_per_sec_core']:,}/s | {"met" if res['patterns_vals_per_sec_core'] >= 40000 else "BELOW"} |

Reproduce: `python bench/isdate.py`.
"""
    splice_baseline("## isDate / getDatePatterns throughput", section)
    print("updated BENCH/BASELINE.md")


if __name__ == "__main__":
    main()
