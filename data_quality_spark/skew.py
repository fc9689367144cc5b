"""Skew handling: two-phase salted aggregation.

The reference's own answer to quadratic blow-up is blocking keys + a
block-size cap of 1000 with cross-block post-merge
(`genkey/BlockingKeyHandler.java:81`, `StringsClusterAnalyzer.java:57`).
At web scale the analog problem is domain skew: one mega-domain can hold
10^9 pages.  We salt the grouping key so no single reducer owns a
mega-domain, and rely on AQE skew-join splitting for joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_BUCKETS = 64


def salted_groupby_count(df: DataFrame, key_col: str, salt_src_col: str) -> DataFrame:
    """Two-phase aggregation for skewed keys: count per (key, salt) first
    (spreads a hot key over `SALT_BUCKETS` reducers), then sum per key.

    Result is identical to a plain groupBy().count() — the salting only
    changes the physical shuffle shape.  For counts Spark's own partial
    aggregation already defuses skew; the two-phase form matters for
    aggregates without map-side combine (e.g. collect_list, exact
    distinct), and is the template for them.
    Output: (key_col, cnt).
    """
    salt = F.pmod(F.xxhash64(F.col(salt_src_col)), F.lit(SALT_BUCKETS))
    phase1 = (
        df.groupBy(F.col(key_col), salt.alias("_salt"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return phase1.groupBy(key_col).agg(F.sum("_c").cast("long").alias("cnt"))
