"""Readers with reference-semantics type inference.

The reference consumes rows of strings and *discovers* column types by
per-value classification + threshold voting (SURVEY §1.4).  Spark's own CSV
inference uses different rules, so `read_csv_inferred` reads everything as
string and applies OUR lattice (DataTypeOccurences voting: most frequent
non-EMPTY type ≥50% of non-empty values, INTEGER⊂DOUBLE) — giving the same
verdicts as the reference's `DataTypeAnalyzer` pipeline, then casts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.profiling import dominant_type

_CAST_TYPES = {
    "BOOLEAN": "boolean",
    "DOUBLE": "double",
    "INTEGER": "long",
    "DATE": "timestamp",
    "STRING": "string",
    "TIME": "string",
}


def infer_column_types(df_strings: DataFrame, sample_rows: int = 10_000) -> dict[str, str]:
    """Column → suggested DataTypeEnum via threshold voting on a bounded
    sample (a LIMIT pushes into the scan — no full pass for inference)."""
    sample = df_strings.limit(sample_rows)
    return {
        r["column_name"]: r["suggested_type"]
        for r in dominant_type(sample, df_strings.columns).collect()
    }


def apply_inferred_types(df_strings: DataFrame, types: dict[str, str]) -> DataFrame:
    """Cast string columns per the voted types (DATE via the pattern list)."""
    from ..functions.typeinfer import DATE_FORMATS

    cols = []
    for c in df_strings.columns:
        t = types.get(c, "STRING")
        if t == "DATE":
            attempts = [F.try_to_timestamp(F.col(c), F.lit(f)) for f in DATE_FORMATS]
            cols.append(F.coalesce(*attempts).alias(c))
        elif t in ("BOOLEAN", "DOUBLE", "INTEGER"):
            # try_cast: values invalid under the voted type become null
            # (ANSI cast would abort the job on the first bad value)
            cols.append(F.col(c).try_cast(_CAST_TYPES[t]).alias(c))
        else:
            cols.append(F.col(c))
    return df_strings.select(*cols)


def read_csv_inferred(
    spark: SparkSession,
    path: str,
    sep: str = ",",
    header: bool = True,
    sample_rows: int = 10_000,
) -> tuple[DataFrame, dict[str, str]]:
    """CSV → typed DataFrame using the reference's voting semantics.
    Returns (typed_df, inferred_types)."""
    raw = spark.read.option("header", header).option("sep", sep).csv(path)
    types = infer_column_types(raw, sample_rows)
    return apply_inferred_types(raw, types), types
