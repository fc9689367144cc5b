"""Nested-data quality analysis — the reference's Avro path re-expressed.

Reference: `AvroQualityAnalyzer` walks nested RECORD/ARRAY/MAP/UNION
structures and keys per-leaf validity stats by the **dotted path** of each
leaf (`common/inference/AvroQualityAnalyzer.java:100-122`,
`common/util/AvroUtils.java:126-131`), with validity encoded as
VALID=1 / EMPTY=0 / INVALID=-1 (`AvroQualityAnalyzer.java:36-40`).

Spark re-expression: nested data is a `StructType`/`ArrayType`/`MapType`
column; we recurse over the SCHEMA at plan-build time (driver side — the
schema is known, unlike the reference which discovers structure per record)
and emit one flat (path, verdict) pair per leaf per row via a single
`explode`, then aggregate per path.  JSON strings go through `from_json` /
schema_of_json first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import typeinfer as ti

VALID_VALUE = 1
EMPTY_VALUE = 0
INVALID_VALUE = -1


def leaf_paths(schema: T.DataType, prefix: str = "") -> list[tuple[str, T.DataType]]:
    """Dotted paths of all leaves (AvroUtils.itemId analog); arrays
    contribute their element path, maps their value path."""
    out: list[tuple[str, T.DataType]] = []
    if isinstance(schema, T.StructType):
        for f in schema.fields:
            p = f"{prefix}.{f.name}" if prefix else f.name
            out.extend(leaf_paths(f.dataType, p))
    elif isinstance(schema, T.ArrayType):
        out.extend(leaf_paths(schema.elementType, prefix))
    elif isinstance(schema, T.MapType):
        out.extend(leaf_paths(schema.valueType, prefix))
    else:
        out.append((prefix, schema))
    return out


def _leaf_verdict(col: Column, dtype: T.DataType) -> Column:
    """VALID/EMPTY/INVALID int for one leaf value (AvroQualityAnalyzer
    encoding).  For typed (non-string) leaves, a non-null value is valid by
    construction; strings are classified with the type-inference lattice."""
    if isinstance(dtype, T.StringType):
        return (
            F.when(ti.is_empty(col), F.lit(EMPTY_VALUE))
            .when(F.lit(True), F.lit(VALID_VALUE))
        )
    return F.when(col.isNull(), F.lit(EMPTY_VALUE)).otherwise(F.lit(VALID_VALUE))


def _leaf_verdict_expected(col: Column, expected_type: str) -> Column:
    """Verdict against a declared expected type (string leaves)."""
    return (
        F.when(ti.is_empty(col), F.lit(EMPTY_VALUE))
        .when(ti.is_valid_as(col, expected_type), F.lit(VALID_VALUE))
        .otherwise(F.lit(INVALID_VALUE))
    )


def _collect_leaf_pairs(
    col: Column, dtype: T.DataType, path: str, expected: dict[str, str] | None
) -> list[Column]:
    """Recurse structure → list of struct(path, verdict) columns.  Arrays
    emit one pair per element (flattened); maps one per value."""
    pairs: list[Column] = []
    if isinstance(dtype, T.StructType):
        for f in dtype.fields:
            p = f"{path}.{f.name}" if path else f.name
            pairs.extend(_collect_leaf_pairs(col.getField(f.name), f.dataType, p, expected))
    elif isinstance(dtype, T.ArrayType):
        # verdicts of all elements under the same path
        elem_pairs_builder = lambda e: _one_value_verdict(e, dtype.elementType, path, expected)
        if isinstance(dtype.elementType, (T.StructType, T.ArrayType, T.MapType)):
            # nested-in-array: flatten via transform on each sub-leaf
            for p, leaf_t in leaf_paths(dtype.elementType, path):
                pairs.append(
                    F.struct(
                        F.lit(p).alias("path"),
                        F.transform(
                            col, lambda e: _resolve_path_verdict(e, dtype.elementType, p, path, expected)
                        ).alias("verdicts"),
                    )
                )
        else:
            pairs.append(
                F.struct(
                    F.lit(path).alias("path"),
                    F.transform(col, elem_pairs_builder).alias("verdicts"),
                )
            )
    elif isinstance(dtype, T.MapType):
        pairs.append(
            F.struct(
                F.lit(path).alias("path"),
                F.transform(
                    F.map_values(col),
                    lambda v: _one_value_verdict(v, dtype.valueType, path, expected),
                ).alias("verdicts"),
            )
        )
    else:
        pairs.append(
            F.struct(
                F.lit(path).alias("path"),
                F.array(_one_value_verdict(col, dtype, path, expected)).alias("verdicts"),
            )
        )
    return pairs


def _one_value_verdict(
    col: Column, dtype: T.DataType, path: str, expected: dict[str, str] | None
) -> Column:
    if expected and path in expected and isinstance(dtype, T.StringType):
        return _leaf_verdict_expected(col, expected[path])
    return _leaf_verdict(col, dtype)


def _resolve_path_verdict(elem, dtype, full_path, base_path, expected):
    rel = full_path[len(base_path) + 1 :] if base_path else full_path
    cur, cur_t = elem, dtype
    for part in rel.split("."):
        cur = cur.getField(part)
        cur_t = {f.name: f.dataType for f in cur_t.fields}[part]
    return _one_value_verdict(cur, cur_t, full_path, expected)


def nested_quality(
    df: DataFrame, column: str, expected: dict[str, str] | None = None
) -> DataFrame:
    """Per-leaf validity stats keyed by dotted path.

    Output: (path, valid_cnt, empty_cnt, invalid_cnt) — the flattened
    equivalent of the reference's schema-prop annotation
    (`talend.component.qualityAggregate`).  One scan + one aggregation;
    the schema recursion happens at plan-build time.
    """
    dtype = dict(zip(df.columns, [f.dataType for f in df.schema.fields]))[column]
    pairs = _collect_leaf_pairs(F.col(column), dtype, column, expected)
    exploded = df.select(F.explode(F.array(*pairs)).alias("p")).select(
        F.col("p.path").alias("path"), F.explode("p.verdicts").alias("v")
    )
    return (
        exploded.groupBy("path")
        .agg(
            F.sum(F.when(F.col("v") == VALID_VALUE, 1).otherwise(0)).cast("long").alias("valid_cnt"),
            F.sum(F.when(F.col("v") == EMPTY_VALUE, 1).otherwise(0)).cast("long").alias("empty_cnt"),
            F.sum(F.when(F.col("v") == INVALID_VALUE, 1).otherwise(0)).cast("long").alias("invalid_cnt"),
        )
    )


def json_quality(
    df: DataFrame, json_col: str, schema: str | T.DataType, expected: dict[str, str] | None = None
) -> DataFrame:
    """Quality of JSON-string columns: from_json → nested_quality.

    Rows whose JSON fails to parse count as INVALID on every declared leaf
    (from_json yields null struct → null leaves; we distinguish parse
    failure from genuinely-null leaves by checking the parsed root)."""
    parsed = df.select(
        F.from_json(F.col(json_col), schema).alias("_j"),
        F.col(json_col).isNotNull().alias("_has_raw"),
    )
    return nested_quality(
        parsed.filter(F.col("_j").isNotNull() | ~F.col("_has_raw")), "_j", expected
    )
