"""Large Python constants as ONE folded literal.

One `F.lit` per element is one py4j round trip per element (the 3,612-entry
Umm al-Qura table: ~14k calls, ~1.6 s of driver build).  Here the values
cross py4j once, as JSON under `from_json` with an explicit element type,
and Catalyst's ConstantFolding turns the result into a single Literal
before execution.  Values are checked first, because `from_json` would
silently turn an out-of-range int, NaN/inf or a lone surrogate into NULL.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import Column
from pyspark.sql import functions as F

_INT_BOUND = {"int": 1 << 31, "bigint": 1 << 63}


def _fits(v, elem_type: str) -> bool:
    if v is None:
        return True
    if elem_type == "string":
        return isinstance(v, str) and not any("\ud800" <= ch <= "\udfff" for ch in v)
    if isinstance(v, bool):
        return False
    if elem_type == "double":
        return isinstance(v, (int, float)) and math.isfinite(v)
    return isinstance(v, int) and -_INT_BOUND[elem_type] <= v < _INT_BOUND[elem_type]


def sql_array(values, elem_type: str) -> str:
    """SQL text of an `array<elem_type>` literal ("int", "bigint", "double"
    or "string"; None elements allowed): `from_json('<json>', 'array<T>')`
    with the JSON's quotes and backslashes escaped for the SQL parser, so
    it can stand inside a larger parsed SQL fragment."""
    if elem_type not in (*_INT_BOUND, "double", "string"):
        raise ValueError(f"sql_array: unsupported element type {elem_type!r}")
    vals = list(values)
    bad = [v for v in vals if not _fits(v, elem_type)]
    if bad:
        raise ValueError(f"sql_array: not valid array<{elem_type}> elements: {bad[:3]!r}")
    if elem_type == "double":
        vals = [None if v is None else float(v) for v in vals]
    text = json.dumps(vals).replace("\\", "\\\\").replace("'", "\\'")
    return f"from_json('{text}', 'array<{elem_type}>')"


def lit_array(values, elem_type: str) -> Column:
    """`sql_array` as a Column, built with the same few py4j calls at any
    length."""
    return F.expr(sql_array(values, elem_type))


def lit_map(mapping: dict, key_type: str, value_type: str) -> Column:
    """`map<key_type, value_type>` literal, built as two `lit_array`s."""
    if None in mapping:
        raise ValueError("lit_map: map keys cannot be None")
    keys = sorted(mapping)
    return F.map_from_arrays(lit_array(keys, key_type), lit_array([mapping[k] for k in keys], value_type))
