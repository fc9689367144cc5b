"""`sql_array` / `lit_array` / `lit_map`: exact round trip, declared
types, loud rejection of values `from_json` would turn into NULL, and the
guards that keep element-by-element literals out of the package."""

import ast
import math
import struct
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_quality_spark.functions.literals import lit_array, lit_map, sql_array

INT_MIN, INT_MAX = -(2**31), 2**31 - 1
BIGINT_MIN, BIGINT_MAX = -(2**63), 2**63 - 1
SPECIAL_CHARS = ["'", "\\", '"', "\x0b", "\r", "\x0c", "\x00", "\xa0", "\u2028", "\U0001f600"]


def _bits(vs):
    return [None if v is None else struct.pack("<d", v) for v in vs]


def _roundtrip(spark, vs, elem_type):
    """Collects `lit_array(vs, elem_type)` back and checks its element type
    against the `F.lit`-built array of the same values."""
    df = spark.range(1).select(lit_array(vs, elem_type).alias("a"))
    got_type = df.schema["a"].dataType.elementType.simpleString()
    assert got_type == elem_type
    present = [v for v in vs if v is not None]
    # F.lit picks int for every Python int that fits, so a bigint list is
    # comparable only when some value needs 64 bits
    if present and (elem_type != "bigint" or any(not INT_MIN <= v <= INT_MAX for v in present)):
        lit_type = spark.range(1).select(F.array(*[F.lit(v) for v in vs]).alias("a"))
        assert lit_type.schema["a"].dataType.elementType.simpleString() == got_type
    return df.collect()[0]["a"]


ints = st.lists(st.one_of(st.none(), st.integers(INT_MIN, INT_MAX), st.sampled_from([INT_MIN, INT_MAX])), max_size=20)
bigints = st.lists(
    st.one_of(st.none(), st.integers(BIGINT_MIN, BIGINT_MAX), st.sampled_from([BIGINT_MIN, BIGINT_MAX])),
    max_size=20,
)
doubles = st.lists(
    st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False), st.sampled_from([-0.0, 5e-324])),
    max_size=20,
)
strings = st.lists(
    st.one_of(
        st.none(),
        st.text(alphabet=st.one_of(st.sampled_from(SPECIAL_CHARS), st.characters(exclude_categories=("Cs",)))),
    ),
    max_size=10,
)
_settings = settings(max_examples=25, deadline=None)


@given(vs=ints)
@_settings
def test_int_roundtrip(spark, vs):
    assert _roundtrip(spark, vs, "int") == vs


@given(vs=bigints)
@_settings
def test_bigint_roundtrip(spark, vs):
    assert _roundtrip(spark, vs, "bigint") == vs


@given(vs=doubles)
@_settings
def test_double_roundtrip_bit_exact(spark, vs):
    assert _bits(_roundtrip(spark, vs, "double")) == _bits(vs)


@given(vs=strings)
@_settings
def test_string_roundtrip(spark, vs):
    assert _roundtrip(spark, vs, "string") == vs


# quotes, backslashes and what the SQL parser or JSON would read as escapes
sql_escapes = st.lists(
    st.text(alphabet=st.sampled_from(["'", "\\", '"', "u", "0", "4", "1", "n", "t", "%", "_", "\n"])),
    max_size=10,
)


@given(vs=sql_escapes)
@_settings
def test_sql_array_inside_sql_fragment(spark, vs):
    """`sql_array` text nested in a larger parsed SQL expression keeps
    every string exactly."""
    got = spark.range(1).selectExpr(f"concat_ws('|', {sql_array(vs, 'string')}) AS j").collect()[0]["j"]
    assert got == "|".join(vs)


def test_fixed_edge_cases(spark):
    assert _roundtrip(spark, [], "string") == []
    assert _roundtrip(spark, [None, None], "int") == [None, None]
    assert _roundtrip(spark, [INT_MIN, INT_MAX, 0], "int") == [INT_MIN, INT_MAX, 0]
    assert _roundtrip(spark, [BIGINT_MIN, BIGINT_MAX], "bigint") == [BIGINT_MIN, BIGINT_MAX]
    assert _roundtrip(spark, SPECIAL_CHARS + ["".join(SPECIAL_CHARS)], "string") == SPECIAL_CHARS + [
        "".join(SPECIAL_CHARS)
    ]
    neg_zero = _roundtrip(spark, [-0.0], "double")[0]
    assert neg_zero == 0.0 and math.copysign(1.0, neg_zero) == -1.0


def test_folds_to_one_literal(spark):
    """ConstantFolding leaves no `from_json` in the optimized plan."""
    df = spark.range(3).select(
        lit_map({1: "a"}, "int", "string")[F.col("id").cast("int")].alias("m"),
        F.element_at(lit_array([1.5, 2.5], "double"), 1).alias("a"),
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString().lower()
    assert "from_json" not in plan and "jsontostructs" not in plan, plan


def test_lit_map_int_and_string_keys(spark):
    m_int = {404: "b", -7: "a", INT_MAX: "c'\\\x0b"}
    m_str = {"z": "1", "\u2028": "2", "'": "3", "\U0001f600": "4"}
    df = spark.range(1).select(
        lit_map(m_int, "int", "string").alias("mi"),
        lit_map(m_str, "string", "string").alias("ms"),
        lit_map(m_int, "int", "string")[F.lit(404)].alias("hit"),
    )
    assert df.schema["mi"].dataType.simpleString() == "map<int,string>"
    row = df.collect()[0]
    assert row["mi"] == m_int and row["ms"] == m_str and row["hit"] == "b"


@pytest.mark.parametrize(
    "vs,elem_type",
    [
        ([INT_MAX + 1], "int"),
        ([INT_MIN - 1], "int"),
        ([BIGINT_MAX + 1], "bigint"),
        ([True], "int"),
        ([1.0], "int"),
        ([math.nan], "double"),
        ([math.inf], "double"),
        ([-math.inf], "double"),
        (["ok", "\ud800"], "string"),
        (["\udfff tail"], "string"),
        ([1], "string"),
        (["x"], "date"),
    ],
)
def test_rejects_values_from_json_would_null(vs, elem_type):
    with pytest.raises(ValueError):
        lit_array(vs, elem_type)


def test_lit_map_rejects_null_key():
    with pytest.raises(ValueError):
        lit_map({None: "x"}, "string", "string")


def test_umalqura_build_py4j_budget(spark, monkeypatch):
    """The 3,612-entry month table crosses py4j once, not per element.

    An element-wise table costs at least three gateway calls per entry
    (~14,000 for this function), and the ~45 Column operators of the
    closed-form arithmetic cost ~11 calls each with PySpark's
    DataFrame-debugging call-site capture (on by default).  The whole
    function is one parsed SQL fragment, so its budget is a small constant,
    and the table itself must cost the same at any length."""
    from data_quality_spark.functions.normalize import iso_to_hijri_umalqura
    from data_quality_spark.functions.umalqura_table import MONTH_STARTS

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(*a, **kw):
        calls.append(1)
        return send(*a, **kw)

    def count(build):
        calls.clear()
        build()
        return len(calls)

    monkeypatch.setattr(client, "send_command", counting)
    short = count(lambda: lit_array(MONTH_STARTS[:10], "int"))
    table = count(lambda: lit_array(MONTH_STARTS, "int"))
    function = count(lambda: iso_to_hijri_umalqura("d"))
    monkeypatch.undo()
    assert short == table < 20, (short, table)
    assert function <= 120, function


# -- guard: no element-by-element literal in production code -----------------

ROOT = Path(__file__).resolve().parent.parent
# the package and every script that builds Spark columns
SCANNED = [ROOT / "bench.py", *(p for d in ("data_quality_spark", "bench", "scripts") for p in (ROOT / d).rglob("*.py"))]


def _is_f(func, name):
    return (
        isinstance(func, ast.Attribute)
        and func.attr == name
        and isinstance(func.value, ast.Name)
        and func.value.id == "F"
    )


def _is_lit(node):
    """`F.lit(...)`, possibly followed by method calls such as `.cast(...)`."""
    while isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        if _is_f(node.func, "lit"):
            return True
        node = node.func.value
    return False


def element_wise_literals(source: str) -> list[int]:
    """Line numbers of `F.lit(list(...))`, `F.lit([...])`, and
    `F.array`/`F.create_map` over a comprehension of `F.lit`s."""
    hits = []
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, ast.Call):
            continue
        if _is_f(node.func, "lit") and node.args:
            arg = node.args[0]
            if isinstance(arg, ast.List) or (
                isinstance(arg, ast.Call) and isinstance(arg.func, ast.Name) and arg.func.id == "list"
            ):
                hits.append(node.lineno)
        elif _is_f(node.func, "array") or _is_f(node.func, "create_map"):
            for arg in node.args:
                comp = arg.value if isinstance(arg, ast.Starred) else arg
                if isinstance(comp, (ast.ListComp, ast.GeneratorExp)) and _is_lit(comp.elt):
                    hits.append(node.lineno)
    return hits


def test_guard_catches_element_wise_patterns():
    bad = [
        "F.lit(list(MONTH_STARTS))",
        "F.lit([1, 2, 3])",
        "F.array(*[F.lit(s) for s in STOPWORDS])",
        "F.array(*[F.lit(1 << p).cast('long') for p in range(8)])",
        "F.create_map(*(F.lit(x) for x in pairs))",
    ]
    for src in bad:
        assert element_wise_literals(src) == [1], src
    ok = "F.array(*[F.struct(F.abs(d), F.lit(p)) for p, d in enumerate(dots)])"
    assert element_wise_literals(ok) == []


def test_no_element_wise_literals_in_production_code():
    found = [
        f"{path.relative_to(ROOT)}:{line}"
        for path in sorted(SCANNED)
        for line in element_wise_literals(path.read_text())
    ]
    assert not found, (
        "element-by-element literal (one py4j call per element); build it with "
        f"functions/literals.lit_array / lit_map instead: {found}"
    )
