"""Every queries() entry with an oracle must match it exactly at sf0.01 —
the local mirror of the driver's CORRECTNESS gate."""

import pytest

from data_quality_spark.queries import ORACLES, QUERIES

from .parity import compare

SF_DIR = "/root/testdata/sf0.01"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_parity(spark, name):
    problems = compare(spark, name, QUERIES[name], ORACLES[name], SF_DIR)
    assert not problems, problems


def test_rows_only_queries_run(spark):
    """UDF-backed queries (no oracle) must still run and return rows."""
    for name in set(QUERIES) - set(ORACLES):
        df = QUERIES[name](spark, "/root/testdata/sf0.001")
        assert df.count() > 0, name


def test_contract_outputs_are_scalar(spark):
    """The driver canonicalizer hashes scalar cells only: no query may emit
    array/map/struct columns (project through array_join/to_json instead).
    Round-1 regression: 4 queries ERR'd on array outputs."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    for name, fn in QUERIES.items():
        df = fn(spark, "/root/testdata/sf0.001")
        for field in df.schema.fields:
            assert not isinstance(field.dataType, (ArrayType, MapType, StructType)), (
                f"{name}.{field.name} is {field.dataType.simpleString()}"
            )


def test_token_budget_parity_on_vertical_tab(spark, tmp_path):
    """Java `\\s` matches VT and RE2's does not: `token_budget_by_lang`
    keeps oracle parity on documents holding `\\x0B` between words, inside
    punctuation runs and at the ends."""
    import os

    import duckdb

    for name in os.listdir(SF_DIR):
        if name != "documents.parquet":
            (tmp_path / name).symlink_to(os.path.join(SF_DIR, name))
    duckdb.execute(
        f"""COPY (
          SELECT doc_id,
            CASE doc_id % 4
              WHEN 0 THEN replace(text, ' ', chr(11))
              WHEN 1 THEN chr(11) || text || '!' || chr(11) || '?x' || chr(11)
              WHEN 2 THEN replace(text, '.', '.' || chr(11) || ',')
              ELSE text END AS text,
            lang, source, n_chars
          FROM '{SF_DIR}/documents.parquet'
        ) TO '{tmp_path}/documents.parquet' (FORMAT parquet)"""
    )
    name = "token_budget_by_lang"
    problems = compare(spark, name, QUERIES[name], ORACLES[name], str(tmp_path))
    assert not problems, problems


def test_empty_parity_on_whitespace_only_values(spark, tmp_path):
    """"Blank" is Java's `\\s` on both engines: names made of tab, newline,
    VT or CRLF are EMPTY (DuckDB `trim` and `F.trim` strip only U+0020),
    and a no-break space is not (DuckDB `trim` strips it, Java `\\s` does
    not)."""
    import os

    import duckdb

    for name in os.listdir(SF_DIR):
        if name != "customer.parquet":
            (tmp_path / name).symlink_to(os.path.join(SF_DIR, name))
    duckdb.execute(
        f"""COPY (
          SELECT c_custkey,
            CASE c_custkey % 50
              WHEN 0 THEN chr(9)
              WHEN 1 THEN chr(10)
              WHEN 2 THEN chr(11)
              WHEN 3 THEN chr(13) || chr(10)
              WHEN 4 THEN chr(160)
              ELSE c_name END AS c_name,
            c_nationkey, c_acctbal, c_mktsegment
          FROM '{SF_DIR}/customer.parquet'
        ) TO '{tmp_path}/customer.parquet' (FORMAT parquet)"""
    )
    for name in ("type_profile_customer", "value_quality_customer", "pattern_freq_cname"):
        problems = compare(spark, name, QUERIES[name], ORACLES[name], str(tmp_path))
        assert not problems, problems
    blank = duckdb.execute(
        f"SELECT count(*) FROM '{tmp_path}/customer.parquet' WHERE c_custkey % 50 IN (0, 1, 2, 3)"
    ).fetchone()[0]
    got = {
        r["column_name"]: r["empty_cnt"]
        for r in QUERIES["value_quality_customer"](spark, str(tmp_path)).collect()
    }
    assert got["c_name"] == blank > 0
