"""Every queries() entry with an oracle must match it exactly at sf0.01 —
the local mirror of the driver's CORRECTNESS gate."""

from pathlib import Path

import pytest

from data_quality_spark import queries as q
from data_quality_spark.functions import textstats as ts
from data_quality_spark.queries import ORACLES, QUERIES, TABLE_DDL, _read

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


def test_trim_parity_on_unicode_space_edges(spark, tmp_path):
    """Spark `F.trim` strips only U+0020 and DuckDB's one-argument `trim`
    also strips U+00A0 and U+3000, so every oracle `trim` twinning an
    `F.trim` spells `trim(v, ' ')`: part names and document texts that
    start or end with NBSP or U+3000 keep parity."""
    import os

    import duckdb

    for name in os.listdir(SF_DIR):
        if name not in ("part.parquet", "documents.parquet"):
            (tmp_path / name).symlink_to(os.path.join(SF_DIR, name))
    duckdb.execute(
        f"""COPY (
          SELECT p_partkey,
            CASE p_partkey % 7
              WHEN 0 THEN chr(160) || p_name
              WHEN 1 THEN p_name || chr(12288)
              WHEN 2 THEN chr(12288) || ' ' || p_name || ' ' || chr(160)
              ELSE p_name END AS p_name,
            p_brand, p_type, p_size, p_retailprice
          FROM '{SF_DIR}/part.parquet'
        ) TO '{tmp_path}/part.parquet' (FORMAT parquet)"""
    )
    # docs 0-2 are a footer line wrapped in U+3000 (rare as is, frequent
    # once stripped); doc 3 is the same line bare, a duplicate once stripped
    duckdb.execute(
        f"""COPY (
          SELECT doc_id, t AS text, lang, source, CAST(length(t) AS BIGINT) AS n_chars
          FROM (
            SELECT *, CASE
              WHEN doc_id < 3 THEN chr(12288) || 'copyright 1' || chr(12288)
              WHEN doc_id = 3 THEN 'copyright 1'
              WHEN doc_id % 5 = 0 THEN chr(160) || text || chr(12288)
              ELSE text END AS t
            FROM '{SF_DIR}/documents.parquet'
          )
        ) TO '{tmp_path}/documents.parquet' (FORMAT parquet)"""
    )
    for name in (
        "normalize_profile_parts",
        "fingerprint_dedup_pname",
        "exact_dedup_norm_docs",
        "line_dedup_docs",
    ):
        problems = compare(spark, name, QUERIES[name], ORACLES[name], str(tmp_path))
        assert not problems, problems


def test_fingerprint_parity_on_unicode_names(spark, tmp_path):
    """`keyers.fingerprint_key` strips Java's ASCII `[\\p{Punct}\\p{Cntrl}]`
    and folds Latin-1 diacritics; its oracle must do the same, not strip
    everything outside `[a-z0-9 ]`, and count levenshtein edits in code
    points as Spark does, not in UTF-8 bytes.  The `part` copy adds, beside every
    original row, a variant name carrying an accent (one edit away, so the
    same block and a match edge once folded), an upper-case accent, ASCII
    punctuation, U+3000 or NBSP between words, a control character, or
    quotes and a backslash."""
    import os

    import duckdb

    for name in os.listdir(SF_DIR):
        if name != "part.parquet":
            (tmp_path / name).symlink_to(os.path.join(SF_DIR, name))
    duckdb.execute(
        f"""COPY (
          SELECT * FROM '{SF_DIR}/part.parquet'
          UNION ALL
          SELECT p_partkey + 100000 AS p_partkey,
            CASE p_partkey % 7
              WHEN 0 THEN regexp_replace(p_name, 'a', 'ä')
              WHEN 1 THEN regexp_replace(p_name, 'e', 'É')
              WHEN 2 THEN regexp_replace(p_name, ' ', ', ') || '!'
              WHEN 3 THEN regexp_replace(p_name, ' ', chr(12288))
              WHEN 4 THEN regexp_replace(p_name, ' ', chr(160))
              WHEN 5 THEN regexp_replace(p_name, ' ', chr(1) || ' ')
              ELSE chr(34) || p_name || chr(39) || chr(92) END AS p_name,
            p_brand, p_type, p_size, p_retailprice
          FROM '{SF_DIR}/part.parquet'
        ) TO '{tmp_path}/part.parquet' (FORMAT parquet)"""
    )
    for name in (
        "fingerprint_dedup_pname", "keyer_profile_parts", "record_linkage_parts", "record_clusters_parts",
    ):
        problems = compare(spark, name, QUERIES[name], ORACLES[name], str(tmp_path))
        assert not problems, problems


def test_simhash_parity_on_unicode_spaces(spark, tmp_path):
    """`simhash64` splits words on Java `\\s` as its oracle does.  The
    `documents` copy adds, beside every original row, a variant whose
    spaces are VT (a word break in Java and Python, not in RE2 `\\s`) or a
    character Python `str.split()` breaks on and neither engine does:
    NBSP, U+3000, U+001C, U+0085, U+2028."""
    import os

    import duckdb

    for name in os.listdir(SF_DIR):
        if name != "documents.parquet":
            (tmp_path / name).symlink_to(os.path.join(SF_DIR, name))
    duckdb.execute(
        f"""COPY (
          SELECT * FROM '{SF_DIR}/documents.parquet'
          UNION ALL
          SELECT doc_id + 100000 AS doc_id,
            replace(text, ' ', chr([11, 160, 12288, 28, 133, 8232][doc_id % 6 + 1])) AS text,
            lang, source, n_chars
          FROM '{SF_DIR}/documents.parquet'
        ) TO '{tmp_path}/documents.parquet' (FORMAT parquet)"""
    )
    name = "simhash_near_dups"
    problems = compare(spark, name, QUERIES[name], ORACLES[name], str(tmp_path))
    assert not problems, problems


def _sf_copy(path, **selects):
    """`path` as a copy of the sf0.01 tier: each table named in `selects`
    is the result of its DuckDB SELECT over `{src}` (the original table),
    every other table a symlink."""
    import os

    import duckdb

    path.mkdir(exist_ok=True)
    for name in os.listdir(SF_DIR):
        table = name.removesuffix(".parquet")
        if table in selects:
            sql = selects[table].format(src=f"'{SF_DIR}/{name}'")
            duckdb.execute(f"COPY ({sql}) TO '{path}/{name}' (FORMAT parquet)")
        else:
            (path / name).symlink_to(os.path.join(SF_DIR, name))
    return str(path)


def test_word_parity_on_vertical_tab(spark, tmp_path):
    """Java `\\s` matches VT and RE2's does not: every oracle word split,
    symbol class and BPE class that twins a Java `\\s` spells it out
    (`queries._SQL_JAVA_WS`).  The `documents` copy adds, beside every
    original row, a variant with VT between words, in punctuation runs or
    at the ends."""
    sf = _sf_copy(
        tmp_path,
        documents="""SELECT * FROM {src} UNION ALL
          SELECT doc_id + 100000,
            CASE doc_id % 3
              WHEN 0 THEN replace(text, ' ', chr(11))
              WHEN 1 THEN chr(11) || text || '!' || chr(11) || '?x' || chr(11)
              ELSE text END AS text,
            lang, source, n_chars
          FROM {src}""",
    )
    for name in (
        "doc_textstats", "doc_quality_rules", "doc_rule_hit_counts", "quality_score_docs",
        "domain_quality_stats", "doc_signatures", "doc_token_counts", "exact_dedup_norm_docs",
    ):
        problems = compare(spark, name, QUERIES[name], ORACLES[name], sf)
        assert not problems, problems


def test_rule_parity_on_cjk_dominant_text(spark, tmp_path):
    """The contract rule queries run `rules.RULE_SQL`, whose word rules
    yield to CJK-dominant text (CJK share of characters > 0.3), and the
    oracle twins that gate.  The `documents` copy adds, beside every
    original row, pure CJK text, text half CJK, and short mixes at a CJK
    share of 3/11 and exactly 0.3 (not gated)."""
    sf = _sf_copy(
        tmp_path,
        documents="""SELECT * FROM {src} UNION ALL
          SELECT doc_id + 100000, t, lang, source, length(t) FROM (
            SELECT *, CASE doc_id % 4
              WHEN 0 THEN repeat('日本語のテキスト 한국어 ', 3)
              WHEN 1 THEN text || ' ' || repeat('中文', CAST(length(text) / 2 AS INTEGER))
              WHEN 2 THEN 'abcdefg 中文字'
              ELSE 'abcdef 中文字' END AS t
            FROM {src})""",
    )
    for name in ("doc_quality_rules", "doc_rule_hit_counts", "domain_quality_stats"):
        problems = compare(spark, name, QUERIES[name], ORACLES[name], sf)
        assert not problems, problems


def test_lower_parity_on_dotted_capital_i_and_new_capitals(spark, tmp_path):
    """Spark lowers U+0130 to `i` + U+0307 and DuckDB to `i`, and DuckDB
    leaves the Unicode 14-16 capitals (U+2C2F, ...) unchanged, so every
    oracle `lower` twinning an `F.lower` is `queries._sql_lower`.  The
    copies hold, beside the original rows, `İ`/`i` and `Ⱟ`/`ⱟ` pairs that
    collide under one engine's lowering and not under the other's.
    `doc_textstats` gets no U+2C2F: Java 17's `\\p{L}` predates it, so
    its symbol count differs for another reason.  Python's `str.lower`
    leaves 27 of those capitals unchanged: the `simhash_near_dups` copy
    pairs each page's variant over one of them with its variant over the
    lowercase form, which collide only when the UDF lowers as Spark does."""
    dotted = """SELECT * FROM {src} UNION ALL
          SELECT doc_id + 100000, t, lang, source, length(t) FROM (
            SELECT *, ['İt is', 'it is', 'İn the İnn', text || ' İN İn in'][doc_id % 4 + 1] AS t
            FROM {src})"""
    capitals = """SELECT * FROM {src} UNION ALL
          SELECT doc_id + 100000, t, lang, source, length(t) FROM (
            SELECT *, [chr(11311) || ' x', chr(11359) || ' x'][doc_id % 2 + 1] AS t
            FROM {src})"""
    parts = """SELECT * FROM {src} UNION ALL
          SELECT p_partkey + k * 100000, v || ' ' || p_name, p_brand, p_type, p_size, p_retailprice
          FROM {src}, (SELECT unnest(range(1, 5)) AS k,
                              unnest(['İx', 'ix', 'x' || chr(11311), 'x' || chr(11359)]) AS v)"""
    # Unicode 16 capitals (U+1C89, U+A7CB/CC/DA/DC, U+10D50) that Python
    # 3.11's `str.lower` leaves unchanged, and their lowercase forms
    python_kept = """SELECT * FROM {src} UNION ALL
          SELECT doc_id + k * 100000, replace(text, ' ', ' ' || chr(c[doc_id % 6 + 1])), lang, source, n_chars
          FROM {src}, (SELECT unnest([1, 2]) AS k,
                              unnest([[7305, 42955, 42956, 42970, 42972, 68944],
                                      [7306, 612, 42957, 42971, 411, 68976]]) AS c)"""
    for sf, names in (
        (_sf_copy(tmp_path / "dotted", documents=dotted), ("doc_textstats", "exact_dedup_norm_docs")),
        (
            _sf_copy(tmp_path / "capitals", documents=capitals, part=parts),
            ("exact_dedup_norm_docs", "fingerprint_dedup_pname", "keyer_profile_parts"),
        ),
        (_sf_copy(tmp_path / "python_kept", documents=python_kept), ("simhash_near_dups",)),
    ):
        for name in names:
            problems = compare(spark, name, QUERIES[name], ORACLES[name], sf)
            assert not problems, problems


def test_lower_map_matches_both_engines(spark):
    """`textstats.LOWER_MAP` is exactly where Spark's and DuckDB's `lower`
    disagree below U+30000, apart from U+0130, which `_sql_lower` maps
    first."""
    import duckdb

    cps = [i for i in range(1, 0x30000) if not 0xD800 <= i <= 0xDFFF]
    df = spark.createDataFrame([(i, chr(i)) for i in cps], "cp INT, c STRING")
    spark_lower = dict(df.selectExpr("cp", "lower(c)").collect())
    duck_lower = dict(
        duckdb.sql(
            "SELECT i, lower(chr(CAST(i AS INTEGER))) FROM range(1, 196608) t(i) "
            "WHERE i NOT BETWEEN 55296 AND 57343"
        ).fetchall()
    )
    differ = {i: spark_lower[i] for i in cps if spark_lower[i] != duck_lower[i]}
    assert differ.pop(0x130) == "i̇"
    assert differ == {k: chr(v) for k, v in ts.LOWER_MAP.items()}
    for k, v in ts.LOWER_MAP.items():
        assert duck_lower[k] == chr(k) and duck_lower[v] == chr(v)


# every fixture that the query and its oracle parse from the same SQL text
SHARED_FIXTURES = (
    f"{q._SQL_SYNTH_URL} AS synth_url",
    *q._OUTLINK_PAGE_COLS,
    f"{q._SQL_LINE_DEDUP_PAGE} AS line_dedup_page",
    f"{q._SQL_HTML_PAGE} AS html_page",
    f"{q._SQL_HTML_TEXT} AS html_text",
    f"{q._SQL_CARD_BASE} AS card_base",
    f"{q._SQL_CARD_PAGE} AS card_page",
    f"{q._SQL_SCRIPT_MIX} AS script_mix",
    f"{q._SQL_MOJIBAKE_MIX} AS mojibake_mix",
    f"{q._SQL_ROBOTS_PAGE} AS robots_page",
    f"{q._SQL_PII_MIX} AS pii_mix",
    f"{q._SQL_CHAIN_EMAIL} AS chain_email",
    f"{q._SQL_MX_EMAIL} AS mx_email",
    f"{q._SQL_NANP_PHONE} AS nanp_phone",
    f"{q._SQL_FUZZY_NAME} AS fuzzy_name",
    *(f"{e} AS {c}" for c, e in q._SQL_VOTE_COLUMNS.items()),
)


def test_shared_fixtures_agree_across_engines(spark, tmp_path):
    """Each shared fixture text gives the same values in Spark SQL and
    DuckDB over an edge table: NULL and empty text, text ending in `". "`,
    non-ASCII text, and keys up to 2^40.  `esc`, `base` and `chk` stand
    in for the per-engine columns the HTML and card skeletons wrap; `k`
    and `c_custkey` equal `doc_id`."""
    import itertools

    import duckdb

    texts = [None, "", "one. two. ", "naïve 你好 İ. ﬁ ", "a\nb. c", "x" * 300]
    keys = [*range(12), 2**31 - 1, 2**31, 2**40 - 1, 2**40]
    rows = [(k, k, k, t, t, i % 10) for i, (k, t) in enumerate(itertools.product(keys, texts))]
    edge = spark.createDataFrame(rows, "doc_id BIGINT, c_custkey BIGINT, k BIGINT, text STRING, esc STRING, chk INT")
    edge = edge.selectExpr("*", f"{q._SQL_CARD_BASE} AS base")
    edge.write.parquet(str(tmp_path / "edge"))
    cols = ["doc_id", "text", *(c.rsplit(" AS ", 1)[1] for c in SHARED_FIXTURES)]
    got = sorted(map(tuple, edge.selectExpr("doc_id", "text", *SHARED_FIXTURES).collect()), key=repr)
    want = sorted(
        duckdb.sql(
            f"SELECT doc_id, text, {', '.join(SHARED_FIXTURES)} FROM '{tmp_path}/edge/*.parquet'"
        ).fetchall(),
        key=repr,
    )
    assert len(got) == len(want) == len(rows)
    for g, w in zip(got, want):
        assert g == w, [(c, a, b) for c, a, b in zip(cols, g, w) if a != b]


@pytest.mark.parametrize(
    "sf_dir",
    [
        "/root/testdata/sf0.001",
        SF_DIR,
        "/root/testdata/sf0.1",
        str(Path(__file__).resolve().parent.parent / "perfbench" / "data" / "sf0.01"),
    ],
)
def test_declared_schemas_match_inferred(spark, sf_dir):
    """`_read` reads every table through its declared DDL (no inference
    job); the DDL must be exactly what inference gives on every tier."""
    import os

    from pyspark.sql.types import _parse_datatype_string

    tables = sorted(f.removesuffix(".parquet") for f in os.listdir(sf_dir))
    assert tables == sorted(TABLE_DDL)
    for t in tables:
        inferred = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).schema
        assert _parse_datatype_string(TABLE_DDL[t]) == inferred, t
        assert _read(spark, sf_dir, t).schema == inferred, t
    with pytest.raises(KeyError):
        _read(spark, sf_dir, "no_such_table")
