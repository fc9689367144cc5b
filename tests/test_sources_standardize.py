"""CSV inference source + standardization + masking + anyorder matcher."""

import pyspark.sql.functions as F
import pytest

from data_quality_spark.operators import standardize as ST
from data_quality_spark.operators.matching import tokenized_weight
from data_quality_spark.sources.readers import read_csv_inferred

SYNS = {
    "Robert": ["bob", "rob", "bobby"],
    "Elizabeth": ["liz", "beth", "lizzy"],
}


def test_read_csv_inferred(spark, tmp_path):
    p = tmp_path / "emp.csv"
    p.write_text(
        "id;name;salary;active;hired\n"
        "1;alice;1000.5;true;2024-01-01\n"
        "2;bob;2000;false;2024-02-01\n"
        "3;carol;x;true;2024-03-01\n"     # one invalid salary → still DOUBLE (≥50%)
        "4;dave;4000.25;true;2024-04-01\n"
    )
    df, types = read_csv_inferred(spark, str(p), sep=";")
    assert types == {
        "id": "INTEGER",         # pure-int column: no DOUBLE present, no absorption
                                 # (DataTypeOccurences.java:59-63 — conditional)
        "name": "STRING",
        "salary": "DOUBLE",
        "active": "BOOLEAN",
        "hired": "DATE",
    }
    row = {r["id"]: r for r in df.collect()}[1.0]
    assert row["salary"] == pytest.approx(1000.5)
    assert row["active"] is True
    assert str(row["hired"]).startswith("2024-01-01")
    # invalid value under the voted type → null after cast
    assert {r["id"]: r["salary"] for r in df.collect()}[3.0] is None


def test_standardize_exact(spark):
    df = spark.createDataFrame(
        [("BOB",), ("liz",), ("unknown",), ("robert",)], "name string"
    )
    got = [
        r["s"]
        for r in df.select(ST.standardize_expr(F.col("name"), SYNS).alias("s")).collect()
    ]
    assert got == ["Robert", "Elizabeth", "unknown", "Robert"]


def test_standardize_fuzzy(spark):
    df = spark.createDataFrame(
        [("bobb",), ("lis",), ("zzz",), ("beth",)], "name string"
    )
    out = ST.standardize_fuzzy(df, "name", SYNS)
    got = {r["name"]: r["name_std"] for r in out.collect()}
    assert got["bobb"] == "Robert"      # 1 edit from 'bob'/'bobby'
    assert got["lis"] == "Elizabeth"    # 1 edit from 'liz'
    assert got["zzz"] == "zzz"          # no candidate → unchanged
    assert got["beth"] == "Elizabeth"   # exact synonym


def test_mask_same_class(spark):
    df = spark.createDataFrame([("Ab3 x-9",), ("Ab3 x-9",)], "v string")
    got = [r["m"] for r in df.select(ST.mask_same_class(F.col("v")).alias("m")).collect()]
    assert got[0] == got[1]                      # deterministic per value
    assert got[0][0] == "X" and got[0][1] == "x"
    assert got[0][2].isdigit() and got[0][5] == "-"
    # structure preserved, content changed for letters
    assert got[0] != "Ab3 x-9"


def test_anyorder_weight(spark):
    df = spark.createDataFrame([("john smith", "Smith john")], "a string, b string")
    r = df.select(
        tokenized_weight("exact", "anyorder", F.lower(F.col("a")), F.lower(F.col("b"))).alias("w"),
        tokenized_weight("levenshtein", "anyorder", F.lower(F.col("a")), F.lower(F.col("b"))).alias("lw"),
    ).collect()[0]
    assert r["w"] == 1.0   # same tokens, any order → exact match
    assert r["lw"] == 1.0  # every token pairs with an identical one


# --- Lucene search-mode parity (SynonymIndexSearcher modes) -----------------
# Fixture + expected hit sets mirror the reference's
# SynonymIndexSearcherTest.synonyms4newoptions / ExpectResults4* tables
# (`standardization/index/SynonymIndexSearcherTest.java:393-511`).
# Hit SETS are asserted (Lucene's BM25 rank order is index-statistics
# dependent and not replicated; our order is coverage-then-docid).

SYN_DOCS = [
    ("Dulux Trade", "ABC DEF"),
    ("GHI JKL", "Dulux Trade"),
    ("Dulux Trade Red Paint 5L", "DEF ABC"),
    ("Trade", "PPP"),
    ("Trade Dulux", "PPP"),
    ("IBM", "International Business Machines|Big Blue"),
    ("Big Blue", "IBM"),
    ("ALMOND/WH", "ALMOND/WHITE"),
    ("The quick brown fox jumps over the lazy dog", ""),
    ("The quick brown fox", ""),
    ("The quick brown lazy fox", ""),
    ("quick fox", ""),
    ("quic fax", ""),
    ("quick", ""),
]

EXPECTED = {
    "MATCH_ANY": {
        "Dulux Trade": {0, 1, 2, 4, 3},
        "Trade": {3, 0, 2, 4, 1},
        "Big Blue": {6, 5},
        "Business International": {5},
        "International Business": {5},
        "ALMOND/WH": {7},
        "QUICK FOX": {11, 8, 9, 10, 13},
    },
    "MATCH_PARTIAL": {
        "Dulux Trade": {0, 1, 2},
        "Trade": {3, 0, 2, 4, 1},
        "Big Blue": {6, 5},
        "Business International": set(),
        "International Business": {5},
        "ALMOND/WH": {7},
        "QUICK FOX": {11, 8, 9},
    },
    "MATCH_ALL": {
        "Dulux Trade": {0, 1, 2, 4},
        "Trade": {3, 0, 2, 4, 1},
        "Big Blue": {6, 5},
        "Business International": {5},
        "International Business": {5},
        "ALMOND/WH": {7},
        "QUICK FOX": {11, 8, 9, 10},
    },
    "MATCH_EXACT": {
        "Dulux Trade": {0, 1},
        "Trade": {3},
        "Big Blue": {6, 5},
        "Business International": set(),
        "International Business": set(),
        "ALMOND/WH": {7},
        "QUICK FOX": {11},
    },
    "MATCH_ANY_FUZZY": {
        "Dulux Trade": {0, 1, 2, 4, 3},
        "Trade": {3, 0, 2, 4, 1},
        "Big Blue": {6, 5},
        "Business International": {5},
        "International Business": {5},
        "ALMOND/WH": {7},
        "QUICK FOX": {11, 8, 9, 10, 12, 13},
    },
    "MATCH_ALL_FUZZY": {
        "Dulux Trade": {0, 1, 2, 4},
        "Trade": {3, 0, 2, 4, 1},
        "Big Blue": {6, 5},
        "Business International": {5},
        "International Business": {5},
        "ALMOND/WH": {7},
        "QUICK FOX": {11, 8, 9, 10, 12},
    },
}


def test_synonym_search_modes_mirror_reference_vectors():
    from data_quality_spark.operators.standardize import (
        compile_synonym_entries,
        synonym_match_ids,
    )

    compiled = compile_synonym_entries(SYN_DOCS)
    for mode, cases in EXPECTED.items():
        for query, want in cases.items():
            got = set(synonym_match_ids(query, compiled, mode))
            assert got == want, f"{mode} {query!r}: got {got}, want {want}"


def test_contract_fixture_frozen_lists_match_matcher():
    """The contract oracle's FROZEN ordered hit lists (queries.py
    _SYN_SEARCH_EXPECTED — deliberately not derived from the matcher)
    must be exactly what the pure-Python matcher core produces; if the
    matcher's semantics ever change intentionally, update the literals
    and this test points at every divergence."""
    from data_quality_spark.operators.standardize import (
        compile_synonym_entries,
        synonym_match_ids,
    )
    from data_quality_spark.queries import (
        _SYN_SEARCH_DOCS,
        _SYN_SEARCH_EXPECTED,
        _SYN_SEARCH_QUERIES,
    )

    compiled = compile_synonym_entries(_SYN_SEARCH_DOCS)
    for mode, per_query in _SYN_SEARCH_EXPECTED.items():
        assert len(per_query) == len(_SYN_SEARCH_QUERIES)
        for q, want in zip(_SYN_SEARCH_QUERIES, per_query):
            got = synonym_match_ids(q, compiled, mode)
            assert got == want, f"{mode} {q!r}: matcher={got}, frozen={want}"


def test_synonym_search_ordering_and_distributed(spark):
    from data_quality_spark.operators.standardize import synonym_match_ids, synonym_search
    from data_quality_spark.operators.standardize import compile_synonym_entries

    compiled = compile_synonym_entries(SYN_DOCS)
    # full-coverage docs rank before partial-coverage ones, ties by doc id
    assert synonym_match_ids("Dulux Trade", compiled, "MATCH_ANY")[:4] == [0, 1, 2, 4]

    df = spark.createDataFrame(
        [(i, q) for i, q in enumerate(["Dulux Trade", "QUICK FOX", "", None, "zzz"])],
        "id long, q string",
    )
    out = synonym_search(df, "q", SYN_DOCS, mode="MATCH_ALL")
    rows = {r["id"]: r["match_ids"] for r in out.collect()}
    assert set(rows[0]) == {0, 1, 2, 4}
    assert set(rows[1]) == {11, 8, 9, 10}
    assert rows[2] == [] and rows[3] == [] and rows[4] == []
