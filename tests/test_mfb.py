"""True MFB match-merge tests: sequential match-or-merge with re-enqueue,
mirroring the reference's SwooshRecordGroupingTest-style scenarios
(`grouping/SwooshRecordGroupingTest.java:137-267`) on synthetic fixtures
with hand-computed group sizes and survivors."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_quality_spark.operators.matching import (
    _mfb_queue,
    cluster_matches,
    mfb_match_merge,
)

NAME_ATTR = [{"col": "name", "matcher": "jaro_winkler", "weight": 1.0, "merge": "most_common"}]


class TestMfbQueue:
    """Pure-Python queue semantics (block-local)."""

    def test_identical_records_merge(self):
        recs = [{"id": i, "ts": 0, "name": "Amburgay"} for i in range(3)]
        masters = _mfb_queue(recs, NAME_ATTR, 0.95)
        assert len(masters) == 1
        assert masters[0]["ids"] == {0, 1, 2}
        assert masters[0]["vals"]["name"] == "Amburgay"

    def test_transitive_merge_via_reenqueue(self):
        """a~b and b~c but a!~c: the merged (a,b) record carries BOTH values
        (T-Swoosh dominance), so c still matches via b's value — the
        behavior connected components gets right but a naive master-value
        comparison would lose."""
        recs = [
            {"id": 0, "ts": 0, "name": "Jonathan"},
            {"id": 1, "ts": 0, "name": "Jonothan"},   # jw 0.908 vs Jonathan
            {"id": 2, "ts": 0, "name": "Jonothann"},  # jw 0.978 vs Jonothan, 0.886 vs Jonathan
        ]
        masters = _mfb_queue(recs, NAME_ATTR, 0.9)
        assert len(masters) == 1
        assert masters[0]["ids"] == {0, 1, 2}

    def test_no_match_keeps_separate_masters(self):
        recs = [
            {"id": 0, "ts": 0, "name": "Amburgay"},
            {"id": 1, "ts": 0, "name": "Zielinski"},
        ]
        masters = _mfb_queue(recs, NAME_ATTR, 0.95)
        assert len(masters) == 2

    def test_survivorship_mix(self):
        """MOST_COMMON + LONGEST + LARGEST + MOST_RECENT on one group —
        the SwooshRecordGroupingTest.testDoGroupMergeValues rule mix."""
        attrs = [
            {"col": "name", "matcher": "jaro_winkler", "weight": 1.0, "merge": "most_common"},
            {"col": "first", "matcher": "exact", "weight": 0.0, "merge": "longest"},
            {"col": "num", "matcher": "exact", "weight": 0.0, "merge": "largest"},
            {"col": "date", "matcher": "exact", "weight": 0.0, "merge": "most_recent"},
        ]
        recs = [
            {"id": 0, "ts": 100, "name": "Amburgay", "first": "Greg", "num": "4151", "date": "2015-10-01"},
            {"id": 1, "ts": 300, "name": "Amburgay", "first": "Gregory", "num": "12", "date": "2016-03-03"},
            {"id": 2, "ts": 200, "name": "Amburgey", "first": "G.", "num": "99", "date": "2014-01-01"},
        ]
        masters = _mfb_queue(recs, attrs, 0.95)
        assert len(masters) == 1
        m = masters[0]
        assert m["vals"]["name"] == "Amburgay"      # most common (2 of 3)
        assert m["vals"]["first"] == "Gregory"      # longest
        assert m["vals"]["num"] == "4151"           # largest numeric
        assert m["vals"]["date"] == "2016-03-03"    # most recent timestamp
        assert m["ids"] == {0, 1, 2}

    def test_null_values_survive(self):
        recs = [
            {"id": 0, "ts": 0, "name": None},
            {"id": 1, "ts": 0, "name": None},
        ]
        masters = _mfb_queue(recs, NAME_ATTR, 0.9)
        # null vs null scores 1.0 (NullOption.nullMatchNull default)
        assert len(masters) == 1
        assert masters[0]["vals"]["name"] is None


def test_mfb_match_merge_spark(spark):
    rows = [
        (1, "b1", "Amburgay", "Greg"),
        (2, "b1", "Amburgay", "Gregory"),
        (3, "b1", "Amburgey", "G."),
        (4, "b1", "Zielinski", "Anna"),
        (5, "b2", "Amburgay", "Zoe"),  # other block: never merges with b1
    ]
    df = spark.createDataFrame(rows, "id long, bk string, name string, first string")
    out = mfb_match_merge(
        df,
        "id",
        F.col("bk"),
        [
            {"col": "name", "matcher": "jaro_winkler", "weight": 1.0, "merge": "most_common"},
            {"col": "first", "matcher": "exact", "weight": 0.0, "merge": "longest"},
        ],
    )
    got = {r["group_id"]: r for r in out.collect()}
    assert got[1]["group_size"] == 3 and got[1]["member_ids"] == "1,2,3"
    assert got[1]["name_survivor"] == "Amburgay"
    assert got[1]["first_survivor"] == "Gregory"
    assert got[4]["group_size"] == 1
    assert got[5]["group_size"] == 1 and got[5]["block"] == "b2"


def test_mfb_deterministic_under_partitioning(spark):
    rows = [(i, f"b{i % 7}", f"name{i % 20}") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, bk string, name string")
    attrs = [{"col": "name", "matcher": "exact", "weight": 1.0, "merge": "most_common"}]
    a = mfb_match_merge(df.repartition(1), "id", F.col("bk"), attrs)
    b = mfb_match_merge(df.repartition(13), "id", F.col("bk"), attrs)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_cluster_matches_blocked_exact(spark):
    pairs = spark.createDataFrame(
        [("b1", 1, 2), ("b1", 2, 3), ("b1", 5, 6), ("b2", 10, 11)],
        "_bk string, id_a long, id_b long",
    )
    out = {r["id"]: r["cluster_id"] for r in cluster_matches(pairs, block_col="_bk").collect()}
    assert out == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 10: 10, 11: 10}


def test_cluster_blocked_agrees_with_python_oracle(spark):
    """Connected components, per block and over the whole graph, must be
    the exact components a pure-Python union-find computes over the same
    edges: random in-block graphs plus seeded shuffled chains (node ids in
    random order along the chain, edges in random order)."""
    import random

    rng = random.Random(7)
    pairs = []
    for blk in range(10):
        ids = list(range(blk * 100, blk * 100 + 20))
        for _ in range(15):
            a, b = rng.sample(ids, 2)
            pairs.append((f"b{blk}", min(a, b), max(a, b)))
    for blk, n in enumerate((2, 41, 300), start=10):
        ids = list(range(blk * 1000, blk * 1000 + n))
        rng.shuffle(ids)
        chain = [(f"b{blk}", a, b) for a, b in zip(ids, ids[1:])]
        rng.shuffle(chain)
        pairs.extend(chain)
    df = spark.createDataFrame(pairs, "_bk string, id_a long, id_b long")
    blocked = {(r["id"], r["cluster_id"]) for r in cluster_matches(df, block_col="_bk").collect()}
    whole = {(r["id"], r["cluster_id"]) for r in cluster_matches(df).collect()}

    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for _, a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    expected = {(i, find(i)) for i in parent}
    assert blocked == expected
    assert whole == expected


def test_most_trusted_source(spark):
    rows = [
        (1, "b", "Amburgay", "crm"),
        (2, "b", "Amburgay", "web"),
    ]
    df = spark.createDataFrame(rows, "id long, bk string, name string, src string")
    out = mfb_match_merge(
        df,
        "id",
        F.col("bk"),
        [{"col": "name", "matcher": "exact", "weight": 1.0, "merge": "most_trusted_source", "param": "web"}],
        source_col="src",
    ).collect()
    assert len(out) == 1 and out[0]["group_size"] == 2

    # distinguishing values: trusted source's value must survive
    rows2 = [
        (1, "b", "Amburgay", "crm"),
        (2, "b", "Amburgey", "web"),
    ]
    df2 = spark.createDataFrame(rows2, "id long, bk string, name string, src string")
    out2 = mfb_match_merge(
        df2,
        "id",
        F.col("bk"),
        [{"col": "name", "matcher": "jaro_winkler", "weight": 1.0, "merge": "most_trusted_source", "param": "web"}],
        source_col="src",
    ).collect()
    assert out2[0]["group_size"] == 2
    assert out2[0]["name_survivor"] == "Amburgey"
