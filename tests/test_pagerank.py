"""Fixed-point PageRank: hand-computed vectors and invariance."""

from data_quality_spark.operators.pagerank import pagerank_fixed


def test_three_rounds_hand_computed(spark):
    edges = spark.createDataFrame(
        [("A", "B", 1), ("B", "A", 1), ("C", "A", 1)],
        ["src_domain", "dst_domain", "n_links"],
    )
    got = {r["node"]: r["rank"] for r in pagerank_fixed(edges).collect()}
    # unit 1e6, damping 17/20, base 150000
    # r1: A=150000+850000+850000, B=150000+850000, C=150000
    # r2: A=150000+850000+127500, B=150000+(1850000*17 div 20), C=150000
    # r3: A=150000+(1722500*17 div 20)+127500, B=150000+(1127500*17 div 20)
    assert got == {"A": 1741625, "B": 1108375, "C": 150000}


def test_weighted_split(spark):
    # D splits 3:1 between A and B: contributions are exact integer shares
    edges = spark.createDataFrame(
        [("D", "A", 3), ("D", "B", 1)],
        ["src_domain", "dst_domain", "n_links"],
    )
    got = {r["node"]: r["rank"] for r in pagerank_fixed(edges).collect()}
    # D has no in-edges, so from round 1 on it holds the base 150000 and
    # sends 150000*17*3 div (20*4) = 95625 to A and 150000*17*1 div 80 =
    # 31875 to B; A and B are dangling (their outflow is dropped)
    assert got == {"A": 245625, "B": 181875, "D": 150000}


def test_partitioning_invariance(spark):
    edges = spark.createDataFrame(
        [(f"s{i % 7}", f"d{i % 3}", 1 + i % 4) for i in range(200)],
        ["src_domain", "dst_domain", "n_links"],
    ).groupBy("src_domain", "dst_domain").sum("n_links").withColumnRenamed(
        "sum(n_links)", "n_links"
    )
    a = {r["node"]: r["rank"] for r in pagerank_fixed(edges).collect()}
    b = {r["node"]: r["rank"] for r in pagerank_fixed(edges.repartition(13)).collect()}
    assert a == b
