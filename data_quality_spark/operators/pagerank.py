"""Deterministic fixed-point PageRank over a weighted domain graph.

Standard PageRank sums floating-point contributions, which makes the
result depend on partial-aggregation order — exactly what the engine's
parity conventions forbid.  This implementation keeps every rank as an
exact BIGINT in micro-units (1 node-mass = `UNIT`) with rational
damping 17/20 = 0.85 applied by integer division: contributions are
``rank * 17 * w  div (20 * out_total)``.  Integer sums commute, so the
result is bit-identical across partitionings, parallelism levels, and
engines — the same order-independence device as the keep_rate/
quality-score ratios in `queries.py`.

The deterministic truncation of integer division drops ≤1 micro-unit
of mass per in-edge per round (and dangling nodes drop their outflow
entirely) — fine for a RANKING signal, documented here so nobody
mistakes it for the normalized probability vector.

Scale shape (10^8-domain graphs): each round is one join of ranks onto
edges by src (both sides keyed on domain — AQE/bucketing co-locates
round over round) plus one map-side-combined sum by dst.  The plan of
each round references the previous `ranks`, so it grows with the round
count; `ROUNDS` is small enough that the one `localCheckpoint` of the
result truncates it.

Reference analog: none — link-graph extension over
`urltools.outlink_domain_edges`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROUNDS = 3
UNIT = 1_000_000


def pagerank_fixed(edges: DataFrame) -> DataFrame:
    """Run `ROUNDS` fixed-point PageRank rounds over (src_domain,
    dst_domain, n_links) edges; returns (node, rank)."""
    from pyspark.storagelevel import StorageLevel

    # edges feeds THREE consumers below (nodes-union, out-degree, the
    # degree join) — persist it first so its derivation (e.g. the href
    # explode + registered_domain over the full corpus) runs once, not
    # three times, and so downstream stages codegen against the cached
    # relation instead of re-inlining the whole upstream expression tree
    # (the round-5 public-suffix domain expression pushed those fused
    # stages over the 64 KB codegen method limit).
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (
        edges.select(F.col("src_domain").alias("node"))
        .union(edges.select(F.col("dst_domain").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out_tot = edges.groupBy("src_domain").agg(F.sum("n_links").cast("bigint").alias("_total"))
    # nodes and the degree-annotated edge list feed EVERY round — without
    # persisting them, each iteration re-derives the edge list from its
    # upstream lineage (e.g. href extraction over the full corpus), which
    # is exactly the multi-consumer recompute diamond CLAUDE.md warns
    # about; both tables are domain-graph-sized, orders of magnitude
    # below the page corpus.
    e = edges.join(out_tot, "src_domain").persist(StorageLevel.MEMORY_AND_DISK)
    base = (UNIT * (20 - 17)) // 20
    ranks = nodes.select("node", F.lit(UNIT).cast("bigint").alias("rank"))
    for _ in range(ROUNDS):
        inc = (
            e.join(ranks, e["src_domain"] == ranks["node"])
            .select(
                F.col("dst_domain").alias("node"),
                F.expr("CAST((rank * 17 * n_links) DIV (20 * _total) AS BIGINT)").alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").cast("bigint").alias("_inc"))
        )
        ranks = nodes.join(inc, "node", "left").select(
            "node",
            (F.lit(base).cast("bigint") + F.coalesce(F.col("_inc"), F.lit(0).cast("bigint")))
            .cast("bigint")
            .alias("rank"),
        )
    # materialize the result, then release the loop-invariant caches —
    # otherwise every call leaks two cached tables for the session's life
    ranks = ranks.localCheckpoint(eager=True)
    nodes.unpersist()
    e.unpersist()
    edges.unpersist()
    return ranks
