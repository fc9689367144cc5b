"""Deterministic fixed-point PageRank over a weighted domain graph.

Standard PageRank sums floating-point contributions, which makes the
result depend on partial-aggregation order — exactly what the engine's
parity conventions forbid.  This implementation keeps every rank as an
exact BIGINT in micro-units (1 node-mass = `unit`) with rational
damping (`damp_num/damp_den`, default 17/20 = 0.85) applied by integer
division: contributions are ``rank * damp_num * w  div
(damp_den * out_total)``.  Integer sums commute, so the result is
bit-identical across partitionings, parallelism levels, and engines —
the same order-independence device as the keep_rate/quality-score
ratios in `queries.py`.

The deterministic truncation of integer division drops ≤1 micro-unit
of mass per in-edge per round (and dangling nodes drop their outflow
entirely) — fine for a RANKING signal, documented here so nobody
mistakes it for the normalized probability vector.

Scale shape (10^8-domain graphs): each round is one join of ranks onto
edges by src (both sides keyed on domain — AQE/bucketing co-locates
round over round) plus one map-side-combined sum by dst; `ranks` is
`localCheckpoint`ed every `checkpoint_every` rounds to truncate plan
lineage: each round's plan references the previous `ranks`, so without
truncation the plan tree grows with every round and analysing and
serialising it soon dominates the round's own work.

Reference analog: none — link-graph extension over
`urltools.outlink_domain_edges`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank_fixed(
    edges: DataFrame,
    iters: int = 3,
    unit: int = 1_000_000,
    damp_num: int = 17,
    damp_den: int = 20,
    src: str = "src_domain",
    dst: str = "dst_domain",
    weight: str = "n_links",
    checkpoint_every: int = 5,
) -> DataFrame:
    """Run `iters` fixed-point PageRank rounds; returns (node, rank)."""
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
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out_tot = edges.groupBy(src).agg(F.sum(weight).cast("bigint").alias("_total"))
    # nodes and the degree-annotated edge list feed EVERY round — without
    # persisting them, each iteration re-derives the edge list from its
    # upstream lineage (e.g. href extraction over the full corpus), which
    # is exactly the multi-consumer recompute diamond CLAUDE.md warns
    # about; both tables are domain-graph-sized, orders of magnitude
    # below the page corpus.
    e = edges.join(out_tot, src).persist(StorageLevel.MEMORY_AND_DISK)
    base = (unit * (damp_den - damp_num)) // damp_den
    ranks = nodes.select("node", F.lit(unit).cast("bigint").alias("rank"))
    for r in range(iters):
        inc = (
            e.join(ranks, e[src] == ranks["node"])
            .select(
                F.col(dst).alias("node"),
                F.expr(
                    f"CAST((rank * {damp_num} * {weight}) DIV ({damp_den} * _total) AS BIGINT)"
                ).alias("_c"),
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
        if (r + 1) % checkpoint_every == 0 and (r + 1) < iters:
            ranks = ranks.localCheckpoint(eager=True)
    # materialize the result, then release the loop-invariant caches —
    # otherwise every call leaks two cached tables for the session's life
    ranks = ranks.localCheckpoint(eager=True)
    nodes.unpersist()
    e.unpersist()
    edges.unpersist()
    return ranks
