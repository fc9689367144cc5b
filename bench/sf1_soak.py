"""sf1 soak: the flagship + dedup family at 50k docs (10x the bench tier).

Round-4's evidence ceiling was ~17 MB of input; this soak raises it one
order of magnitude and records, per query: wall time, the number of
stages of its Spark jobs (skipped ones included), and their memory/disk
SPILL totals, read by `runreport.measure` from the driver's status store.
"No spill, no OOM, stage count flat vs sf0.1" is the head-room evidence
the 100 TB story rests on.

The sf1 tier is synthesized deterministically from the driver's own
sf0.1 documents table (do-not-modify /root/testdata stays untouched):
each doc is tiled 10x with a per-copy suffix mutation, so exact dedup
keeps distinct rows while the near-dup family sees a genuinely
duplicate-heavy corpus — the web-crawl regime, and the harder case for
the banding joins.  Other tables are referenced from sf0.1 unchanged
(the soak queries only read `documents`).

The last row is no query: one 10k-member near-dup cluster (the
mega-cluster case of VERDICT r5 #7), its members chained in a seeded
random order, through `cluster_matches` + `cluster_survivors`.

Run: `python bench/sf1_soak.py`   (~2-4 min at local[4]; cores from
$SPARK_GRAFT_CPUS, default 32; do not run pytest concurrently).  Replaces
its dated section of BENCH/BASELINE.md.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_quality_spark.runreport import CORES, checksum, measure, splice_baseline  # noqa: E402

OUT_DIR = "/tmp/dqs_sf1"
MASTER = f"local[{CORES}]"
MEGA_CLUSTER_SIZE = 10_000
SOAK_QUERIES = [
    "quality_pipeline_docs",
    "exact_dedup_docs",
    "exact_dedup_norm_docs",
    "minhash_near_dups",
    "simhash_near_dups",
    "line_dedup_docs",
    "card_scrub_docs",
    # round-5 widening: URL/rules/repetition/crawl-QA/survivor families
    "url_canonical_dedup",
    "domain_quality_stats",
    "doc_quality_rules",
    "top_ngram_docs",
    "script_profile_docs",
    "pii_text_scrub_docs",
    "dedup_survivors_docs",
]


def _synth_fingerprint() -> str:
    """Hash of this function's own synthesis spec: editing synth_sf1
    invalidates any cached corpus instead of silently reusing a stale
    one when recording BASELINE numbers (review finding, round 5)."""
    import hashlib
    import inspect

    src = inspect.getsource(synth_sf1)
    return hashlib.sha256(src.encode()).hexdigest()[:16]


def synth_sf1(spark) -> None:
    from pyspark.sql import functions as F

    marker = os.path.join(OUT_DIR, f"_SYNTH_OK_{_synth_fingerprint()}")
    if os.path.exists(marker):
        return
    shutil.rmtree(OUT_DIR, ignore_errors=True)
    os.makedirs(OUT_DIR, exist_ok=True)
    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    copies = spark.range(10).select(F.col("id").alias("_copy"))
    tiled = (
        docs.crossJoin(copies)  # 5k x 10 — the tiny side is a broadcast
        .select(
            (F.col("doc_id") + F.col("_copy") * 1_000_000).alias("doc_id"),
            # copy 0 keeps the original text; copies 1..9 append a short
            # deterministic suffix — near-dups for MinHash/SimHash, but
            # distinct for exact dedup
            F.when(F.col("_copy") == 0, F.col("text"))
            .otherwise(
                F.concat(
                    F.col("text"),
                    F.lit(" rev"),
                    F.col("_copy").cast("string"),
                    F.lit("-"),
                    F.col("doc_id").cast("string"),
                )
            )
            .alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    tiled.repartition(32).write.mode("overwrite").parquet(
        os.path.join(OUT_DIR, "documents.parquet")
    )
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "embeddings",
    ]:
        src = f"/root/testdata/sf0.1/{t}.parquet"
        dst = os.path.join(OUT_DIR, f"{t}.parquet")
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copy(src, dst)
    open(marker, "w").close()


def mega_cluster_survivors(spark):
    """One `MEGA_CLUSTER_SIZE`-member component: a chain over the ids in
    a seeded random order, edges in random order, each member scored by
    `id % 997`; one survivor is kept."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from data_quality_spark.operators.dedup import cluster_survivors
    from data_quality_spark.operators.matching import cluster_matches

    rng = np.random.default_rng(7)
    ids = rng.permutation(MEGA_CLUSTER_SIZE)
    chain = np.stack([ids[:-1], ids[1:]], axis=1)
    rng.shuffle(chain)
    edges = spark.createDataFrame(
        pd.DataFrame({"id_a": chain[:, 0], "id_b": chain[:, 1]}, dtype="int64")
    )
    labeled = cluster_matches(edges).select(
        F.col("id").alias("doc_id"), "cluster_id", (F.col("id") % 997).alias("_q")
    )
    return cluster_survivors(labeled, "_q")


def main() -> None:
    from data_quality_spark.queries import QUERIES
    from data_quality_spark.session import get_spark

    spark = get_spark(app_name="dqs-sf1-soak", master=MASTER)
    spark.sparkContext.setLogLevel("ERROR")

    synth_sf1(spark)
    n_docs = spark.read.parquet(os.path.join(OUT_DIR, "documents.parquet")).count()

    # warm-up (codegen + python workers)
    checksum(QUERIES["quality_pipeline_docs"](spark, "/root/testdata/sf0.001"))

    builds = [(name, lambda name=name: QUERIES[name](spark, OUT_DIR)) for name in SOAK_QUERIES]
    builds.append(("mega_cluster_10k", lambda: mega_cluster_survivors(spark)))
    rows = []
    failed = 0
    for name, build in builds:
        with measure(spark, name) as run:
            n, _ = checksum(build())
        spark.catalog.clearCache()
        failed += run["failed_tasks"]
        rows.append((name, round(run["wall_s"], 2), n, run["stages"],
                     run["memory_spill_bytes"], run["disk_spill_bytes"]))
        print(rows[-1])

    total = round(sum(r[1] for r in rows), 2)
    lines = [
        f"## sf1 soak ({time.strftime('%Y-%m-%d')}) — 50k docs, {MASTER}",
        "",
        f"Input: {n_docs} documents (~10x the bench tier; near-dup-heavy by",
        "construction — see bench/sf1_soak.py).  Stages count every stage of",
        "the query's Spark jobs, skipped ones included; spill columns sum the",
        "driver status store's per-stage counters; 0 = the whole run fit in memory.",
        "",
        "| query | wall s | out rows | stages | mem spill B | disk spill B |",
        "|---|---|---|---|---|---|",
    ]
    for name, wall, n, st, mem, disk in rows:
        lines.append(f"| {name} | {wall} | {n} | {st} | {mem} | {disk} |")
    lines.append("")
    lines.append(f"Total {total} s, {failed} failed tasks, zero OOM.")
    splice_baseline("## sf1 soak", "\n".join(lines))
    print(f"soak total {total}s -> updated BENCH/BASELINE.md")


if __name__ == "__main__":
    main()
