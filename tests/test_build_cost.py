"""Building a contract query is driver-side work only: no Spark job (the
tables are read through declared schemas, so there is no inference job),
and a bounded number of py4j round trips where the largest expression
trees are parsed SQL fragments."""

import os
import threading
import time

import pytest

from data_quality_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.01"

# queries whose build runs Spark jobs by design, with the reason
BUILD_JOBS_EXEMPT = {
    "dedup_survivors_docs": "cluster_survivors checkpoints its two-consumer input eagerly",
    "domain_pagerank": "fixed-point PageRank: a checkpoint job per iteration",
    "ann_ivf_top3": "k-means trains its centroids on a data-dependent sample",
}

PY4J_BUDGET = {
    "ann_lsh_top3": 1200,
    "doc_textstats": 400,
    "domain_quality_stats": 1250,
    "html_extract_pages": 1050,
    "outlink_graph_pages": 900,
    "quality_pipeline_docs": 600,
    "umalqura_convert_orders": 120,
    "url_canonical_dedup": 900,
}


def _in_job_group(sc, group, build):
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_build_launches_no_job(spark):
    sc = spark.sparkContext
    assert set(BUILD_JOBS_EXEMPT) <= set(QUERIES)
    names = sorted(set(QUERIES) - set(BUILD_JOBS_EXEMPT))
    for name in names:
        _in_job_group(sc, f"build-{name}", lambda: QUERIES[name](spark, SF_DIR))
    # a probe that does launch a job (schema inference), last: the status
    # tracker is fed in event order, so once it shows the probe's job it
    # shows every job the builds launched
    _in_job_group(sc, "build-probe", lambda: spark.read.parquet(os.path.join(SF_DIR, "orders.parquet")))
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup("build-probe") and time.monotonic() < deadline:
        time.sleep(0.1)
    assert tracker.getJobIdsForGroup("build-probe")
    launched = {n: len(tracker.getJobIdsForGroup(f"build-{n}")) for n in names}
    assert not {n: k for n, k in launched.items() if k}, launched


@pytest.mark.parametrize("name", sorted(PY4J_BUDGET))
def test_build_py4j_budget(spark, monkeypatch, name):
    """`with_text_features` and `iso_to_hijri_umalqura` cost a few calls
    per parsed fragment; built as Column trees they cost ~1,300 and ~550.
    `ann_lsh_top3` computes its query-side LSH keys in the same UDF as the
    corpus side; as a Column-tree fold they cost ~1,500 more.  The four
    fixture queries parse their synthetic inputs from the oracle's SQL
    text; as Column trees those cost 250-1,700 more.  The flagship's rule
    columns, keep/reasons and rule counters (`quality_pipeline_docs`) are
    parsed SQL too; as Column trees they cost ~3,000 more.  Only the building
    thread's calls count: py4j's finalizer sends the detach commands of
    earlier objects from another thread, at times of its own."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    builder = threading.get_ident()
    calls = []

    def counting(*a, **kw):
        if threading.get_ident() == builder:
            calls.append(1)
        return send(*a, **kw)

    QUERIES[name](spark, SF_DIR)  # first build imports lazily
    monkeypatch.setattr(client, "send_command", counting)
    QUERIES[name](spark, SF_DIR)
    monkeypatch.undo()
    assert len(calls) <= PY4J_BUDGET[name], len(calls)
