"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship quality pipeline on sf0.001;
`queries()` / `oracle_sql()` expose each implemented operator from
SURVEY.md §2 with its DuckDB oracle twin (see data_quality_spark/queries.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from data_quality_spark.queries import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["quality_pipeline_docs"](spark, "/root/testdata/sf0.001")


# Evidence-priority ordering: the driver's correctness gate samples the FIRST
# 50 entries of queries(), so this list IS the round-6 sample, weakest
# driver evidence first.  No query below has a driver row for its current
# form: (a) queries whose oracle text or synthetic fixture changed in round
# 6 (fixtures parsed from one SQL text on both engines, Java's `\s` and
# Spark's `lower` spelled out in the oracles, the parsed-SQL text features,
# the shared rule fragments, trim and fingerprint oracles), then (b) queries
# whose Spark build path changed with the same oracle (parsed-SQL Hijri
# conversion, one connected-components kernel, one LSH key kernel, the
# Avro header read, deleted option branches), then (c) three pinned-VALUES
# entries, whose pins can drift silently.  Every other entry has an r5 row
# on unchanged code, is pinned, or (HLL / approx-quantile) is rows-only.
_PRIORITY = [
    # (a) oracle text or fixture changed in round 6
    "url_canonical_dedup",
    "domain_quality_stats",
    "outlink_graph_pages",
    "domain_pagerank",
    "html_extract_pages",
    "card_scrub_docs",
    "line_dedup_docs",
    "script_profile_docs",
    "mojibake_docs",
    "robots_meta_pages",
    "pii_text_scrub_docs",
    "scrub_docs",
    "email_chain_customer",
    "mx_verify_customer",
    "phone_profile_customers",
    "dominant_type_votes",
    "fuzzy_standardize_names",
    "doc_textstats",
    "doc_quality_rules",
    "doc_rule_hit_counts",
    "quality_score_docs",
    "doc_signatures",
    "doc_token_counts",
    "exact_dedup_norm_docs",
    "fingerprint_dedup_pname",
    "keyer_profile_parts",
    "record_linkage_parts",
    "record_clusters_parts",
    "normalize_profile_parts",
    "word_pattern_freq_pname",
    "minhash_docs",
    "minhash_near_dups",
    "jaccard_adjacent_docs",
    "simhash_near_dups",
    "top_ngram_docs",
    "contamination_docs",
    # (b) Spark build path changed in round 6, same oracle
    "umalqura_convert_orders",
    "token_budget_by_lang",
    "dedup_clusters_global",
    "dedup_survivors_docs",
    "ann_lsh_top3",
    "embedding_near_dups",
    "avro_nested_quality",
    "email_check_customer",
    "phone_metadata_customers",
    "profile_customer_table",
    "quantiles_lquantity",
    # (c) pinned-VALUES oracles
    "quality_pipeline_docs",
    "mfb_clusters_parts",
    "ann_ivf_top3",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    ordered = {name: QUERIES[name] for name in _PRIORITY if name in QUERIES}
    for name, fn in QUERIES.items():
        if name not in ordered:
            ordered[name] = fn
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query (UDF-backed queries are rows-only)."""
    return dict(ORACLES)
