"""URL canonicalization and URL-level dedup for web-crawl corpora.

A Common-Crawl-style pipeline sees the same page under many raw URLs
(scheme/case/`www.` variants, default ports, tracking params, param
order, trailing slashes, fragments).  Canonicalizing the URL and
deduplicating on the canonical key is the first, cheapest dedup stage —
it removes recrawl copies before any content hashing runs.

Everything here is a pure Catalyst expression (codegen'd, no Python in
the hot path) with an exact DuckDB twin in `queries.py`, following the
engine's parity conventions.  The reference framework has no URL
operator (its dedup starts at record matching,
`record-linkage/.../matchmerge/MatchMergeAlgorithm.java:1`); this is one
of the training-data-pipeline extensions the engine adds on top.

Scale notes (10^12 pages):
- `canonical_url` / `registered_domain` are per-row expressions — they
  ride the scan, no shuffle.
- `url_duplicate_groups` shuffles `(canonical_key, id)` pairs only
  (partial-agg combine applies); page payloads never move.
- the canonical key is also the right PRE-shuffle key for keep-first
  exact dedup, and the `registered_domain` output is the grouping key
  `skew.salted_groupby_count` salts (a handful of giant hosts dominate
  real crawls).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# RFC-3986-shaped splitter (Java/RE2 common subset): scheme://authority
# path ?query #fragment.  Group numbers: 1=scheme, 2=authority, 3=path,
# 4=query (without '?').
URL_RX = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$"

# Tracking params dropped during canonicalization (name= prefix match).
TRACKING_PARAM_RX = r"^(utm_[a-z0-9]+|gclid|fbclid|msclkid|ref|mc_cid|mc_eid)="

# Multi-label public suffixes for the registered-domain heuristic: the
# generated ICANN-family snapshot (scripts/gen_public_suffix.py — 1609
# two-label + 169 three-label rules; regenerate from a canonical
# public_suffix_list.dat where one is available).  Same generated-table
# device as the NANPA table in functions/phone_metadata.py.
#
# Lookup device: one comma-delimited literal string per rule set,
# probed with `contains(big, ',' || candidate || ',')`.  A 1609-literal
# array/IN-list would trip the 64 KB-codegen and JVM-deserialization
# traps documented in CLAUDE.md; a single ~16 KB string literal with a
# substring probe stays codegen'd, and hostname labels cannot contain
# commas so the sentinel is exact.  The TLD pre-gate (~1 KB string)
# short-circuits the big probes for hosts under single-level TLDs
# (.com/.net/... — the overwhelming majority of a crawl).
from ..functions.public_suffix import (  # noqa: E402
    MULTI_SUFFIXES,
    MULTI_SUFFIXES_3,
    MULTI_TLDS,
)

_S2_SENTINEL = "," + ",".join(MULTI_SUFFIXES) + ","
_S3_SENTINEL = "," + ",".join(MULTI_SUFFIXES_3) + ","
_TLD_SENTINEL = "," + ",".join(MULTI_TLDS) + ","


def canonical_url(url: Column) -> Column:
    """Canonical form of a raw URL (pure expression, null-safe).

    Spec (applied in order; each step is reproduced verbatim by the
    DuckDB oracle in `queries.py`):

    1. parse with `URL_RX`; a non-matching value canonicalizes to NULL;
    2. lowercase the scheme and the authority (path/query case is
       significant and preserved);
    3. strip the scheme's default port (`:80` for http, `:443` for
       https) from the authority;
    4. strip one leading `www.` from the host;
    5. normalize the path: strip trailing slashes; an empty path
       becomes `/`;
    6. drop tracking query params (`TRACKING_PARAM_RX`), sort the
       survivors bytewise, rejoin with `&`; an empty survivor set drops
       the `?` entirely;
    7. drop the fragment.
    """
    scheme = F.lower(F.regexp_extract(url, URL_RX, 1))
    auth = F.lower(F.regexp_extract(url, URL_RX, 2))
    path = F.regexp_extract(url, URL_RX, 3)
    query = F.regexp_extract(url, URL_RX, 4)

    auth = (
        F.when(scheme == "http", F.regexp_replace(auth, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(auth, ":443$", ""))
        .otherwise(auth)
    )
    host = F.regexp_replace(auth, r"^www\.", "")

    path_c = F.regexp_replace(path, "/+$", "")
    path_c = F.when(path_c == "", F.lit("/")).otherwise(path_c)

    # tiny per-URL arrays: the interpreted-HOF cost is negligible here
    # (CLAUDE.md hot-path rule targets per-doc text arrays, not ≤10 params)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda x: (x != "") & ~x.rlike(TRACKING_PARAM_RX),
        )
    )
    query_c = F.array_join(params, "&")

    out = F.concat(
        scheme,
        F.lit("://"),
        host,
        path_c,
        F.when(query_c == "", F.lit("")).otherwise(F.concat(F.lit("?"), query_c)),
    )
    return F.when(scheme == "", F.lit(None).cast("string")).otherwise(out)


# Trailing k dot-separated labels of a host ('' when the host has fewer
# than k labels — regexp_extract's no-match value in Spark AND DuckDB,
# so the '' guards below need no engine-specific null handling).
_LASTK_RX = {k: "(" + r"\.".join([r"[^.]+"] * k) + ")$" for k in (1, 2, 3, 4)}


def registered_domain(host: Column) -> Column:
    """Registered (pay-level) domain of a hostname: last two labels, or
    last three / last four when the trailing labels form a 2-/3-label
    public suffix from the generated `functions/public_suffix` tables.
    Any `:port` suffix is stripped first.  This is the domain-level
    grouping/salting key for crawl skew handling.

    Pure codegen'd expression (4 anchored regexp_extracts + sentinel-
    string membership probes); `registered_domain_sql` below is the
    byte-identical DuckDB twin — they share `_LASTK_RX` and the sentinel
    strings so the two engines cannot drift.

    CALL-SITE RULE: pass a plain column (or project the host into one
    first).  The expression references its input ~10× and codegen
    duplicates the input subtree per reference — handing it the full
    `host_of(url)` tree overflowed the 64 KB method limit and dropped
    the whole stage to interpreted eval (measured 1.5-2.3× slower,
    round 5).  Over a bound column reference the tree stays small and
    the stage stays codegen'd."""
    h = F.regexp_replace(host, ":[0-9]+$", "")
    last1 = F.regexp_extract(h, _LASTK_RX[1], 1)
    last2 = F.regexp_extract(h, _LASTK_RX[2], 1)
    last3 = F.regexp_extract(h, _LASTK_RX[3], 1)
    last4 = F.regexp_extract(h, _LASTK_RX[4], 1)
    probe = lambda big, cand: F.contains(  # noqa: E731
        F.lit(big), F.concat(F.lit(","), cand, F.lit(","))
    )
    gate = probe(_TLD_SENTINEL, last1)
    return (
        F.when((last4 != "") & gate & probe(_S3_SENTINEL, last3), last4)
        .when((last3 != "") & gate & probe(_S2_SENTINEL, last2), last3)
        .when(last2 != "", last2)
        .otherwise(h)
    )


def registered_domain_sql(host: str) -> str:
    """DuckDB twin of `registered_domain` over a host SQL expression —
    generated from the SAME `_LASTK_RX` regexes and sentinel strings the
    Spark expression uses (single source of truth for both engines)."""
    h = f"regexp_replace({host}, ':[0-9]+$', '')"
    last = {k: f"regexp_extract({h}, '{_LASTK_RX[k]}', 1)" for k in (1, 2, 3, 4)}
    probe = lambda big, cand: (  # noqa: E731
        f"contains('{big}', ',' || {cand} || ',')"
    )
    gate = probe(_TLD_SENTINEL, last[1])
    return (
        f"CASE WHEN {last[4]} <> '' AND {gate} AND {probe(_S3_SENTINEL, last[3])} "
        f"THEN {last[4]} "
        f"WHEN {last[3]} <> '' AND {gate} AND {probe(_S2_SENTINEL, last[2])} "
        f"THEN {last[3]} "
        f"WHEN {last[2]} <> '' THEN {last[2]} ELSE {h} END"
    )


def host_of(url: Column) -> Column:
    """Canonical host (lowercased, default port and `www.` stripped) of a
    raw URL — the `registered_domain` input."""
    scheme = F.lower(F.regexp_extract(url, URL_RX, 1))
    auth = F.lower(F.regexp_extract(url, URL_RX, 2))
    auth = (
        F.when(scheme == "http", F.regexp_replace(auth, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(auth, ":443$", ""))
        .otherwise(auth)
    )
    return F.regexp_replace(auth, r"^www\.", "")


def domain_quality_profile(df: DataFrame) -> DataFrame:
    """Per-registered-domain quality rollup of (url, keep, quality) pages:
    page count, kept count,
    keep rate, and the quality-score min/max.  The operational view a
    crawl pipeline uses to blocklist or downsample spammy domains.

    Scale notes (10^12 pages):
    - the only shuffle carries `(domain, keep, score)` triples — never
      page payloads;
    - every aggregate is algebraic (count/sum/min/max), so map-side
      partial aggregation caps what any one reducer sees even on the
      giant-domain skew a real crawl has — no salting needed here
      (contrast `skew.py` for the non-algebraic paths);
    - mean quality is deliberately NOT emitted: a float sum is
      order-dependent across partitionings, while min/max and the
      integer-ratio keep_rate are bit-stable (parity conventions at the
      top of `queries.py`).
    """
    # two-step select: bind the host to a column first (call-site rule
    # on registered_domain — keeps the hashAgg stage under the codegen
    # method limit); Catalyst fuses both projections into the same
    # WholeStageCodegen span, so this costs nothing at runtime
    agg = (
        df.select(
            host_of(F.col("url")).alias("_host"),
            F.col("keep").alias("_k"),
            F.col("quality").alias("_s"),
        )
        .select(
            registered_domain(F.col("_host")).alias("domain"), "_k", "_s"
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("_k").cast("bigint")).cast("bigint").alias("n_keep"),
            F.min("_s").alias("min_quality"),
            F.max("_s").alias("max_quality"),
        )
    )
    return agg.withColumn("keep_rate", F.col("n_keep") / F.col("n_docs"))


# href attribute of anchor tags (group 1 is the target URL).  The
# whitespace class is spelled explicitly because `\s` is NOT in the
# Java/RE2 common subset (Java includes \x0B, RE2 does not — the same
# dialect trap as \v in operators/htmltext.py).
HREF_RX = r"<a[ \t\n\r\f]+[^>]*href=\"([^\"]*)\""


def outlink_domain_edges(
    df: DataFrame, html_col: str, src_url_col: str
) -> DataFrame:
    """Registered-domain link graph from raw markup: extract every
    `<a href>` target, canonicalize source and target hosts, and emit
    `(src_domain, dst_domain, n_links)` edges — the corpus-level link
    graph that feeds domain-authority / spam-farm signals.

    Scale shape (10^12 pages): href extraction and both domain
    derivations are per-row expressions riding the scan; the explode
    multiplies rows by links-per-page but carries only
    `(src_domain, href)` string pairs — never page payloads — and the
    edge aggregation partial-combines map-side, so the shuffle is the
    DISTINCT edge set, not the raw link instances."""
    links = df.select(
        host_of(F.col(src_url_col)).alias("_src_host"),
        F.explode(F.regexp_extract_all(F.col(html_col), F.lit(HREF_RX), 1)).alias("_href"),
    ).select(
        # bind hosts to columns before registered_domain (call-site rule)
        registered_domain(F.col("_src_host")).alias("src_domain"),
        host_of(F.col("_href")).alias("_dst_host"),
    )
    dst_dom = registered_domain(F.col("_dst_host")).alias("dst_domain")
    return (
        links.select("src_domain", dst_dom)
        .groupBy("src_domain", "dst_domain")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_links"))
    )


def url_duplicate_groups(df: DataFrame) -> DataFrame:
    """Group (doc_id, url) pages by canonical URL: one row per canonical key with the
    group size, the number of distinct raw spellings, and the kept
    (minimum-id, i.e. earliest-capture) page id.

    Shuffle carries `(canonical_url, id, raw_url)` triples only —
    payloads stay put; counts partial-aggregate map-side.  Keep-first
    uses `min(id)` (deterministic, no ordering shuffle)."""
    c = canonical_url(F.col("url")).alias("canonical_url")
    return (
        df.select(c, F.col("doc_id").alias("_id"), F.col("url").alias("_raw"))
        .where(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_urls"),
            F.countDistinct("_raw").cast("bigint").alias("n_raw_forms"),
            F.min("_id").cast("bigint").alias("kept_id"),
        )
    )
