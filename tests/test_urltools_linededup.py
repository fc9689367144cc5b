"""Unit vectors for URL canonicalization/dedup and corpus line dedup
(the two webtext extensions added in round 4; no reference analog —
the reference's dedup starts at record matching)."""

from pyspark.sql import functions as F

from data_quality_spark.operators.dedup import corpus_line_dedup
from data_quality_spark.operators.urltools import (
    canonical_url,
    registered_domain,
    url_duplicate_groups,
)

# (raw, expected canonical) — one vector per spec rule
URL_VECTORS = [
    # scheme+host lowering, fragment drop
    ("HTTP://EXAMPLE.COM/Path#frag", "http://example.com/Path"),
    # default port strip (http)
    ("http://example.com:80/a", "http://example.com/a"),
    # default port strip (https)
    ("https://example.com:443/a", "https://example.com/a"),
    # non-default port kept
    ("http://example.com:8080/a", "http://example.com:8080/a"),
    # www strip (once, leading only)
    ("https://www.example.com/a", "https://example.com/a"),
    ("https://www.www.example.com/a", "https://www.example.com/a"),
    # empty path -> /
    ("http://example.com", "http://example.com/"),
    # trailing slashes stripped
    ("http://example.com/a///", "http://example.com/a"),
    # root path survives
    ("http://example.com/", "http://example.com/"),
    # path case preserved
    ("http://example.com/CaseSensitive", "http://example.com/CaseSensitive"),
    # tracking params dropped, rest sorted
    (
        "http://example.com/a?utm_source=x&b=2&a=1&fbclid=zz",
        "http://example.com/a?a=1&b=2",
    ),
    # all params tracking -> no '?'
    ("http://example.com/a?utm_campaign=x&gclid=1", "http://example.com/a"),
    # param order normalized
    ("http://example.com/a?b=2&a=1", "http://example.com/a?a=1&b=2"),
    # not a URL -> null
    ("not a url", None),
]


def test_canonical_url_vectors(spark):
    df = spark.createDataFrame([(u,) for u, _ in URL_VECTORS], ["url"])
    got = [
        r["c"]
        for r in df.select(canonical_url(F.col("url")).alias("c")).collect()
    ]
    assert got == [exp for _, exp in URL_VECTORS]


DOMAIN_VECTORS = [
    ("example.com", "example.com"),
    ("a.b.example.com", "example.com"),
    ("example.co.uk", "example.co.uk"),
    ("sub.example.co.uk", "example.co.uk"),
    ("example.com.au", "example.com.au"),
    ("localhost", "localhost"),
    ("example.com:8080", "example.com"),
    # breadth from the generated PSL snapshot (round 5)
    ("shop.example.co.il", "example.co.il"),
    ("example.com.co", "example.com.co"),
    ("a.example.org.nz", "example.org.nz"),
    ("www.pref.osaka.jp", "pref.osaka.jp"),
    # 3-label public suffixes → registered domain is the last FOUR labels
    ("myschool.k12.ca.us", "myschool.k12.ca.us"),
    ("www.myschool.k12.ca.us", "myschool.k12.ca.us"),
    ("college.vic.edu.au", "college.vic.edu.au"),
    ("x.county.lib.tx.us", "county.lib.tx.us"),
    # single-level TLD hosts never touch the big probes (TLD pre-gate)
    ("deep.sub.example.net", "example.net"),
]


def test_registered_domain_vectors(spark):
    df = spark.createDataFrame([(h,) for h, _ in DOMAIN_VECTORS], ["h"])
    got = [
        r["d"]
        for r in df.select(registered_domain(F.col("h")).alias("d")).collect()
    ]
    assert got == [exp for _, exp in DOMAIN_VECTORS]


def test_url_duplicate_groups_keep_first(spark):
    rows = [
        (1, "http://www.example.com/a?utm_source=x"),
        (2, "HTTP://example.com:80/a"),
        (3, "http://example.com/a/"),
        (4, "http://example.com/b"),
        (5, "bogus"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    out = {
        r["canonical_url"]: r
        for r in url_duplicate_groups(df).collect()
    }
    a = out["http://example.com/a"]
    assert (a["n_urls"], a["n_raw_forms"], a["kept_id"]) == (3, 3, 1)
    b = out["http://example.com/b"]
    assert (b["n_urls"], b["kept_id"]) == (1, 4)
    assert len(out) == 2  # the bogus URL canonicalizes to null and drops


def test_corpus_line_dedup_semantics(spark):
    boiler = "SHARED HEADER"
    rows = [(i, f"{boiler}\nunique body {i}\n\n  {boiler}  ") for i in range(5)]
    rows.append((99, "all original\nlines here"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in corpus_line_dedup(df).collect()
    }
    assert len(out) == 6
    # boilerplate occurs 10x (>=5): both copies drop, incl. the padded one
    # (trim-keyed); the blank separator line survives
    r0 = out[0]
    assert r0["n_lines"] == 4 and r0["n_kept"] == 2
    assert r0["cleaned_text"] == "unique body 0\n"
    # doc with no boilerplate is untouched
    r99 = out[99]
    assert r99["n_kept"] == 2 and r99["cleaned_text"] == "all original\nlines here"


def test_corpus_line_dedup_all_dropped(spark):
    rows = [(i, "same line") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = corpus_line_dedup(df).collect()
    assert all(r["n_kept"] == 0 and r["cleaned_text"] == "" for r in out)
    assert all(r["n_lines"] == 1 for r in out)
