"""Keyers, normalization, email/phone validation — hand-computed goldens."""

import pyspark.sql.functions as F

from data_quality_spark.functions import emailphone as EP
from data_quality_spark.functions import keyers as K
from data_quality_spark.functions import normalize as N


def _one(spark, val, expr):
    df = spark.createDataFrame([(val,)], "v string")
    return df.select(expr(F.col("v")).alias("o")).collect()[0]["o"]


def test_fingerprint_key(spark):
    # trim, lower, strip punct, sort+dedupe tokens, fold diacritics
    assert _one(spark, "  Émile, Zola ZOLA!  ", K.fingerprint_key) == "emile zola"
    assert _one(spark, "Smith John", K.fingerprint_key) == _one(
        spark, "john SMITH", K.fingerprint_key
    )


def test_algobox_keys(spark):
    assert _one(spark, "hello world", lambda c: K.first_n_chars(c, 3)) == "hel"
    assert _one(spark, "hello", lambda c: K.last_n_chars(c, 2)) == "lo"


def test_normalize(spark):
    assert _one(spark, "aaabccd", N.collapse_duplicate_chars) == "abcd"
    assert _one(spark, "ﬁｌｅ ½", N.nfkc_normalize) == "file 1⁄2"
    assert _one(spark, "as soon as possible", lambda c: N.acronym(c)) == "ASAP"


def test_conversions(spark):
    # JD for 2000-01-01 is 2451545 (noon convention → date-at-midnight 2451545)
    assert _one(spark, "2000-01-01", N.julian_day) == 2451545


def test_email_verify_chain(spark):
    cases = {
        "john@example.com": "VALID",
        "bad email@example.com": "INVALID",
        "john@spam.net": "INVALID",        # blacklisted
        "john@other.org": "INVALID",       # TLD not whitelisted
        "_john@example.com": "INVALID",    # local part must start with a letter
        "John@example.com": "CORRECTED",   # uppercase → corrected
    }
    expr = lambda c: EP.email_verify(
        c,
        domain_blacklist=("spam.net",),
        tld_whitelist=("com", "edu"),
    )
    for email, want in cases.items():
        assert _one(spark, email, expr) == want, email


def test_email_parts(spark):
    assert _one(spark, "a.b@mail.example.org", EP.email_domain) == "mail.example.org"
    assert _one(spark, "a.b@mail.example.org", EP.email_local_part) == "a.b"
    assert _one(spark, "a.b@mail.example.org", EP.email_tld) == "org"


def test_phone(spark):
    assert _one(spark, "(555) 123-4567", lambda c: EP.is_valid_phone(c)) is True
    assert _one(spark, "+1 555 123 4567", lambda c: EP.is_valid_phone(c)) is True
    assert _one(spark, "123", lambda c: EP.is_valid_phone(c)) is False
    assert _one(spark, "12345", EP.is_possible_phone) is False
    assert _one(spark, "5551234567", EP.is_possible_phone) is True


def test_chronology_converters(spark):
    """Era boundaries: Heisei starts 1989-01-08 (before it: Showa 64)."""
    from pyspark.sql import functions as F

    from data_quality_spark.functions.normalize import (
        iso_to_japanese,
        iso_to_minguo,
        iso_to_thai_buddhist,
    )

    df = spark.createDataFrame(
        [("1989-01-07",), ("1989-01-08",), ("2019-05-01",), ("2020-02-29",)], "d string"
    )
    rows = df.select(
        "d",
        iso_to_japanese(F.col("d")).alias("jp"),
        iso_to_minguo(F.col("d")).alias("mg"),
        iso_to_thai_buddhist(F.col("d")).alias("th"),
    ).collect()
    got = {r["d"]: (r["jp"], r["mg"], r["th"]) for r in rows}
    assert got["1989-01-07"][0] == "Showa 64-01-07"
    assert got["1989-01-08"][0] == "Heisei 1-01-08"
    assert got["2019-05-01"][0] == "Reiwa 1-05-01"
    assert got["2020-02-29"] == ("Reiwa 2-02-29", "0109-02-29", "2563-02-29")


def test_phone_metadata(spark):
    """PhoneNumberHandlerBase metadata analogs (type / geocode / tz / cc)
    over the public NANPA/ITU tables (`PhoneNumberHandlerBase.java:216-380`)."""
    from pyspark.sql import functions as F

    from data_quality_spark.functions import phone_metadata as pm

    rows = [
        ("(212) 555-0199", "FIXED_LINE_OR_MOBILE", "New York, NY", "America/New_York", 1),
        ("(800) 555-1234", "TOLL_FREE", "United States/Canada", "America/New_York", 1),
        ("(900) 555-9999", "PREMIUM_RATE", "United States/Canada", "America/New_York", 1),
        ("(507) 555-4321", "FIXED_LINE_OR_MOBILE", "United States/Canada", "America/New_York", 1),
        ("+44 20 7946 0958", "UNKNOWN", "United Kingdom", "Europe/London", 44),
        ("+81 3 1234 5678", "UNKNOWN", "Japan", "Asia/Tokyo", 81),
        ("12345", None, None, None, None),
    ]
    df = spark.createDataFrame([(v,) for v, *_ in rows], "p string")
    got = df.select(
        "p",
        pm.phone_number_type(F.col("p")).alias("ty"),
        pm.phone_geocoder_description(F.col("p")).alias("geo"),
        pm.phone_timezones(F.col("p")).alias("tz"),
        pm.phone_country_code(F.col("p")).alias("cc"),
    ).collect()
    by_p = {r["p"]: r for r in got}
    for v, ty, geo, tz, cc in rows:
        r = by_p[v]
        assert (r["ty"], r["geo"], r["tz"], r["cc"]) == (ty, geo, tz, cc), v


def test_hijri_tabular_known_dates(spark):
    """Tabular (Kuwaiti-algorithm) Islamic dates: pinned against published
    civil-epoch conversions.  Documented as an approximation of the
    reference's Umm al-Qura chronology (±1-2 days)."""
    from pyspark.sql import functions as F

    from data_quality_spark.functions.normalize import iso_to_hijri_tabular

    cases = [
        ("1999-04-17", "1420-01-01 AH"),   # 1 Muharram 1420
        ("2000-01-01", "1420-09-24 AH"),
        ("1989-07-04", "1409-11-30 AH"),   # civil epoch (astronomical is +1 day)
        ("2023-07-19", "1445-01-01 AH"),   # 1 Muharram 1445 (civil)
    ]
    df = spark.createDataFrame(cases, "d string, want string")
    got = df.select("want", iso_to_hijri_tabular(F.col("d")).alias("h")).collect()
    for r in got:
        assert r["h"] == r["want"], (r["want"], r["h"])


def test_hijri_umalqura_java_time_vectors(spark):
    """REFERENCE-parity Hijrah: `iso_to_hijri_umalqura` pinned against
    java.time HijrahChronology outputs (generated with the local JDK —
    the same chronology `DateCalendarConverter.java:32-39` consults),
    including both table boundaries (1300-01-01 AH / 1500-12-30 AH era
    dates) and well-known announced dates (1 Ramadan 1444 = 2023-03-23,
    1 Muharram 1447 = 2025-06-26).  Out-of-table dates → null."""
    from pyspark.sql import functions as F

    from data_quality_spark.functions.normalize import iso_to_hijri_umalqura

    cases = {
        "1882-11-12": "1300-01-01 AH",  # chronology lower bound
        "1900-01-01": "1317-08-29 AH",
        "1945-08-15": "1364-09-07 AH",
        "1969-07-20": "1389-05-05 AH",
        "1992-01-01": "1412-06-25 AH",
        "1995-06-17": "1416-01-18 AH",
        "1998-08-02": "1419-04-09 AH",
        "2000-01-01": "1420-09-24 AH",
        "2023-03-23": "1444-09-01 AH",  # 1 Ramadan 1444 (announced)
        "2023-04-21": "1444-10-01 AH",  # Eid al-Fitr 1444
        "2024-03-11": "1445-09-01 AH",
        "2025-03-01": "1446-09-01 AH",
        "2025-06-26": "1447-01-01 AH",  # 1 Muharram 1447 (announced)
        "2077-11-16": "1500-12-30 AH",
        "1800-01-01": None,
        "2200-01-01": None,
    }
    df = spark.createDataFrame([(k, v) for k, v in cases.items()], "d string, want string")
    for r in df.select("want", iso_to_hijri_umalqura("d").alias("h")).collect():
        assert r["h"] == r["want"], (r["want"], r["h"])


def test_hijri_umalqura_dense_table_replay(spark):
    """Plumbing check across every month boundary: the Spark O(1)
    expression must equal a pure-Python bisect over the same table for
    the 1st/2nd/last day of every month in the table (10k+ dates)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from data_quality_spark.functions.normalize import iso_to_hijri_umalqura
    from data_quality_spark.functions.umalqura_table import MONTH_STARTS, START_HY

    rows = []
    epoch = dt.date(1970, 1, 1)
    for i, s in enumerate(MONTH_STARTS):
        nxt = MONTH_STARTS[i + 1] if i + 1 < len(MONTH_STARTS) else s + 29
        hy, hm = START_HY + i // 12, i % 12 + 1
        for d, hd in ((s, 1), (s + 1, 2), (nxt - 1, nxt - s)):
            rows.append(
                (
                    (epoch + dt.timedelta(days=d)).isoformat(),
                    f"{hy:04d}-{hm:02d}-{hd:02d} AH",
                )
            )
    df = spark.createDataFrame(rows, "d string, want string")
    bad = df.select(
        "d", "want", iso_to_hijri_umalqura("d").alias("h")
    ).filter("h IS DISTINCT FROM want")
    assert bad.count() == 0, bad.limit(5).collect()


def test_chronology_reference_vectors(spark):
    """Pin the reference's DateCalendarConverterTest vectors for ISO
    1996-10-29 (`converters/DateCalendarConverterTest.java:95-127`):
    Minguo 85, ThaiBuddhist 2539, Japanese Heisei 8 — plus where the
    tabular Islamic date lands relative to the reference's Umm al-Qura
    1417-06-16 (the documented approximation)."""
    from pyspark.sql import functions as F

    from data_quality_spark.functions.normalize import (
        iso_to_hijri_tabular,
        iso_to_japanese,
        iso_to_minguo,
        iso_to_thai_buddhist,
    )

    df = spark.createDataFrame([("1996-10-29",)], "d string")
    r = df.select(
        iso_to_minguo(F.col("d")).alias("m"),
        iso_to_thai_buddhist(F.col("d")).alias("t"),
        iso_to_japanese(F.col("d")).alias("j"),
        iso_to_hijri_tabular(F.col("d")).alias("h"),
    ).collect()[0]
    assert r["m"] == "0085-10-29"
    assert r["t"] == "2539-10-29"
    assert r["j"] == "Heisei 8-10-29"
    # reference (Umm al-Qura) says 1417-06-16; tabular must be within 2 days
    assert r["h"] in ("1417-06-14 AH", "1417-06-15 AH", "1417-06-16 AH",
                      "1417-06-17 AH", "1417-06-18 AH"), r["h"]
