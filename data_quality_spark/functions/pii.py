"""Checksum-validated PII detection: Luhn (ISO/IEC 7812) card numbers.

The base scrub chain (`scrub.py`) masks shape-matched patterns; card
numbers need more — a 16-digit run is only PII if its Luhn checksum
holds (that's how real scrubbers cut the false-positive rate on
invoice/order/serial numbers).  This module provides the checksum as a
pure Catalyst expression with an exact DuckDB twin, plus an in-text
scrubber that masks ONLY validated candidates.

Everything is per-row expression work (the higher-order functions here
iterate ≤19 digits / ≤ a handful of candidates per document — the
interpreted-HOF cost note in CLAUDE.md targets per-doc token arrays,
not these).  No shuffle, no Python.

Reference analog: none (the reference validates emails/phones/dates,
not payment cards) — training-pipeline PII extension alongside
`scrub.py`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Card-shaped candidate: 13-19 digits in groups separated by single
# spaces or dashes (or none).  Java/RE2/`re` common subset.
CARD_CANDIDATE_RX = r"\b(?:[0-9][- ]?){12,18}[0-9]\b"


def _luhn_sum(digits: Column, double_odd: bool) -> Column:
    """Luhn weighted digit sum of a digit-string column, iterating the
    REVERSED string; `double_odd` flips which (1-based) positions double
    (False for a full card incl. check digit, True for a bare base)."""
    rev = F.reverse(digits)
    parity = 1 if double_odd else 0
    return F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.length(rev)),
            lambda i: F.when(
                i % 2 == parity,
                F.when(
                    F.substring(rev, i, 1).cast("int") * 2 > 9,
                    F.substring(rev, i, 1).cast("int") * 2 - 9,
                ).otherwise(F.substring(rev, i, 1).cast("int") * 2),
            ).otherwise(F.substring(rev, i, 1).cast("int")),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def luhn_valid(digits: Column) -> Column:
    """True when the digit string (13-19 digits, separators already
    stripped) passes the Luhn checksum."""
    n = F.length(digits)
    return (n >= 13) & (n <= 19) & (_luhn_sum(digits, double_odd=False) % 10 == 0)


def luhn_check_digit(base: Column) -> Column:
    """The check digit that makes `base || digit` Luhn-valid (positions
    shift by one, so the base doubles its odd reversed positions)."""
    return (F.lit(10) - _luhn_sum(base, double_odd=True) % 10) % 10


def scrub_valid_cards(text: Column) -> Column:
    """Mask as `<CARD>` every Luhn-VALID card-shaped substring in `text`, leaving
    invalid look-alikes (order ids, serials) untouched.  Candidates are
    collected with `regexp_extract_all`, checksum-filtered, and folded
    into ordered literal replaces — all expression-side."""
    cands = F.array_distinct(F.regexp_extract_all(text, F.lit(CARD_CANDIDATE_RX), 0))
    valid = F.filter(
        cands, lambda c: luhn_valid(F.regexp_replace(c, r"[- ]", ""))
    )
    # Boundary-anchored replace: a bare substring replace would rewrite a
    # valid card appearing INSIDE a longer UNBROKEN digit run that was
    # never a candidate (e.g. a 20-digit serial whose first 16 digits
    # check out).  `\b` guards exactly that case; a digit-to-dash
    # transition still counts as a word boundary, so a valid card that is
    # a dash-adjacent prefix of a longer run ("4111111111111111-99") is
    # conservatively masked too — both engines agree, so parity holds.
    # Candidates contain only digits/dash/space, so the candidate text is
    # regex-literal and `\b<candidate>\b` is exact in Java/`re`/RE2.
    # Sorted fold: engine-identical order (DuckDB list_distinct order is
    # unspecified).
    return F.aggregate(
        F.array_sort(valid),
        text,
        lambda acc, c: F.regexp_replace(
            acc, F.concat(F.lit(r"\b"), c, F.lit(r"\b")), F.lit("<CARD>")
        ),
    )


# --- DuckDB twins (same constants / arithmetic) -----------------------------


def luhn_sum_sql(digits: str, double_odd: bool) -> str:
    parity = 1 if double_odd else 0
    return (
        f"list_sum(list_transform(generate_series(1, length(reverse({digits}))), i -> "
        f"CASE WHEN i % 2 = {parity} THEN "
        f"CASE WHEN CAST(substr(reverse({digits}), i, 1) AS INTEGER) * 2 > 9 "
        f"THEN CAST(substr(reverse({digits}), i, 1) AS INTEGER) * 2 - 9 "
        f"ELSE CAST(substr(reverse({digits}), i, 1) AS INTEGER) * 2 END "
        f"ELSE CAST(substr(reverse({digits}), i, 1) AS INTEGER) END))"
    )


def luhn_valid_sql(digits: str) -> str:
    return (
        f"(length({digits}) BETWEEN 13 AND 19 "
        f"AND {luhn_sum_sql(digits, False)} % 10 = 0)"
    )


def luhn_check_digit_sql(base: str) -> str:
    return f"((10 - {luhn_sum_sql(base, True)} % 10) % 10)"


def scrub_valid_cards_sql(text: str) -> str:
    stripped = "regexp_replace(c, '[- ]', '', 'g')"
    return (
        f"list_reduce(list_prepend({text}, list_sort(list_filter("
        f"list_distinct(regexp_extract_all({text}, '{CARD_CANDIDATE_RX}', 0)), "
        f"c -> {luhn_valid_sql(stripped)}))), "
        f"(acc, x) -> regexp_replace(acc, '\\b' || x || '\\b', '<CARD>', 'g'))"
    )


# ---------------------------------------------------------------------------
# Email / IPv4 text scrub (round 5 — pattern-based PII pass)
# ---------------------------------------------------------------------------

# Pattern-based (no checksum validation exists for these shapes, unlike
# cards): word-boundary-anchored, Java∩RE2 common subset.  The email
# BODY is the single shared constant from functions/emailphone.py
# (EmailValidator semantics) so the repo keeps ONE definition of "what
# is an email"; scrub.py's SCRUB_RULES email row uses the same body.
# The permissive local part is the training-data convention (scrub
# MORE, not less, when the shape is inherently unvalidatable).
from .emailphone import EMAIL_PATTERN as _EMAIL_ANCHORED  # noqa: E402

EMAIL_RX = r"\b" + _EMAIL_ANCHORED.strip("^$") + r"\b"
# Octet-validated IPv4 — deliberately STRICTER than scrub.py's shape
# rule (which masks 999.1.1.1): this pass is the counted/reported one,
# so false positives cost more than in the bulk scrub chain.
# The boundary anchors keep version strings like
# 1.2.3.4.5 from being half-masked: [0-9] is a word char, so \b fails
# inside a longer dotted run only at the dot — a 5-part run still
# matches its first four octets.  Both engines behave identically; the
# residual over-masking on dotted version strings is the same
# conservative bias as the card scrub's dash-adjacency note.
_OCTET = r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
IPV4_RX = rf"\b{_OCTET}\.{_OCTET}\.{_OCTET}\.{_OCTET}\b"


def scrub_emails(text: Column) -> Column:
    return F.regexp_replace(text, EMAIL_RX, "<EMAIL>")


def scrub_ipv4(text: Column) -> Column:
    return F.regexp_replace(text, IPV4_RX, "<IP>")


def count_emails(text: Column) -> Column:
    return F.regexp_count(text, F.lit(EMAIL_RX)).cast("bigint")


def count_ipv4(text: Column) -> Column:
    return F.regexp_count(text, F.lit(IPV4_RX)).cast("bigint")


def scrub_emails_sql(text: str) -> str:
    return f"regexp_replace({text}, '{EMAIL_RX}', '<EMAIL>', 'g')"


def scrub_ipv4_sql(text: str) -> str:
    return f"regexp_replace({text}, '{IPV4_RX}', '<IP>', 'g')"


def count_emails_sql(text: str) -> str:
    return f"CAST(len(regexp_extract_all({text}, '{EMAIL_RX}')) AS BIGINT)"


def count_ipv4_sql(text: str) -> str:
    return f"CAST(len(regexp_extract_all({text}, '{IPV4_RX}')) AS BIGINT)"
