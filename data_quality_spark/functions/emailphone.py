"""Email + phone validation (reference: dataquality-email, dataquality-phone).

Email — the reference runs a fluent chain of checkers, first-fail wins,
verdicts VALID/INVALID/CORRECTED/VERIFIED/REJECTED (`email/api/EmailVerify.
java:43-131`).  Ours is the same chain as a `when()` cascade: native, one
pass, short-circuit.  The SMTP/DNS callback checker
(`CallbackMailServerCheckerImpl.java`) lives in `mailserver.py` with the
network fully injected (resolver + transport): the protocol semantics are
deterministic and hash-verified over a fixture world; the LIVE probe path
ships disabled — a non-deterministic network side effect has no place in
a reproducible pipeline run.

Phone — the reference wraps libphonenumber (`phone/.../PhoneNumberHandlerBase.
java:54-423`).  We provide regex-based structural validation for NANP (+1)
numbers as native expressions; region metadata lives in `phone_metadata.py`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- email -----------------------------------------------------------------

EMAIL_PATTERN = r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$"
# local-part checker (`LocalPartRegexCheckerImpl`): a letter, then letters,
# digits, dots and underscores
LOCAL_PART_PATTERN = r"^[a-zA-Z][a-zA-Z0-9._]*$"

VALID = "VALID"
INVALID = "INVALID"
CORRECTED = "CORRECTED"


def email_local_part(c: Column) -> Column:
    return F.substring_index(c, "@", 1)


def email_domain(c: Column) -> Column:
    return F.substring_index(c, "@", -1)


def email_tld(c: Column) -> Column:
    return F.substring_index(email_domain(c), ".", -1)


def is_valid_email(c: Column) -> Column:
    return c.rlike(EMAIL_PATTERN)


def email_verify(
    c: Column,
    domain_blacklist: tuple[str, ...] | None = None,
    tld_whitelist: tuple[str, ...] | None = None,
) -> Column:
    """The checker chain as a when() cascade — first failing checker wins,
    mirroring `EmailVerify.checkEmail` ordering (syntax → domain → TLD →
    local part `LOCAL_PART_PATTERN`), ending with the case-correction step
    that returns CORRECTED for an address that is not lower case
    (`email/checkerImpl/LocalPartRegexCheckerImpl.java`)."""
    verdict = F.when(~is_valid_email(c), F.lit(INVALID))
    if domain_blacklist:
        verdict = verdict.when(
            F.lower(email_domain(c)).isin(*[d.lower() for d in domain_blacklist]),
            F.lit(INVALID),
        )
    if tld_whitelist:
        verdict = verdict.when(
            ~F.lower(email_tld(c)).isin(*[t.lower() for t in tld_whitelist]),
            F.lit(INVALID),
        )
    verdict = verdict.when(~email_local_part(c).rlike(LOCAL_PART_PATTERN), F.lit(INVALID))
    return verdict.when(c != F.lower(c), F.lit(CORRECTED)).otherwise(F.lit(VALID))

# --- phone -----------------------------------------------------------------

# Structural pattern (RE2-safe). NANP: +1 NXX NXX XXXX.
_NANP_PATTERN = r"^\+?1?[-. (]*([2-9][0-9]{2})[-. )]*([0-9]{3})[-. ]*([0-9]{4})$"


def phone_digits(c: Column) -> Column:
    return F.regexp_replace(c, r"[^0-9]", "")


def is_possible_phone(c: Column) -> Column:
    """isPossibleNumber analog: plausible digit count (7-15, ITU E.164)."""
    n = F.length(phone_digits(c))
    return (n >= 7) & (n <= 15)


def is_valid_phone(c: Column) -> Column:
    """isValidNumber analog for the US region: NANP structural validation."""
    return c.rlike(_NANP_PATTERN)
