"""PII / toxicity scrub chain — byte-identical, deterministic.

Reference semantics: an ordered chain of ``Pattern.matcher(value)
.replaceAll(replaceStr)`` handlers (`ChainResponsibilityHandler`,
`dataquality-common/.../regex/ChainResponsibilityHandler.java:36-51`): each
rule rewrites the output of the previous one, order matters.

:func:`scrub_expr` is the pipeline's scrub: a native ``regexp_replace``
cascade (JVM, codegen'd, zero Python).  :func:`scrub_str` applies the same
ordered substitutions with Python `re`; it is the reference the tests and
the pure-Python oracle compare the cascade against, byte for byte, on the
fixture corpus, and the output is byte-identical across parallelism levels.

Patterns are deliberately restricted to a regex subset with identical
semantics in Java regex, Python `re`, and RE2 (no backrefs, no lookbehind,
explicit ASCII classes) so Spark, Python, and the DuckDB oracle agree
byte-for-byte.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .functions.emailphone import EMAIL_PATTERN

# Ordered scrub rules: (name, pattern, replacement).  ORDER MATTERS —
# e.g. emails must be scrubbed before bare domains, IPs before phone-ish
# digit runs.
SCRUB_RULES: tuple[tuple[str, str, str], ...] = (
    # URLs carrying credentials (user:pass@host) — BEFORE email: the
    # pass@host substring would otherwise be eaten by the email rule
    ("cred_url", r"[a-z]+://[^\s/@]+:[^\s/@]+@[^\s]+", "<CRED_URL>"),
    # email addresses: EmailValidator's pattern without its anchors
    ("email", EMAIL_PATTERN.strip("^$"), "<EMAIL>"),
    # IPv4
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    # ssn-shaped ids — BEFORE phone: the 3-2-4 digit shape also matches the
    # looser phone pattern
    ("idnum", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<IDNUM>"),
    # international / US phone numbers (7+ digits with separators)
    ("phone", r"\+?[0-9]{1,3}[-. (]{1,2}[0-9]{2,4}[-. )]{1,2}[0-9]{2,4}[-. ]{0,2}[0-9]{2,4}\b", "<PHONE>"),
    # toxicity lexicon (frozen word list; whole-word, case-insensitive)
    ("toxic", r"(?i)\b(damnword|hellword|toxicterm|slurword|badword)\b", "<TOX>"),
)


def scrub_expr(col: Column) -> Column:
    """Native ordered regexp_replace cascade (JVM hot path)."""
    out = col
    for _name, pat, rep in SCRUB_RULES:
        out = F.regexp_replace(out, pat, rep)
    return out


# Python-side compiled chain (module-level: compiled once per worker).
_COMPILED: tuple[tuple[re.Pattern, str], ...] = tuple(
    (re.compile(pat), rep) for _n, pat, rep in SCRUB_RULES
)


def scrub_str(s: str | None) -> str | None:
    """Scrub one string (the per-row contract; exposed for oracle/tests)."""
    if s is None:
        return None
    for cre, rep in _COMPILED:
        s = cre.sub(rep, s)
    return s

