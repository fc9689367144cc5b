"""Blocking-key scalar functions and fingerprint keyers.

Reference: `record/linkage/genkey/impl/windowkey/AlgoBox.java:75-394` (the
blocking-key function library; the first/last-N-chars and phonetic keys are
ported) and `FingerprintKeyer.java:43-59`.  Native column expressions where
Spark has the primitives — blocking keys run on every row of the corpus, so
they must stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Latin-1 diacritic folding (FingerprintKeyer.asciify analog) via translate —
# covers the Latin-1 supplement range the reference folds.
DIACRITICS_SRC = "àáâãäåçèéêëìíîïñòóôõöùúûüýÿÀÁÂÃÄÅÇÈÉÊËÌÍÎÏÑÒÓÔÕÖÙÚÛÜÝ"
DIACRITICS_DST = "aaaaaaceeeeiiiinooooouuuuyyAAAAAACEEEEIIIINOOOOOUUUUY"

# Java's `[\p{Punct}\p{Cntrl}]` (ASCII only without UNICODE_CHARACTER_CLASS)
# spelled as explicit ranges, so the same class means the same under RE2
PUNCT_CNTRL = r"[!-/:-@\[-`{-~\x00-\x1f\x7f]"


def remove_diacritics(c: Column) -> Column:
    """AlgoBox.removeDiacriticalMarks (Latin-1 coverage via translate)."""
    return F.translate(c, DIACRITICS_SRC, DIACRITICS_DST)


def fingerprint_key(c: Column) -> Column:
    """FingerprintKeyer: trim → lower → strip punct/control → fold
    diacritics → split → sort + dedupe tokens → join
    (`windowkey/FingerprintKeyer.java:43-59`; we fold BEFORE sorting —
    the reference folds last, which makes accented tokens sort after 'z'
    and produce different keys for 'Émile Zola' vs 'Emile Zola'.
    Folding first is the better blocking key; documented divergence)."""
    cleaned = remove_diacritics(
        F.regexp_replace(F.lower(F.trim(c)), PUNCT_CNTRL, "")
    )
    tokens = F.filter(F.split(cleaned, r"\s+"), lambda x: x != F.lit(""))
    return F.array_join(F.array_sort(F.array_distinct(tokens)), " ")


# --- AlgoBox scalar key functions ------------------------------------------


def first_n_chars(c: Column, n: int) -> Column:
    return F.substring(c, 1, n)


def last_n_chars(c: Column, n: int) -> Column:
    return F.substring(c, -n, n)


# --- Phonetic blocking keys (AlgoBox metaphone/doublemetaphone/cologne,
# `windowkey/AlgoBox.java:283-398`, plus the reference's SoundexFR) --------
#
# These run pure-Python encoders inside ONE Arrow-batched pandas UDF per key
# column — still vectorized transfer, and blocking keys are computed once per
# row then reused across the self-join, so the Python cost is O(corpus), not
# O(pairs).


def _phonetic_key(fn):
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def _k(s):
        return s.map(lambda v: None if v is None else fn(str(v)))

    return _k


def metaphone_key(c: Column) -> Column:
    """AlgoBox.metaphone (`windowkey/AlgoBox.java:291-296`)."""
    from .phonetics import metaphone

    return _phonetic_key(metaphone)(c)


def double_metaphone_key(c: Column) -> Column:
    """AlgoBox.doublemetaphone (`windowkey/AlgoBox.java:283-288`)."""
    from .phonetics import double_metaphone_primary

    return _phonetic_key(double_metaphone_primary)(c)


def cologne_phonetic_key(c: Column) -> Column:
    """AlgoBox.colognePhonetic (`windowkey/AlgoBox.java:394-398`)."""
    from .phonetics import cologne_phonetic

    return _phonetic_key(cologne_phonetic)(c)


def soundex_fr_key(c: Column) -> Column:
    """SoundexFR code (`contribs/algorithm/SoundexFR.java:73-211`)."""
    from .phonetics import soundex_fr

    return _phonetic_key(soundex_fr)(c)
