"""Per-value data-type classification (the reference's DataTypeEnum lattice).

Reference: values arrive as strings; "type" is a per-value regex
classification into BOOLEAN / INTEGER / DOUBLE / STRING / DATE / TIME /
EMPTY (`dataquality-statistics/.../type/DataTypeEnum.java:24-32`,
`TypeInferenceUtils.java:28-45,119-128,157-159`).  Full-width digits/signs
are accepted for numbers; boolean is literal true/false ignore-case; empty is
null-or-blank.

All classifiers below are RE2-compatible regexes (no backrefs) so the exact
same patterns run in Spark (Java regex) and in the DuckDB oracle (RE2).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Reference-semantics patterns (re-expressed, see TypeInferenceUtils.java:28-45).
INTEGER_PATTERN = r"^[-+－＋]?[0-9０-９]+$"
# Decimal with optional US (1,234.5) or EU (1.234,5) grouping, scientific
# notation, optional trailing percent; plain integers also parse as doubles
# ("any integer is a double", DataTypeOccurences.java:41-82).
DOUBLE_PATTERN = (
    r"^[-+－＋]?("
    r"([0-9０-９]+|[0-9]{1,3}(,[0-9]{3})+|[0-9]{1,3}(\.[0-9]{3})+|[0-9]{1,3}( [0-9]{3})+)"
    r"([.,][0-9０-９]+)?"
    r")([eE][-+]?[0-9]+)?%?$"
)
BOOLEAN_PATTERN = r"^(?i)(true|false)$"
# Cheap date prefilter, reference device at SystemDateTimePatternManager.java:94-95.
DATE_PREFILTER_PATTERN = r"([ \-][0-9]|[0-9][./+W年][0-9]|^[0-9]{8}$)"

# Date patterns tried in frequency order (`SortedList` analog — the coalesce
# is short-circuit, so order = expected frequency).
DATE_FORMATS: tuple[str, ...] = (
    "yyyy-MM-dd",
    "M/d/yyyy",
    "d/M/yyyy",
    "yyyy/M/d",
    "yyyyMMdd",
    "d-MMM-yyyy",
    "MMM d, yyyy",
    "d.M.yyyy",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
)


# ---------------------------------------------------------------------------
# Date/time pattern recognition table (format → validating regex).
#
# The reference recognizes patterns by REGEX MATCH against resource files
# (`statistics/datetime/SystemDateTimePatternManager.java:57-107`,
# resources DateRegexesGrouped.txt / TimeRegexes.txt), not by parsing.
# This table re-expresses the high-frequency locale-free subset with the
# same day(1-31)/month(1-12) validation discipline; every regex is in the
# Java∩RE2 common subset so the identical pattern runs in the DuckDB
# oracle.  Order matters: first match wins (ambiguous values like
# 04/03/95 deterministically take the earlier pattern, exactly like the
# reference's in-group ordering).
# ---------------------------------------------------------------------------

_D = r"(?:[1-9]|[1-2][0-9]|3[0-1])"          # day 1-31, no pad
_DD = r"(?:0[1-9]|[1-2][0-9]|3[0-1])"        # day 01-31, padded
_M = r"(?:[1-9]|1[0-2])"                     # month 1-12, no pad
_MM = r"(?:0[1-9]|1[0-2])"                   # month 01-12, padded
_Y4 = r"[0-9]{4}"
_Y2 = r"[0-9]{2}"
_MON = r"(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)"
_MONTH = (
    r"(?:January|February|March|April|May|June|July|August|September|"
    r"October|November|December)"
)
# Locale month-name families (the reference groups these per-locale in
# DateRegexesGrouped.txt, `SystemDateTimePatternManager.java:57-107`).
# Exact-case month literals, like the reference's resource rows; the
# accented letters are plain literals in both Java regex and RE2.
MONTHS_FR: tuple[str, ...] = (
    "janvier", "février", "mars", "avril", "mai", "juin", "juillet",
    "août", "septembre", "octobre", "novembre", "décembre",
)
MONTHS_DE: tuple[str, ...] = (
    "Januar", "Februar", "März", "April", "Mai", "Juni", "Juli",
    "August", "September", "Oktober", "November", "Dezember",
)
MONTHS_ES: tuple[str, ...] = (
    "enero", "febrero", "marzo", "abril", "mayo", "junio", "julio",
    "agosto", "septiembre", "octubre", "noviembre", "diciembre",
)
MONTHS_IT: tuple[str, ...] = (
    "gennaio", "febbraio", "marzo", "aprile", "maggio", "giugno", "luglio",
    "agosto", "settembre", "ottobre", "novembre", "dicembre",
)
MONTHS_PT: tuple[str, ...] = (
    "janeiro", "fevereiro", "março", "abril", "maio", "junho", "julho",
    "agosto", "setembro", "outubro", "novembro", "dezembro",
)
MONTHS_NL: tuple[str, ...] = (
    "januari", "februari", "maart", "april", "mei", "juni", "juli",
    "augustus", "september", "oktober", "november", "december",
)
_MON_FR = "(?:" + "|".join(MONTHS_FR) + ")"
_MON_DE = "(?:" + "|".join(MONTHS_DE) + ")"
_MON_ES = "(?:" + "|".join(MONTHS_ES) + ")"
_MON_IT = "(?:" + "|".join(MONTHS_IT) + ")"
_MON_PT = "(?:" + "|".join(MONTHS_PT) + ")"
_MON_NL = "(?:" + "|".join(MONTHS_NL) + ")"
_HMS = r"(?:[0-1][0-9]|2[0-3]):[0-5][0-9]:[0-5][0-9]"
_HM = r"(?:[0-1][0-9]|2[0-3]):[0-5][0-9]"
_H1MS = r"(?:[0-9]|1[0-9]|2[0-3]):[0-5][0-9]:[0-5][0-9]"   # H:mm:ss
_H1M = r"(?:[0-9]|1[0-9]|2[0-3]):[0-5][0-9]"               # H:mm
_H12M = r"(?:[1-9]|1[0-2]):[0-5][0-9]"                     # h:mm (12h)
# English day names (EEEE / EEE / EEE-with-comma forms; explicit literals
# rather than \p{L} classes so the exact same bytes run in RE2)
_DAY = r"(?:Monday|Tuesday|Wednesday|Thursday|Friday|Saturday|Sunday)"
_DAY3 = r"(?:Mon|Tue|Wed|Thu|Fri|Sat|Sun)"
_MS3 = r"[0-9]{3}"                                          # SSS millis
_TZ = r"[A-Z]{2,5}"                                         # z zone name
_OFF = r"[+-](?:0[0-9]|1[0-9]|2[0-3])[0-5][0-9]"            # Z  (+0500)
_OFFC = r"[+-](?:0[0-9]|1[0-9]|2[0-3]):[0-5][0-9]"          # XXX (+05:00)

DATE_REGEXES: tuple[tuple[str, str], ...] = (
    # ISO + datetime first (highest expected frequency in web data).
    # In-family order is load-bearing: earlier entries win ambiguous
    # values, and the round-4 entries stay ahead of the round-5 breadth
    # additions so existing classifications are unchanged.
    ("yyyy-MM-dd", rf"^{_Y4}-{_MM}-{_DD}$"),
    ("yyyy-MM-dd HH:mm:ss", rf"^{_Y4}-{_MM}-{_DD} {_HMS}$"),
    ("yyyy-MM-dd'T'HH:mm:ss", rf"^{_Y4}-{_MM}-{_DD}T{_HMS}$"),
    ("yyyy-MM-dd'T'HH:mm:ss'Z'", rf"^{_Y4}-{_MM}-{_DD}T{_HMS}Z$"),
    ("yyyy-MM-dd HH:mm:ss.S", rf"^{_Y4}-{_MM}-{_DD} {_HMS}\.[0-9]{{1,3}}$"),
    # ISO/dash breadth (reference Groups 7/18/34/35/36)
    ("yyyy-M-d", rf"^{_Y4}-{_M}-{_D}$"),
    ("yyyy-MM-dd HH:mm", rf"^{_Y4}-{_MM}-{_DD} {_HM}$"),
    ("yyyy-MM-dd H:mm:ss", rf"^{_Y4}-{_MM}-{_DD} {_H1MS}$"),
    ("yyyy-MM-dd h:mm a", rf"^{_Y4}-{_MM}-{_DD} {_H12M} (?:AM|PM)$"),
    ("yyyy-MM-dd HH:mm:ss,SSS", rf"^{_Y4}-{_MM}-{_DD} {_HMS},{_MS3}$"),
    ("yyyy-MM-dd HH:mm:ssXXX", rf"^{_Y4}-{_MM}-{_DD} {_HMS}{_OFFC}$"),
    ("yyyy-MM-ddXXX", rf"^{_Y4}-{_MM}-{_DD}{_OFFC}$"),
    ("yyyy-MM-dd'T'HH:mm:ss.SSS", rf"^{_Y4}-{_MM}-{_DD}T{_HMS}\.{_MS3}$"),
    ("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'", rf"^{_Y4}-{_MM}-{_DD}T{_HMS}\.{_MS3}Z$"),
    ("yyyy-MM-dd'T'HH:mm:ssXXX", rf"^{_Y4}-{_MM}-{_DD}T{_HMS}{_OFFC}$"),
    ("yyyy-DDDXXX", rf"^{_Y4}-[0-9]{{1,3}}{_OFFC}$"),
    ("YYYY-'W'w-c", rf"^{_Y4}-W(?:[1-4]?[0-9]|5[0-2])-[1-7]$"),
    # ISO/dash time breadth, second batch (Groups 18/29/34)
    ("yyyy-MM-dd h:mm:ss a", rf"^{_Y4}-{_MM}-{_DD} {_H12M}:[0-5][0-9] (?:AM|PM)$"),
    ("yyyy-M-d HH:mm:ss", rf"^{_Y4}-{_M}-{_D} {_HMS}$"),
    ("yyyy-M-d H:mm", rf"^{_Y4}-{_M}-{_D} {_H1M}$"),
    ("yyyy-MM-dd HH.mm.ss", rf"^{_Y4}-{_MM}-{_DD} (?:[0-1][0-9]|2[0-3])\.[0-5][0-9]\.[0-5][0-9]$"),
    ("yyyy-MM-dd'T'HH:mm:ss,SSS", rf"^{_Y4}-{_MM}-{_DD}T{_HMS},{_MS3}$"),
    ("yyyy-MM-dd'T'HH:mm:ssZ", rf"^{_Y4}-{_MM}-{_DD}T{_HMS}{_OFF}$"),
    ("yyyy-MM-dd HH:mm:ssZ", rf"^{_Y4}-{_MM}-{_DD} {_HMS}{_OFF}$"),
    ("yyyy-MM-dd G", rf"^{_Y4}-{_MM}-{_DD} (?:AD|BC)$"),
    # millis-with-zone / zone-id / compact-offset space and T families
    # (reference Groups 18/34); VV zone-ids use concrete ASCII classes
    # (the reference's \p{L} is not in the Java∩RE2∩`re` subset and
    # misses the '_' in real ids like America/New_York)
    ("yyyy-MM-dd HH:mm:ss.SSS'Z'", rf"^{_Y4}-{_MM}-{_DD} {_HMS}\.{_MS3}Z$"),
    ("yyyy-MM-dd HH:mm:ss,SSS'Z'", rf"^{_Y4}-{_MM}-{_DD} {_HMS},{_MS3}Z$"),
    ("yyyy-MM-dd HH:mm:ss.SSSXXX", rf"^{_Y4}-{_MM}-{_DD} {_HMS}\.{_MS3}{_OFFC}$"),
    ("yyyy-MM-dd HH:mm:ss,SSSXXX", rf"^{_Y4}-{_MM}-{_DD} {_HMS},{_MS3}{_OFFC}$"),
    ("yyyy-MM-dd HH:mm:ssX", rf"^{_Y4}-{_MM}-{_DD} {_HMS}[+-](?:0[0-9]|1[0-9]|2[0-3])$"),
    ("yyyy-MM-dd'T'HH:mm:ss,SSS'Z'", rf"^{_Y4}-{_MM}-{_DD}T{_HMS},{_MS3}Z$"),
    ("yyyy-MM-dd'T'HH:mm:ssX", rf"^{_Y4}-{_MM}-{_DD}T{_HMS}[+-](?:0[0-9]|1[0-9]|2[0-3])$"),
    ("yyyy-MM-dd'T'HH:mm:ss.SSSXXX", rf"^{_Y4}-{_MM}-{_DD}T{_HMS}\.{_MS3}{_OFFC}$"),
    ("yyyy-MM-dd'T'HH:mm:ss,SSSXXX", rf"^{_Y4}-{_MM}-{_DD}T{_HMS},{_MS3}{_OFFC}$"),
    ("yyyy-MM-dd HH:mm:ss.SSS'['VV']'", rf"^{_Y4}-{_MM}-{_DD} {_HMS}\.{_MS3}\[[A-Za-z]{{4,10}}/[A-Za-z_]{{4,15}}\]$"),
    ("yyyy-MM-dd'T'HH:mm:ss.SSS'['VV']'", rf"^{_Y4}-{_MM}-{_DD}T{_HMS}\.{_MS3}\[[A-Za-z]{{4,10}}/[A-Za-z_]{{4,15}}\]$"),
    ("yyyy-MM-dd HH:mm:ssXXX'['VV']'", rf"^{_Y4}-{_MM}-{_DD} {_HMS}{_OFFC}\[[A-Za-z]{{4,10}}/[A-Za-z_]{{4,15}}\]$"),
    ("yyyy-MM-dd'T'HH:mm:ssXXX'['VV']'", rf"^{_Y4}-{_MM}-{_DD}T{_HMS}{_OFFC}\[[A-Za-z]{{4,10}}/[A-Za-z_]{{4,15}}\]$"),
    # slash family
    ("M/d/yyyy", rf"^{_M}/{_D}/{_Y4}$"),
    ("MM/dd/yyyy", rf"^{_MM}/{_DD}/{_Y4}$"),
    ("d/M/yyyy", rf"^{_D}/{_M}/{_Y4}$"),
    ("dd/MM/yyyy", rf"^{_DD}/{_MM}/{_Y4}$"),
    ("yyyy/MM/dd", rf"^{_Y4}/{_MM}/{_DD}$"),
    ("yyyy/M/d", rf"^{_Y4}/{_M}/{_D}$"),
    ("M/d/yyyy H:mm", rf"^{_M}/{_D}/{_Y4} {_H1M}$"),
    # 2-digit-year slash family (reference Group 1)
    ("M/d/yy", rf"^{_M}/{_D}/{_Y2}$"),
    ("MM/dd/yy", rf"^{_MM}/{_DD}/{_Y2}$"),
    ("dd/MM/yy", rf"^{_DD}/{_MM}/{_Y2}$"),
    ("d/MM/yy", rf"^{_D}/{_MM}/{_Y2}$"),
    # slash breadth (reference Groups 1/8/19/27)
    ("yy/MM/dd", rf"^{_Y2}/{_MM}/{_DD}$"),
    ("dd/MM/yyyy HH:mm:ss", rf"^{_DD}/{_MM}/{_Y4} {_HMS}$"),
    ("MM/dd/yyyy HH:mm:ss", rf"^{_MM}/{_DD}/{_Y4} {_HMS}$"),
    ("d/M/yyyy H:mm:ss", rf"^{_D}/{_M}/{_Y4} {_H1MS}$"),
    ("dd/MM/yyyy HH:mm", rf"^{_DD}/{_MM}/{_Y4} {_HM}$"),
    ("MM/dd/yyyy HH:mm", rf"^{_MM}/{_DD}/{_Y4} {_HM}$"),
    ("M/d/yyyy h:mm a", rf"^{_M}/{_D}/{_Y4} {_H12M} (?:AM|PM)$"),
    ("yyyy/MM/dd HH:mm:ss", rf"^{_Y4}/{_MM}/{_DD} {_HMS}$"),
    # slash time breadth, second batch (Groups 10/19/24/27)
    ("dd/MM/yyyy h:mm:ss a", rf"^{_DD}/{_MM}/{_Y4} {_H12M}:[0-5][0-9] (?:AM|PM)$"),
    ("MM/dd/yyyy h:mm:ss a", rf"^{_MM}/{_DD}/{_Y4} {_H12M}:[0-5][0-9] (?:AM|PM)$"),
    ("M/d/yyyy h:mm:ss a", rf"^{_M}/{_D}/{_Y4} {_H12M}:[0-5][0-9] (?:AM|PM)$"),
    ("dd/MM/yyyy h:mm a", rf"^{_DD}/{_MM}/{_Y4} {_H12M} (?:AM|PM)$"),
    ("yyyy/MM/dd H:mm", rf"^{_Y4}/{_MM}/{_DD} {_H1M}$"),
    ("yyyy/MM/dd H:mm:ss", rf"^{_Y4}/{_MM}/{_DD} {_H1MS}$"),
    ("M/d/yy h:mm a", rf"^{_M}/{_D}/{_Y2} {_H12M} (?:AM|PM)$"),
    ("MM/dd/yy HH:mm", rf"^{_MM}/{_DD}/{_Y2} {_HM}$"),
    ("dd/MM/yy HH:mm", rf"^{_DD}/{_MM}/{_Y2} {_HM}$"),
    ("M/d/yy HH:mm", rf"^{_M}/{_D}/{_Y2} {_HM}$"),
    ("M/d/yy H:mm", rf"^{_M}/{_D}/{_Y2} {_H1M}$"),
    ("MM/dd/yy HH:mm:ss", rf"^{_MM}/{_DD}/{_Y2} {_HMS}$"),
    ("dd/MM/yy HH:mm:ss", rf"^{_DD}/{_MM}/{_Y2} {_HMS}$"),
    ("M/d/yy H:mm:ss", rf"^{_M}/{_D}/{_Y2} {_H1MS}$"),
    ("dd/MM/yy H.mm", rf"^{_DD}/{_MM}/{_Y2} (?:[0-9]|1[0-9]|2[0-3])\.[0-5][0-9]$"),
    ("d/MMM/yyyy H:mm:ss Z", rf"^{_D}/{_MON}/{_Y4} {_H1MS} {_OFF}$"),
    ("dd/MMM/yy h:mm a", rf"^{_DD}/{_MON}/{_Y2} {_H12M} (?:AM|PM)$"),
    ("yy/MM/dd HH:mm", rf"^{_Y2}/{_MM}/{_DD} {_HM}$"),
    ("yy/MM/dd H:mm", rf"^{_Y2}/{_MM}/{_DD} {_H1M}$"),
    ("yy/MM/dd H:mm:ss", rf"^{_Y2}/{_MM}/{_DD} {_H1MS}$"),
    # dash family
    ("dd-MM-yyyy", rf"^{_DD}-{_MM}-{_Y4}$"),
    ("M-d-yyyy", rf"^{_M}-{_D}-{_Y4}$"),
    ("yy-MM-dd", rf"^{_Y2}-{_MM}-{_DD}$"),
    ("MM-dd-yy", rf"^{_MM}-{_DD}-{_Y2}$"),
    ("d-M-yy", rf"^{_D}-{_M}-{_Y2}$"),
    # dash breadth (reference Groups 3/7/18/29)
    ("MM-dd-yyyy", rf"^{_MM}-{_DD}-{_Y4}$"),
    ("dd-MM-yy", rf"^{_DD}-{_MM}-{_Y2}$"),
    ("MM-dd-yyyy HH:mm:ss", rf"^{_MM}-{_DD}-{_Y4} {_HMS}$"),
    ("dd-MM-yyyy HH:mm:ss", rf"^{_DD}-{_MM}-{_Y4} {_HMS}$"),
    # dash time breadth, second batch (Groups 13/28/29)
    ("MM-dd-yyyy HH:mm", rf"^{_MM}-{_DD}-{_Y4} {_HM}$"),
    ("MM-dd-yyyy h:mm a", rf"^{_MM}-{_DD}-{_Y4} {_H12M} (?:AM|PM)$"),
    ("MM-dd-yyyy h:mm:ss a", rf"^{_MM}-{_DD}-{_Y4} {_H12M}:[0-5][0-9] (?:AM|PM)$"),
    ("M-d-yyyy HH:mm:ss", rf"^{_M}-{_D}-{_Y4} {_HMS}$"),
    ("M-d-yyyy H:mm", rf"^{_M}-{_D}-{_Y4} {_H1M}$"),
    ("dd-MM-yyyy H:mm", rf"^{_DD}-{_MM}-{_Y4} {_H1M}$"),
    ("yy-MM-dd HH:mm", rf"^{_Y2}-{_MM}-{_DD} {_HM}$"),
    ("MM-dd-yy HH:mm", rf"^{_MM}-{_DD}-{_Y2} {_HM}$"),
    ("MM-dd-yy h:mm a", rf"^{_MM}-{_DD}-{_Y2} {_H12M} (?:AM|PM)$"),
    ("MM-dd-yy HH:mm:ss", rf"^{_MM}-{_DD}-{_Y2} {_HMS}$"),
    ("M-d-yy HH:mm", rf"^{_M}-{_D}-{_Y2} {_HM}$"),
    ("M-d-yy H:mm:ss", rf"^{_M}-{_D}-{_Y2} {_H1MS}$"),
    ("dd-MM-yy HH:mm", rf"^{_DD}-{_MM}-{_Y2} {_HM}$"),
    ("yy-MM-dd h.mm.a", rf"^{_Y2}-{_MM}-{_DD} (?:[1-9]|1[0-2])\.[0-5][0-9]\.(?:AM|PM)$"),
    # dot family (reference Groups 2/5)
    ("dd.MM.yyyy", rf"^{_DD}\.{_MM}\.{_Y4}$"),
    ("d.M.yyyy", rf"^{_D}\.{_M}\.{_Y4}$"),
    ("yyyy.MM.dd", rf"^{_Y4}\.{_MM}\.{_DD}$"),
    ("dd.MM.yy", rf"^{_DD}\.{_MM}\.{_Y2}$"),
    ("d.M.yy", rf"^{_D}\.{_M}\.{_Y2}$"),
    # dot breadth (reference Groups 2/5/15/26)
    ("d.MM.yyyy", rf"^{_D}\.{_MM}\.{_Y4}$"),
    ("yy.M.d", rf"^{_Y2}\.{_M}\.{_D}$"),
    ("dd.MM.yyyy HH:mm:ss", rf"^{_DD}\.{_MM}\.{_Y4} {_HMS}$"),
    ("dd.MM.yyyy HH:mm", rf"^{_DD}\.{_MM}\.{_Y4} {_HM}$"),
    ("d.M.yyyy H:mm", rf"^{_D}\.{_M}\.{_Y4} {_H1M}$"),
    ("yyyy.MM.dd HH:mm:ss", rf"^{_Y4}\.{_MM}\.{_DD} {_HMS}$"),
    # trailing-dot / spaced-dot forms (reference Groups 2/5/15/26 — hu/hr/ko)
    ("yyyy.MM.dd.", rf"^{_Y4}\.{_MM}\.{_DD}\.$"),
    ("yyyy. M. d", rf"^{_Y4}\. {_M}\. {_D}$"),
    ("yyyy.d.M", rf"^{_Y4}\.{_D}\.{_M}$"),
    ("yyyy.MM.dd. H:mm:ss", rf"^{_Y4}\.{_MM}\.{_DD}\. {_H1MS}$"),
    ("yyyy.MM.dd. H:mm", rf"^{_Y4}\.{_MM}\.{_DD}\. {_H1M}$"),
    ("yyyy.d.M HH:mm:ss", rf"^{_Y4}\.{_D}\.{_M} {_HMS}$"),
    ("dd.MM.yyyy.", rf"^{_DD}\.{_MM}\.{_Y4}\.$"),
    ("d.M.yy.", rf"^{_D}\.{_M}\.{_Y2}\.$"),
    ("yy. M. d", rf"^{_Y2}\. {_M}\. {_D}$"),
    ("yy.d.M", rf"^{_Y2}\.{_D}\.{_M}$"),
    ("yy.M.d HH.mm", rf"^{_Y2}\.{_M}\.{_D} (?:0[0-9]|1[0-9]|2[0-3])\.[0-5][0-9]$"),
    ("d.M.yy. HH.mm", rf"^{_D}\.{_M}\.{_Y2}\. (?:0[0-9]|1[0-9]|2[0-3])\.[0-5][0-9]$"),
    ("dd.MM.yyyy. HH.mm.ss", rf"^{_DD}\.{_MM}\.{_Y4}\. (?:0[0-9]|1[0-9]|2[0-3])\.[0-5][0-9]\.[0-5][0-9]$"),
    ("dd.MM.yyyy. HH.mm.ss z", rf"^{_DD}\.{_MM}\.{_Y4}\. (?:0[0-9]|1[0-9]|2[0-3])\.[0-5][0-9]\.[0-5][0-9] [A-Z]{{2,5}}$"),
    # dot time breadth, second batch (Groups 11/15/25/26/37/39)
    ("dd.MM.yyyy H:mm:ss", rf"^{_DD}\.{_MM}\.{_Y4} {_H1MS}$"),
    ("d.M.yyyy HH:mm:ss", rf"^{_D}\.{_M}\.{_Y4} {_HMS}$"),
    ("d.M.yyyy H:mm:ss", rf"^{_D}\.{_M}\.{_Y4} {_H1MS}$"),
    ("d.M.yyyy H.mm.ss", rf"^{_D}\.{_M}\.{_Y4} (?:[0-9]|1[0-9]|2[0-3])\.[0-5][0-9]\.[0-5][0-9]$"),
    ("d.MM.yyyy H:mm:ss", rf"^{_D}\.{_MM}\.{_Y4} {_H1MS}$"),
    ("yyyy.MM.dd HH:mm", rf"^{_Y4}\.{_MM}\.{_DD} {_HM}$"),
    ("dd.MM.yy HH:mm", rf"^{_DD}\.{_MM}\.{_Y2} {_HM}$"),
    ("dd.MM.yy H:mm", rf"^{_DD}\.{_MM}\.{_Y2} {_H1M}$"),
    ("d.M.yy HH:mm", rf"^{_D}\.{_M}\.{_Y2} {_HM}$"),
    ("d.M.yy H:mm", rf"^{_D}\.{_M}\.{_Y2} {_H1M}$"),
    ("dd.MM.yy HH:mm:ss", rf"^{_DD}\.{_MM}\.{_Y2} {_HMS}$"),
    ("d.M.yy H.mm", rf"^{_D}\.{_M}\.{_Y2} (?:[0-9]|1[0-9]|2[0-3])\.[0-5][0-9]$"),
    # compact (reference Group 9)
    ("yyyyMMdd", rf"^{_Y4}{_MM}{_DD}$"),
    ("yyyyMMddZ", rf"^{_Y4}{_MM}{_DD}{_OFF}$"),
    # CJK + ISO-week (reference Groups 9/36)
    ("yyyy'年'M'月'd'日'", rf"^{_Y4}年{_M}月{_D}日$"),
    ("YYYY'W'wc", rf"^{_Y4}W(?:[1-4]?[0-9]|5[0-2])[1-7]$"),
    # English month names (locale-free subset of reference Group 4)
    ("d-MMM-yyyy", rf"^{_D}-{_MON}-{_Y4}$"),
    ("dd-MMM-yy", rf"^{_DD}-{_MON}-{_Y2}$"),
    ("MMM d, yyyy", rf"^{_MON} {_D}, {_Y4}$"),
    ("d MMM yyyy", rf"^{_D} {_MON} {_Y4}$"),
    ("MMMM d, yyyy", rf"^{_MONTH} {_D}, {_Y4}$"),
    ("d MMMM yyyy", rf"^{_D} {_MONTH} {_Y4}$"),
    # English month/day-name breadth (reference Groups 4/6/14/16/30)
    ("dd-MMM-yyyy", rf"^{_DD}-{_MON}-{_Y4}$"),
    ("dd-MMM-yyyy HH:mm:ss", rf"^{_DD}-{_MON}-{_Y4} {_HMS}$"),
    ("MMM d yyyy", rf"^{_MON} {_D} {_Y4}$"),
    ("MMMM d yyyy", rf"^{_MONTH} {_D} {_Y4}$"),
    ("MMM.dd.yyyy", rf"^{_MON}\.{_DD}\.{_Y4}$"),
    ("MMM d, yyyy h:mm:ss a", rf"^{_MON} {_D}, {_Y4} {_H12M}:[0-5][0-9] (?:AM|PM)$"),
    ("dd MMMM yyyy", rf"^{_DD} {_MONTH} {_Y4}$"),
    ("d MMM yyyy HH:mm:ss", rf"^{_D} {_MON} {_Y4} {_HMS}$"),
    ("EEEE, MMMM d, yyyy", rf"^{_DAY}, {_MONTH} {_D}, {_Y4}$"),
    ("EEEE d MMMM yyyy", rf"^{_DAY} {_D} {_MONTH} {_Y4}$"),
    ("EEEE, d MMMM yyyy", rf"^{_DAY}, {_D} {_MONTH} {_Y4}$"),
    ("EEEE, d. MMMM yyyy", rf"^{_DAY}, {_D}\. {_MONTH} {_Y4}$"),
    ("MMMM d, yyyy h:mm:ss a z", rf"^{_MONTH} {_D}, {_Y4} {_H12M}:[0-5][0-9] (?:AM|PM) {_TZ}$"),
    ("MMMM d, yyyy h:mm:ss z a", rf"^{_MONTH} {_D}, {_Y4} {_H12M}:[0-5][0-9] {_TZ} (?:AM|PM)$"),
    # RFC 2822 (mail/HTTP) and unix ctime — the two highest-traffic
    # day-name datetime shapes in crawled web data
    ("EEE, d MMM yyyy HH:mm:ss Z", rf"^{_DAY3}, {_D} {_MON} {_Y4} {_HMS} {_OFF}$"),
    ("EEE MMM dd HH:mm:ss z yyyy", rf"^{_DAY3} {_MON} {_DD} {_HMS} {_TZ} {_Y4}$"),
    ("d MMM yyyy HH:mm:ss Z", rf"^{_D} {_MON} {_Y4} {_HMS} {_OFF}$"),
    ("d MMM yyyy HH:mm:ss z", rf"^{_D} {_MON} {_Y4} {_HMS} {_TZ}$"),
    ("d-MMM-yyyy h:mm:ss a", rf"^{_D}-{_MON}-{_Y4} {_H12M}:[0-5][0-9] (?:AM|PM)$"),
    ("d-MMM-yyyy H.mm.ss", rf"^{_D}-{_MON}-{_Y4} (?:[0-9]|1[0-9]|2[0-3])\.[0-5][0-9]\.[0-5][0-9]$"),
    ("dd-MMM-yy hh.mm.ss.nnnnnnnnn a", rf"^{_DD}-{_MON}-{_Y2} (?:0[1-9]|1[0-2])\.[0-5][0-9]\.[0-5][0-9]\.[0-9]{{9}} (?:AM|PM)$"),
    ("d MMMM yyyy HH:mm:ss z", rf"^{_D} {_MONTH} {_Y4} {_HMS} {_TZ}$"),
    ("dd MMMM yyyy HH:mm:ss z", rf"^{_DD} {_MONTH} {_Y4} {_HMS} {_TZ}$"),
    ("d MMMM yyyy H.mm.ss z", rf"^{_D} {_MONTH} {_Y4} (?:[0-9]|1[0-9]|2[0-3])\.[0-5][0-9]\.[0-5][0-9] {_TZ}$"),
    ("d. MMMM yyyy HH:mm:ss z", rf"^{_D}\. {_MONTH} {_Y4} {_HMS} {_TZ}$"),
    # time-led date forms (reference Groups 10/18)
    ("HH:mm dd/MM/yyyy", rf"^{_HM} {_DD}/{_MM}/{_Y4}$"),
    ("HH:mm:ss dd-MM-yyyy", rf"^{_HMS} {_DD}-{_MM}-{_Y4}$"),
    # locale month-name families (French / German / Spanish / Italian /
    # Portuguese / Dutch).  Cross-locale month collisions (fr/it
    # "novembre", es/pt/it "agosto", nl "april"/"september" vs their
    # capitalized EN forms) resolve by cascade order, identically in both
    # engines — first match wins, like the reference's in-group ordering.
    ("d MMMM yyyy (fr)", rf"^{_D} {_MON_FR} {_Y4}$"),
    ("d MMM yyyy (fr)", rf"^{_D} (?:janv|févr|avr|juil|sept|oct|nov|déc)\. {_Y4}$"),
    ("d. MMMM yyyy (de)", rf"^{_D}\. {_MON_DE} {_Y4}$"),
    ("d 'de' MMMM 'de' yyyy (es)", rf"^{_D} de {_MON_ES} de {_Y4}$"),
    ("d MMMM yyyy (it)", rf"^{_D} {_MON_IT} {_Y4}$"),
    ("d 'de' MMMM 'de' yyyy (pt)", rf"^{_D} de {_MON_PT} de {_Y4}$"),
    ("d MMMM yyyy (nl)", rf"^{_D} {_MON_NL} {_Y4}$"),
)

# CJK 12-hour markers (the reference's `a` field under zh locales is
# 上午/下午; explicit literals keep the Java∩RE2 common subset)
_AMPM_ZH = r"(?:上午|下午)"
_H12 = r"(?:[1-9]|1[0-2])"
_HH12 = r"(?:0[1-9]|1[0-2])"
_HMSD = r"(?:[0-9]|1[0-9]|2[0-3])\.[0-5][0-9]\.[0-5][0-9]"    # H.mm.ss
_HHMSD = r"(?:0[0-9]|1[0-9]|2[0-3])\.[0-5][0-9]\.[0-5][0-9]"  # HH.mm.ss
_HMD = r"(?:[0-9]|1[0-9]|2[0-3])\.[0-5][0-9]"                 # H.mm
_HHMD = r"(?:0[0-9]|1[0-9]|2[0-3])\.[0-5][0-9]"               # HH.mm
_OFFX = r"[+-](?:0[0-9]|1[0-9]|2[0-3])"                       # X (+05)

TIME_REGEXES: tuple[tuple[str, str], ...] = (
    ("HH:mm:ss", rf"^{_HMS}$"),
    ("HH:mm", rf"^{_HM}$"),
    ("H:mm", rf"^{_H1M}$"),
    ("h:mm a", rf"^{_H12M} (?:AM|PM)$"),
    ("h:mm:ss a", rf"^{_H12M}:[0-5][0-9] (?:AM|PM)$"),
    ("H.mm", rf"^{_HMD}$"),
    ("HH:mm:ss z", rf"^{_HMS} {_TZ}$"),
    ("HH:mm:ss.S", rf"^{_HMS}\.[0-9]{{1,3}}$"),
    # H.mm.ss sits AFTER the dot-family dates in the flat cascade, so
    # "10.11.12"-style values keep classifying as d.M.yy (the reference's
    # Group-2-before-time ordering)
    ("H.mm.ss", rf"^{_HMSD}$"),
    # round-5 third batch — the rest of the reference's TimeRegexes.txt
    # (47 rows), Java∩RE2 subset with explicit AM/PM / 上午/下午 markers
    ("H:mm:ss", rf"^{_H1MS}$"),
    ("h:mm:ss a z", rf"^{_H12M}:[0-5][0-9] (?:AM|PM) {_TZ}$"),
    ("h:mm:ss z a", rf"^{_H12M}:[0-5][0-9] {_TZ} (?:AM|PM)$"),
    ("H:mm:ss z", rf"^{_H1MS} {_TZ}$"),
    ("H.mm.ss z", rf"^{_HMSD} {_TZ}$"),
    ("HH:mm' Uhr 'z", rf"^{_HM} Uhr {_TZ}$"),
    ("HH:mm:ss 'o''clock' z", rf"^{_HMS} o'clock {_TZ}$"),
    ("h:mm:ss 'o''clock' a z", rf"^{_H12M}:[0-5][0-9] o'clock (?:AM|PM) {_TZ}$"),
    # zone-offset family: X = [+-]HH, Z = [+-]HHMM, XXX = [+-]HH:MM —
    # mutually exclusive by anchoring; padded (HH) forms precede
    # unpadded (H) so no entry is shadowed dead
    ("HH:mmX", rf"^{_HM}{_OFFX}$"),
    ("H:mmX", rf"^{_H1M}{_OFFX}$"),
    ("HH.mmX", rf"^{_HHMD}{_OFFX}$"),
    ("H.mmX", rf"^{_HMD}{_OFFX}$"),
    ("HH:mm:ssX", rf"^{_HMS}{_OFFX}$"),
    ("H:mm:ssX", rf"^{_H1MS}{_OFFX}$"),
    ("HH.mm.ssX", rf"^{_HHMSD}{_OFFX}$"),
    ("H.mm.ssX", rf"^{_HMSD}{_OFFX}$"),
    ("HH:mmZ", rf"^{_HM}{_OFF}$"),
    ("H:mmZ", rf"^{_H1M}{_OFF}$"),
    ("HH.mmZ", rf"^{_HHMD}{_OFF}$"),
    ("H.mmZ", rf"^{_HMD}{_OFF}$"),
    ("HH:mm:ssZ", rf"^{_HMS}{_OFF}$"),
    ("H:mm:ssZ", rf"^{_H1MS}{_OFF}$"),
    ("HH.mm.ssZ", rf"^{_HHMSD}{_OFF}$"),
    ("H.mm.ssZ", rf"^{_HMSD}{_OFF}$"),
    ("HH:mmXXX", rf"^{_HM}{_OFFC}$"),
    ("H:mmXXX", rf"^{_H1M}{_OFFC}$"),
    ("HH.mmXXX", rf"^{_HHMD}{_OFFC}$"),
    ("H.mmXXX", rf"^{_HMD}{_OFFC}$"),
    ("HH:mm:ssXXX", rf"^{_HMS}{_OFFC}$"),
    ("H:mm:ssXXX", rf"^{_H1MS}{_OFFC}$"),
    ("HH.mm.ssXXX", rf"^{_HHMSD}{_OFFC}$"),
    ("H.mm.ssXXX", rf"^{_HMSD}{_OFFC}$"),
    # CJK clock forms (reference TimeRegexes.txt rows 15/21/22 + ah:mm)
    ("ah:mm", rf"^{_AMPM_ZH}{_H12}:[0-5][0-9]$"),
    ("ahh'时'mm'分'ss'秒'", rf"^{_AMPM_ZH}{_HH12}时[0-5][0-9]分[0-5][0-9]秒$"),
    ("ahh'时'mm'分'ss'秒' z", rf"^{_AMPM_ZH}{_HH12}时[0-5][0-9]分[0-5][0-9]秒 {_TZ}$"),
    ("H'時'mm'分'ss'秒' z", r"^(?:[0-9]|1[0-9]|2[0-3])時[0-5][0-9]分[0-5][0-9]秒 [A-Z]{2,5}$"),
    # French clock phrasing (reference Groups 22 companions)
    ("HH' h 'mm z", rf"^(?:0[0-9]|1[0-9]|2[0-3]) h [0-5][0-9] {_TZ}$"),
    ("H' h 'mm z", rf"^(?:[0-9]|1[0-9]|2[0-3]) h [0-5][0-9] {_TZ}$"),
)

# Cheap time prefilter shared by the Spark `is_time` and the DuckDB
# classify twin (queries._sql_classify_full) — keep the two in
# lock-step by construction.
TIME_PREFILTER_PATTERN = (
    r"^([0-9]{1,2}[:.][0-9]{2}|[0-9]{1,2} h [0-5]|[0-9]{1,2}時|上午|下午)"
)

# one combined alternation per class → a single codegen'd rlike for is_date
DATE_COMBINED_PATTERN = "|".join(f"(?:{rx[1:-1]})" for _f, rx in DATE_REGEXES).join(["^(?:", ")$"])
TIME_COMBINED_PATTERN = "|".join(f"(?:{rx[1:-1]})" for _f, rx in TIME_REGEXES).join(["^(?:", ")$"])

# Structural dispatch groups (the reference's DateRegexesGrouped.txt device:
# patterns grouped by separator/width family behind a cheap gate regex, so a
# value tests ONE family instead of the whole table).  Gates are pairwise
# exclusive by construction (leading digit-run width + following separator),
# which makes the nested dispatch exactly equivalent to the flat
# first-match cascade the DuckDB oracle runs.
_ALL = dict(DATE_REGEXES + TIME_REGEXES)

# Gate membership is declared as SETS; the ordered family list for each
# gate is BUILT from the flat DATE_REGEXES+TIME_REGEXES order, so the
# dispatch is identical to the oracle's flat first-match scan BY
# CONSTRUCTION (tests/test_typeinfer.py re-asserts it).  Gates are
# pairwise exclusive (leading digit-run width + following separator).
_GATE_MEMBERS: tuple[tuple[str, frozenset[str]], ...] = (
    (r"^[0-9]{4}-", frozenset({
        "yyyy-MM-dd", "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss",
        "yyyy-MM-dd'T'HH:mm:ss'Z'", "yyyy-MM-dd HH:mm:ss.S",
        "yyyy-M-d", "yyyy-MM-dd HH:mm", "yyyy-MM-dd H:mm:ss",
        "yyyy-MM-dd h:mm a", "yyyy-MM-dd HH:mm:ss,SSS", "yyyy-MM-dd HH:mm:ssXXX",
        "yyyy-MM-ddXXX", "yyyy-MM-dd'T'HH:mm:ss.SSS", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'",
        "yyyy-MM-dd'T'HH:mm:ssXXX", "yyyy-DDDXXX", "YYYY-'W'w-c",
        "yyyy-MM-dd h:mm:ss a", "yyyy-M-d HH:mm:ss", "yyyy-M-d H:mm",
        "yyyy-MM-dd HH.mm.ss", "yyyy-MM-dd'T'HH:mm:ss,SSS",
        "yyyy-MM-dd'T'HH:mm:ssZ", "yyyy-MM-dd HH:mm:ssZ", "yyyy-MM-dd G",
        "yyyy-MM-dd HH:mm:ss.SSS'Z'", "yyyy-MM-dd HH:mm:ss,SSS'Z'",
        "yyyy-MM-dd HH:mm:ss.SSSXXX", "yyyy-MM-dd HH:mm:ss,SSSXXX",
        "yyyy-MM-dd HH:mm:ssX", "yyyy-MM-dd'T'HH:mm:ss,SSS'Z'",
        "yyyy-MM-dd'T'HH:mm:ssX", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
        "yyyy-MM-dd'T'HH:mm:ss,SSSXXX", "yyyy-MM-dd HH:mm:ss.SSS'['VV']'",
        "yyyy-MM-dd'T'HH:mm:ss.SSS'['VV']'", "yyyy-MM-dd HH:mm:ssXXX'['VV']'",
        "yyyy-MM-dd'T'HH:mm:ssXXX'['VV']'",
    })),
    (r"^[0-9]{4}/", frozenset({
        "yyyy/MM/dd", "yyyy/M/d", "yyyy/MM/dd HH:mm:ss",
        "yyyy/MM/dd H:mm", "yyyy/MM/dd H:mm:ss",
    })),
    (r"^[0-9]{1,2}/", frozenset({
        "M/d/yyyy", "MM/dd/yyyy", "d/M/yyyy", "dd/MM/yyyy",
        "M/d/yyyy H:mm", "M/d/yy", "MM/dd/yy", "dd/MM/yy", "d/MM/yy",
        "yy/MM/dd", "dd/MM/yyyy HH:mm:ss", "MM/dd/yyyy HH:mm:ss",
        "d/M/yyyy H:mm:ss", "dd/MM/yyyy HH:mm", "MM/dd/yyyy HH:mm",
        "M/d/yyyy h:mm a",
        "dd/MM/yyyy h:mm:ss a", "MM/dd/yyyy h:mm:ss a", "M/d/yyyy h:mm:ss a",
        "dd/MM/yyyy h:mm a", "M/d/yy h:mm a", "MM/dd/yy HH:mm",
        "dd/MM/yy HH:mm", "M/d/yy HH:mm", "M/d/yy H:mm",
        "MM/dd/yy HH:mm:ss", "dd/MM/yy HH:mm:ss", "M/d/yy H:mm:ss",
        "dd/MM/yy H.mm", "yy/MM/dd HH:mm", "yy/MM/dd H:mm",
        "yy/MM/dd H:mm:ss", "d/MMM/yyyy H:mm:ss Z", "dd/MMM/yy h:mm a",
    })),
    (r"^[0-9]{1,2}-[0-9]", frozenset({
        "dd-MM-yyyy", "M-d-yyyy", "yy-MM-dd", "MM-dd-yy", "d-M-yy",
        "MM-dd-yyyy", "dd-MM-yy", "MM-dd-yyyy HH:mm:ss", "dd-MM-yyyy HH:mm:ss",
        "MM-dd-yyyy HH:mm", "MM-dd-yyyy h:mm a", "MM-dd-yyyy h:mm:ss a",
        "M-d-yyyy HH:mm:ss", "M-d-yyyy H:mm", "dd-MM-yyyy H:mm",
        "yy-MM-dd HH:mm", "MM-dd-yy HH:mm", "MM-dd-yy h:mm a",
        "MM-dd-yy HH:mm:ss", "M-d-yy HH:mm", "M-d-yy H:mm:ss",
        "dd-MM-yy HH:mm", "yy-MM-dd h.mm.a",
    })),
    (r"^[0-9]{1,2}-[A-Za-z]", frozenset({
        "d-MMM-yyyy", "dd-MMM-yy", "dd-MMM-yyyy", "dd-MMM-yyyy HH:mm:ss",
        "d-MMM-yyyy h:mm:ss a", "d-MMM-yyyy H.mm.ss",
        "dd-MMM-yy hh.mm.ss.nnnnnnnnn a",
    })),
    (r"^[0-9]{4}\.", frozenset({
        "yyyy.MM.dd", "yyyy.MM.dd HH:mm:ss", "yyyy.MM.dd HH:mm",
        "yyyy.MM.dd.", "yyyy. M. d", "yyyy.d.M", "yyyy.MM.dd. H:mm:ss",
        "yyyy.MM.dd. H:mm", "yyyy.d.M HH:mm:ss",
    })),
    (r"^[0-9]{1,2}\.", frozenset({
        "dd.MM.yyyy", "d.M.yyyy", "dd.MM.yy", "d.M.yy",
        "d.MM.yyyy", "yy.M.d", "dd.MM.yyyy HH:mm:ss", "dd.MM.yyyy HH:mm",
        "d.M.yyyy H:mm",
        "dd.MM.yyyy H:mm:ss", "d.M.yyyy HH:mm:ss", "d.M.yyyy H:mm:ss",
        "d.M.yyyy H.mm.ss", "d.MM.yyyy H:mm:ss", "dd.MM.yy HH:mm",
        "dd.MM.yy H:mm", "d.M.yy HH:mm", "d.M.yy H:mm",
        "dd.MM.yy HH:mm:ss", "d.M.yy H.mm",
        "dd.MM.yyyy.", "d.M.yy.", "yy. M. d", "yy.d.M", "yy.M.d HH.mm",
        "d.M.yy. HH.mm", "dd.MM.yyyy. HH.mm.ss", "dd.MM.yyyy. HH.mm.ss z",
        "d. MMMM yyyy (de)", "d. MMMM yyyy HH:mm:ss z", "H.mm", "H.mm.ss",
        "H.mm.ss z", "HH.mmX", "H.mmX", "HH.mm.ssX", "H.mm.ssX",
        "HH.mmZ", "H.mmZ", "HH.mm.ssZ", "H.mm.ssZ",
        "HH.mmXXX", "H.mmXXX", "HH.mm.ssXXX", "H.mm.ssXXX",
    })),
    (r"^[0-9]{8}$", frozenset({"yyyyMMdd"})),
    (r"^[0-9]{8}[+-]", frozenset({"yyyyMMddZ"})),
    (r"^[0-9]{4}年", frozenset({"yyyy'年'M'月'd'日'"})),
    (r"^[0-9]{4}W", frozenset({"YYYY'W'wc"})),
    (r"^[A-Za-z]", frozenset({
        "MMM d, yyyy", "MMMM d, yyyy",
        "MMM d yyyy", "MMMM d yyyy", "MMM.dd.yyyy", "MMM d, yyyy h:mm:ss a",
        "EEEE, MMMM d, yyyy", "EEEE d MMMM yyyy",
        "EEEE, d MMMM yyyy", "EEEE, d. MMMM yyyy",
        "MMMM d, yyyy h:mm:ss a z", "MMMM d, yyyy h:mm:ss z a",
        "EEE, d MMM yyyy HH:mm:ss Z", "EEE MMM dd HH:mm:ss z yyyy",
    })),
    # [A-Za-zÀ-ÿ]: French/Spanish months may open with an accented letter (août)
    (r"^[0-9]{1,2} [A-Za-zÀ-ÿ]", frozenset({
        "d MMM yyyy", "d MMMM yyyy",
        "dd MMMM yyyy", "d MMM yyyy HH:mm:ss",
        "d MMM yyyy HH:mm:ss Z", "d MMM yyyy HH:mm:ss z",
        "d MMMM yyyy HH:mm:ss z", "dd MMMM yyyy HH:mm:ss z",
        "d MMMM yyyy H.mm.ss z",
        "d MMMM yyyy (fr)", "d MMM yyyy (fr)", "d 'de' MMMM 'de' yyyy (es)",
        "d MMMM yyyy (it)", "d 'de' MMMM 'de' yyyy (pt)", "d MMMM yyyy (nl)",
        "HH' h 'mm z", "H' h 'mm z",
    })),
    (r"^[0-9]{1,2}:", frozenset({
        "HH:mm dd/MM/yyyy", "HH:mm:ss dd-MM-yyyy",
        "HH:mm:ss", "HH:mm", "H:mm", "h:mm a", "h:mm:ss a",
        "HH:mm:ss z", "HH:mm:ss.S",
        "H:mm:ss", "h:mm:ss a z", "h:mm:ss z a", "H:mm:ss z",
        "HH:mm' Uhr 'z", "HH:mm:ss 'o''clock' z", "h:mm:ss 'o''clock' a z",
        "HH:mmX", "H:mmX", "HH:mm:ssX", "H:mm:ssX",
        "HH:mmZ", "H:mmZ", "HH:mm:ssZ", "H:mm:ssZ",
        "HH:mmXXX", "H:mmXXX", "HH:mm:ssXXX", "H:mm:ssXXX",
    })),
    (r"^(?:上午|下午)", frozenset({
        "ah:mm", "ahh'时'mm'分'ss'秒'", "ahh'时'mm'分'ss'秒' z",
    })),
    (r"^[0-9]{1,2}時", frozenset({"H'時'mm'分'ss'秒' z"})),
)

_FLAT_ORDER = tuple(f for f, _rx in DATE_REGEXES + TIME_REGEXES)

DATETIME_GROUPS: tuple[tuple[str, tuple[tuple[str, str], ...]], ...] = tuple(
    (gate, tuple((f, _ALL[f]) for f in _FLAT_ORDER if f in members))
    for gate, members in _GATE_MEMBERS
)


# Any character that is not whitespace, whitespace being Java's `\s`
# spelled out: `F.trim` strips only U+0020, DuckDB `trim` strips U+0020 and
# Unicode spaces such as U+00A0 but not tab or newline, and RE2's `\s` lacks
# VT.  The one definition of "blank": `is_empty` and the DuckDB oracles use it.
NON_BLANK_CHAR = r"[^ \t\n\x0B\f\r]"


def is_empty(col: Column) -> Column:
    """Null or all-whitespace (TypeInferenceUtils.java:157-159)."""
    return col.isNull() | ~col.rlike(NON_BLANK_CHAR)


def is_boolean(col: Column) -> Column:
    return col.rlike(BOOLEAN_PATTERN)


def is_integer(col: Column) -> Column:
    return col.rlike(INTEGER_PATTERN)


def is_double(col: Column) -> Column:
    return col.rlike(DOUBLE_PATTERN)


def is_date(col: Column) -> Column:
    """Regex-table recognition, the reference's semantics
    (`SystemDateTimePatternManager.isDate`: a value is a date iff some
    pattern regex matches — recognition is regex-based, parsing happens
    only at conversion time).  The cheap prefilter gates the combined
    alternation; both are single codegen'd rlikes."""
    return col.rlike(DATE_PREFILTER_PATTERN) & col.rlike(DATE_COMBINED_PATTERN)


def is_time(col: Column) -> Column:
    return col.rlike(TIME_PREFILTER_PATTERN) & col.rlike(TIME_COMBINED_PATTERN)


def classify(col: Column) -> Column:
    """Per-value type verdict, first match wins (DataTypeAnalyzer order)."""
    return (
        F.when(is_empty(col), F.lit("EMPTY"))
        .when(is_boolean(col), F.lit("BOOLEAN"))
        .when(is_integer(col), F.lit("INTEGER"))
        .when(is_double(col), F.lit("DOUBLE"))
        .when(is_date(col), F.lit("DATE"))
        .when(is_time(col), F.lit("TIME"))
        .otherwise(F.lit("STRING"))
    )


def is_valid_as(col: Column, expected_type: str) -> Column:
    """Validity of a value against a declared type — DataTypeQualityAnalyzer
    dispatch (`statistics/quality/DataTypeQualityAnalyzer.java:59-99`,
    `TypeInferenceUtils.isValid:167-185`).  STRING is always valid."""
    t = expected_type.upper()
    if t == "STRING":
        return F.lit(True)
    if t == "BOOLEAN":
        return is_boolean(col)
    if t == "INTEGER":
        return is_integer(col)
    if t == "DOUBLE":
        # INTEGER ⊂ DOUBLE
        return is_double(col) | is_integer(col)
    if t == "DATE":
        return is_date(col)
    if t == "TIME":
        return is_time(col)
    raise ValueError(f"unknown expected type: {expected_type}")
