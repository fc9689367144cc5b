"""Phonetic encoders: Metaphone, Double Metaphone, Cologne Phonetic, and
the reference's French Soundex variant.

Pure-Python implementations of the public algorithms (Lawrence Philips'
Metaphone 1990 / Double Metaphone 2000; Postel's Kölner Phonetik 1969),
written to agree with the widely-deployed Apache commons-codec behaviors
the reference depends on (`attribute/MetaphoneMatcher.java:26`,
`attribute/DoubleMetaphoneMatcher.java:23`, `windowkey/AlgoBox.java:283-398`)
and the reference's own SoundexFR
(`contribs/algorithm/SoundexFR.java:44`).  All encoders are deterministic
pure string functions — they run inside Arrow-batched pandas UDFs (see
`operators/matching.py` / `functions/keyers.py`), never per-row Python UDFs.
"""

from __future__ import annotations

import re
import unicodedata

_VOWELS = "AEIOU"
_FRONTV = "EIY"   # front vowels that soften C/G
_VARSON = "CSPTG"  # H is silent after these


# length of every Metaphone and Double Metaphone code
CODE_LEN = 4


def _is_vowel(s: str, i: int) -> bool:
    return 0 <= i < len(s) and s[i] in _VOWELS


# ---------------------------------------------------------------------------
# Metaphone (Philips 1990, 4-char code)
# ---------------------------------------------------------------------------


def metaphone(txt: str | None) -> str:
    """Metaphone code (≤ `CODE_LEN` chars; empty for non-letter input)."""
    if txt is None or len(txt) == 0:
        return ""
    if len(txt) == 1:
        return txt.upper()
    w = txt.upper()

    # initial-cluster exceptions
    if w[0] in "KGP" and w[1] == "N":
        w = w[1:]
    elif w[0] == "A" and w[1] == "E":
        w = w[1:]
    elif w[0] == "W" and w[1] == "R":
        w = w[1:]
    elif w[0] == "W" and w[1] == "H":
        w = "W" + w[2:]
    elif w[0] == "X":
        w = "S" + w[1:]

    code: list[str] = []
    n = 0
    wdsz = len(w)
    while len(code) < CODE_LEN and n < wdsz:
        c = w[n]
        # collapse doubled letters except C
        if c != "C" and n > 0 and w[n - 1] == c:
            n += 1
            continue
        last = n == wdsz - 1
        nxt = w[n + 1] if n + 1 < wdsz else "$"  # sentinel: "" in "EIY" is True
        if c in _VOWELS:
            if n == 0:
                code.append(c)
        elif c == "B":
            if not (last and n > 0 and w[n - 1] == "M"):
                code.append("B")
        elif c == "C":
            if n > 0 and w[n - 1] == "S" and nxt in _FRONTV:
                pass  # SCI/SCE/SCY: C silent
            elif w[n : n + 3] == "CIA":
                code.append("X")
            elif nxt in _FRONTV:
                code.append("S")
            elif n > 0 and w[n - 1] == "S" and nxt == "H":
                code.append("K")  # SCH -> K
            elif nxt == "H":
                if n == 0 and wdsz >= 3 and not _is_vowel(w, 2):
                    code.append("K")
                else:
                    code.append("X")
            else:
                code.append("K")
        elif c == "D":
            if n + 2 < wdsz and nxt == "G" and w[n + 2] in _FRONTV:
                code.append("J")
                n += 2
            else:
                code.append("T")
        elif c == "G":
            silent = False
            if n + 1 == wdsz - 1 and nxt == "H":
                silent = True  # terminal GH
            elif nxt == "H" and n + 2 < wdsz and not _is_vowel(w, n + 2):
                silent = True  # GH + consonant
            elif n > 0 and (w[n:].startswith("GN") or w[n:].startswith("GNED")):
                silent = True
            if not silent:
                if not last and nxt in _FRONTV and (n == 0 or w[n - 1] != "G"):
                    code.append("J")
                else:
                    code.append("K")
        elif c == "H":
            if not last and not (n > 0 and w[n - 1] in _VARSON) and _is_vowel(w, n + 1):
                code.append("H")
        elif c in "FJLMNR":
            code.append(c)
        elif c == "K":
            if n == 0 or w[n - 1] != "C":
                code.append("K")
        elif c == "P":
            code.append("F" if nxt == "H" else "P")
        elif c == "Q":
            code.append("K")
        elif c == "S":
            if w[n : n + 2] == "SH" or w[n : n + 3] in ("SIO", "SIA"):
                code.append("X")
            else:
                code.append("S")
        elif c == "T":
            if w[n : n + 3] in ("TIA", "TIO"):
                code.append("X")
            elif w[n : n + 3] == "TCH":
                pass
            elif w[n : n + 2] == "TH":
                code.append("0")
            else:
                code.append("T")
        elif c == "V":
            code.append("F")
        elif c in "WY":
            if not last and _is_vowel(w, n + 1):
                code.append(c)
        elif c == "X":
            code.append("K")
            code.append("S")
        elif c == "Z":
            code.append("S")
        n += 1
    return "".join(code)[:CODE_LEN]


# ---------------------------------------------------------------------------
# Double Metaphone (Philips 2000, primary + alternate, 4-char codes)
# ---------------------------------------------------------------------------


def double_metaphone(value: str | None) -> tuple[str, str] | None:
    """(primary, alternate) Double Metaphone codes, or None for blank input
    (the commons-codec cleanInput contract the reference matcher relies on:
    blank → null → weight 0)."""
    if value is None:
        return None
    value = value.strip()
    if not value:
        return None
    w = value.upper()
    length = len(w)
    slavo = bool(re.search(r"W|K|CZ|WITZ", w))

    pri: list[str] = []
    alt: list[str] = []

    def add(p: str, a: str | None = None) -> None:
        if a is None:
            a = p
        pri.append(p)
        alt.append(a)

    def ch(i: int) -> str:
        return w[i] if 0 <= i < length else ""

    def contains(start: int, ln: int, *opts: str) -> bool:
        return w[start : start + ln] in opts if start >= 0 else False

    i = 0
    if w[:2] in ("GN", "KN", "PN", "WR", "PS"):
        i = 1
    if ch(0) == "X":
        add("S")
        i = 1

    while (len(pri) < CODE_LEN or len(alt) < CODE_LEN) and i < length:
        c = ch(i)
        if c in "AEIOUY":
            if i == 0:
                add("A")
            i += 1
        elif c == "B":
            add("P")
            i += 2 if ch(i + 1) == "B" else 1
        elif c == "\xc7":
            add("S")
            i += 1
        elif c == "C":
            # various Germanic / CH / CC cases
            if i > 1 and not _is_vowel(w, i - 2) and contains(i - 1, 3, "ACH") and (
                ch(i + 2) != "I" and (ch(i + 2) != "E" or contains(i - 2, 6, "BACHER", "MACHER"))
            ):
                add("K")
                i += 2
            elif i == 0 and contains(i, 6, "CAESAR"):
                add("S")
                i += 2
            elif contains(i, 4, "CHIA"):
                add("K")
                i += 2
            elif contains(i, 2, "CH"):
                if i > 0 and contains(i, 4, "CHAE"):
                    add("K", "X")
                elif (
                    i == 0
                    and (contains(i + 1, 5, "HARAC", "HARIS") or contains(i + 1, 3, "HOR", "HYM", "HIA", "HEM"))
                    and not contains(0, 5, "CHORE")
                ):
                    add("K")
                elif (
                    contains(0, 4, "VAN ", "VON ")
                    or contains(0, 3, "SCH")
                    or contains(i - 2, 6, "ORCHES", "ARCHIT", "ORCHID")
                    or contains(i + 2, 1, "T", "S")
                    or ((contains(i - 1, 1, "A", "O", "U", "E") or i == 0) and contains(i + 2, 1, "L", "R", "N", "M", "B", "H", "F", "V", "W", " "))
                ):
                    add("K")
                elif i > 0:
                    add("X" if contains(0, 2, "MC") else "K", "K")
                else:
                    add("X")
                i += 2
            elif contains(i, 2, "CZ") and not contains(i - 2, 4, "WICZ"):
                add("S", "X")
                i += 2
            elif contains(i + 1, 3, "CIA"):
                add("X")
                i += 3
            elif contains(i, 2, "CC") and not (i == 1 and ch(0) == "M"):
                if contains(i + 2, 1, "I", "E", "H") and not contains(i + 2, 2, "HU"):
                    if (i == 1 and ch(i - 1) == "A") or contains(i - 1, 5, "UCCEE", "UCCES"):
                        add("KS")
                    else:
                        add("X")
                    i += 3
                else:
                    add("K")
                    i += 2
            elif contains(i, 2, "CK", "CG", "CQ"):
                add("K")
                i += 2
            elif contains(i, 2, "CI", "CE", "CY"):
                if contains(i, 3, "CIO", "CIE", "CIA"):
                    add("S", "X")
                else:
                    add("S")
                i += 2
            else:
                add("K")
                if contains(i + 1, 2, " C", " Q", " G"):
                    i += 3
                elif contains(i + 1, 1, "C", "K", "Q") and not contains(i + 1, 2, "CE", "CI"):
                    i += 2
                else:
                    i += 1
        elif c == "D":
            if contains(i, 2, "DG"):
                if contains(i + 2, 1, "I", "E", "Y"):
                    add("J")
                    i += 3
                else:
                    add("TK")
                    i += 2
            elif contains(i, 2, "DT", "DD"):
                add("T")
                i += 2
            else:
                add("T")
                i += 1
        elif c == "F":
            add("F")
            i += 2 if ch(i + 1) == "F" else 1
        elif c == "G":
            if ch(i + 1) == "H":
                if i > 0 and not _is_vowel(w, i - 1):
                    add("K")
                    i += 2
                elif i == 0:
                    if ch(i + 2) == "I":
                        add("J")
                    else:
                        add("K")
                    i += 2
                elif (i > 1 and contains(i - 2, 1, "B", "H", "D")) or (
                    i > 2 and contains(i - 3, 1, "B", "H", "D")
                ) or (i > 3 and contains(i - 4, 1, "B", "H")):
                    i += 2
                else:
                    if i > 2 and ch(i - 1) == "U" and contains(i - 3, 1, "C", "G", "L", "R", "T"):
                        add("F")
                    elif i > 0 and ch(i - 1) != "I":
                        add("K")
                    i += 2
            elif ch(i + 1) == "N":
                if i == 1 and _is_vowel(w, 0) and not slavo:
                    add("KN", "N")
                elif not contains(i + 2, 2, "EY") and ch(i + 1) != "Y" and not slavo:
                    add("N", "KN")
                else:
                    add("KN")
                i += 2
            elif contains(i + 1, 2, "LI") and not slavo:
                add("KL", "L")
                i += 2
            elif i == 0 and (ch(i + 1) == "Y" or contains(i + 1, 2, "ES", "EP", "EB", "EL", "EY", "IB", "IL", "IN", "IE", "EI", "ER")):
                add("K", "J")
                i += 2
            elif (contains(i + 1, 2, "ER") or ch(i + 1) == "Y") and not contains(0, 6, "DANGER", "RANGER", "MANGER") and not contains(i - 1, 1, "E", "I") and not contains(i - 1, 3, "RGY", "OGY"):
                add("K", "J")
                i += 2
            elif contains(i + 1, 1, "E", "I", "Y") or contains(i - 1, 4, "AGGI", "OGGI"):
                if contains(0, 4, "VAN ", "VON ") or contains(0, 3, "SCH") or contains(i + 1, 2, "ET"):
                    add("K")
                elif contains(i + 1, 3, "IER"):
                    add("J")
                else:
                    add("J", "K")
                i += 2
            else:
                add("K")
                i += 2 if ch(i + 1) == "G" else 1
        elif c == "H":
            if (i == 0 or _is_vowel(w, i - 1)) and _is_vowel(w, i + 1):
                add("H")
                i += 2
            else:
                i += 1
        elif c == "J":
            if contains(i, 4, "JOSE") or contains(0, 4, "SAN "):
                if (i == 0 and ch(i + 4) == " ") or contains(0, 4, "SAN "):
                    add("H")
                else:
                    add("J", "H")
                i += 1
            else:
                if i == 0 and not contains(i, 4, "JOSE"):
                    add("J", "A")
                elif _is_vowel(w, i - 1) and not slavo and (ch(i + 1) == "A" or ch(i + 1) == "O"):
                    add("J", "H")
                elif i == length - 1:
                    add("J", " ")
                elif not contains(i + 1, 1, "L", "T", "K", "S", "N", "M", "B", "Z") and not contains(i - 1, 1, "S", "K", "L"):
                    add("J")
                i += 2 if ch(i + 1) == "J" else 1
        elif c == "K":
            add("K")
            i += 2 if ch(i + 1) == "K" else 1
        elif c == "L":
            if ch(i + 1) == "L":
                # spanish-style LL
                if (i == length - 3 and contains(i - 1, 4, "ILLO", "ILLA", "ALLE")) or (
                    (contains(length - 2, 2, "AS", "OS") or contains(length - 1, 1, "A", "O")) and contains(i - 1, 4, "ALLE")
                ):
                    add("L", " ")
                else:
                    add("L")
                i += 2
            else:
                add("L")
                i += 1
        elif c == "M":
            add("M")
            if (contains(i - 1, 3, "UMB") and (i + 1 == length - 1 or contains(i + 2, 2, "ER"))) or ch(i + 1) == "M":
                i += 2
            else:
                i += 1
        elif c == "N":
            add("N")
            i += 2 if ch(i + 1) == "N" else 1
        elif c == "\xd1":
            add("N")
            i += 1
        elif c == "P":
            if ch(i + 1) == "H":
                add("F")
                i += 2
            else:
                add("P")
                i += 2 if contains(i + 1, 1, "P", "B") else 1
        elif c == "Q":
            add("K")
            i += 2 if ch(i + 1) == "Q" else 1
        elif c == "R":
            if i == length - 1 and not slavo and contains(i - 2, 2, "IE") and not contains(i - 4, 2, "ME", "MA"):
                add("", "R")
            else:
                add("R")
            i += 2 if ch(i + 1) == "R" else 1
        elif c == "S":
            if contains(i - 1, 3, "ISL", "YSL"):
                i += 1
            elif i == 0 and contains(i, 5, "SUGAR"):
                add("X", "S")
                i += 1
            elif contains(i, 2, "SH"):
                if contains(i + 1, 4, "HEIM", "HOEK", "HOLM", "HOLZ"):
                    add("S")
                else:
                    add("X")
                i += 2
            elif contains(i, 3, "SIO", "SIA") or contains(i, 4, "SIAN"):
                add("S" if slavo else "S", "X" if not slavo else "S")
                if not slavo:
                    pri[-1] = "S"
                    alt[-1] = "X"
                i += 3
            elif (i == 0 and contains(i + 1, 1, "M", "N", "L", "W")) or contains(i + 1, 1, "Z"):
                add("S", "X")
                i += 2 if contains(i + 1, 1, "Z") else 1
            elif contains(i, 2, "SC"):
                if ch(i + 2) == "H":
                    if contains(i + 3, 2, "OO", "ER", "EN", "UY", "ED", "EM"):
                        if contains(i + 3, 2, "ER", "EN"):
                            add("X", "SK")
                        else:
                            add("SK")
                    else:
                        if i == 0 and not _is_vowel(w, 3) and ch(3) != "W":
                            add("X", "S")
                        else:
                            add("X")
                elif contains(i + 2, 1, "I", "E", "Y"):
                    add("S")
                else:
                    add("SK")
                i += 3
            else:
                if i == length - 1 and contains(i - 2, 2, "AI", "OI"):
                    add("", "S")
                else:
                    add("S")
                i += 2 if contains(i + 1, 1, "S", "Z") else 1
        elif c == "T":
            if contains(i, 4, "TION"):
                add("X")
                i += 3
            elif contains(i, 3, "TIA", "TCH"):
                add("X")
                i += 3
            elif contains(i, 2, "TH") or contains(i, 3, "TTH"):
                if contains(i + 2, 2, "OM", "AM") or contains(0, 4, "VAN ", "VON ") or contains(0, 3, "SCH"):
                    add("T")
                else:
                    add("0", "T")
                i += 2
            else:
                add("T")
                i += 2 if contains(i + 1, 1, "T", "D") else 1
        elif c == "V":
            add("F")
            i += 2 if ch(i + 1) == "V" else 1
        elif c == "W":
            if contains(i, 2, "WR"):
                add("R")
                i += 2
            else:
                if i == 0 and (_is_vowel(w, i + 1) or contains(i, 2, "WH")):
                    if _is_vowel(w, i + 1):
                        add("A", "F")
                    else:
                        add("A")
                if (i == length - 1 and _is_vowel(w, i - 1)) or contains(i - 1, 5, "EWSKI", "EWSKY", "OWSKI", "OWSKY") or contains(0, 3, "SCH"):
                    add("", "F")
                    i += 1
                elif contains(i, 4, "WICZ", "WITZ"):
                    add("TS", "FX")
                    i += 4
                else:
                    i += 1
        elif c == "X":
            if not (i == length - 1 and (contains(i - 3, 3, "IAU", "EAU") or contains(i - 2, 2, "AU", "OU"))):
                add("KS")
            i += 2 if contains(i + 1, 1, "C", "X") else 1
        elif c == "Z":
            if ch(i + 1) == "H":
                add("J")
                i += 2
            else:
                if contains(i + 1, 2, "ZO", "ZI", "ZA") or (slavo and i > 0 and ch(i - 1) != "T"):
                    add("S", "TS")
                else:
                    add("S")
                i += 2 if ch(i + 1) == "Z" else 1
        else:
            i += 1

    return "".join(pri)[:CODE_LEN], "".join(alt)[:CODE_LEN]


def double_metaphone_primary(value: str | None) -> str | None:
    dm = double_metaphone(value)
    return None if dm is None else dm[0]


# ---------------------------------------------------------------------------
# Cologne Phonetic (Postel's Kölner Phonetik)
# ---------------------------------------------------------------------------

_COLOGNE_PRE = {"\xc4": "A", "\xd6": "O", "\xdc": "U", "\xdf": "SS"}


def cologne_phonetic(text: str | None) -> str | None:
    """Kölner Phonetik code (digit string; '0's dropped except leading)."""
    if text is None:
        return None
    s = "".join(_COLOGNE_PRE.get(c, c) for c in text.upper())
    s = "".join(c for c in unicodedata.normalize("NFD", s) if "A" <= c <= "Z")
    if not s:
        return ""
    codes: list[str] = []
    n = len(s)
    for i, c in enumerate(s):
        # NB: empty-string membership ("" in "CSZ") is True in Python —
        # boundary letters must use a sentinel that matches nothing.
        prev = s[i - 1] if i > 0 else "^"
        nxt = s[i + 1] if i + 1 < n else "$"
        if c in "AEIJOUY":
            code = "0"
        elif c == "B":
            code = "1"
        elif c == "P":
            code = "3" if nxt == "H" else "1"
        elif c in "DT":
            code = "8" if nxt in "CSZ" else "2"
        elif c in "FVW":
            code = "3"
        elif c in "GKQ":
            code = "4"
        elif c == "C":
            if i == 0:
                code = "4" if nxt in "AHKLOQRUX" else "8"
            elif prev in "SZ":
                code = "8"
            elif nxt in "AHKOQUX":
                code = "4"
            else:
                code = "8"
        elif c == "X":
            code = "8" if prev in "CKQ" else "48"
        elif c == "L":
            code = "5"
        elif c in "MN":
            code = "6"
        elif c == "R":
            code = "7"
        elif c in "SZ":
            code = "8"
        else:  # H and anything else: no code
            continue
        codes.append(code)
    # collapse adjacent duplicates, then drop non-leading zeros
    flat = "".join(codes)
    out: list[str] = []
    for j, d in enumerate(flat):
        if j > 0 and flat[j - 1] == d:
            continue
        out.append(d)
    result = "".join(out)
    return result[0] + result[1:].replace("0", "") if result else ""


# ---------------------------------------------------------------------------
# SoundexFR (the reference's French Soundex2 variant)
# ---------------------------------------------------------------------------

_FR_G1 = [("GUI", "KI"), ("GUE", "KE"), ("GA", "KA"), ("GO", "KO"), ("GU", "K"),
          ("CA", "KA"), ("CO", "KO"), ("CU", "KU"), ("Q", "K"), ("CC", "K"), ("CK", "K")]
_FR_G2 = [("MAC", "MCC"), ("ASA", "AZA"), ("KN", "NN"), ("PF", "FF"), ("SCH", "SSS"), ("PH", "FF")]


def soundex_fr(s: str | None) -> str | None:
    """French Soundex per the reference's SoundexFR
    (`contribs/algorithm/SoundexFR.java:73-211`): 4-char padded code.
    Faithful to its quirks — global char-level vowel replacement, ordered
    group substitutions, positional H/Y/A removals."""
    if s is None:
        return None
    t = s.strip()
    if not t:
        return "    "
    t = t.upper()
    if len(t) == 1:
        return t + "   "
    # strip non-letters; fold diacritics
    t = "".join(
        c for c in (
            unicodedata.normalize("NFD", ch)[0] if ord(ch) > 191 else ch for ch in t
        )
        if c.isalpha()
    )
    for pat, rep in _FR_G1:
        t = t.replace(pat, rep)
    # vowels E,I,O,U (scanned from index 1) → replace ALL occurrences with A
    for i in range(1, len(t)):
        if t[i] in "EIOU":
            t = t.replace(t[i], "A")
    for pat, rep in _FR_G2:
        t = t.replace(pat, rep)
    # drop H unless preceded by C or S
    out: list[str] = []
    for c in t:
        if c == "H" and not (out and out[-1] in "CS"):
            continue
        out.append(c)
    # drop Y unless preceded by A
    out2: list[str] = []
    for c in out:
        if c == "Y" and not (out2 and out2[-1] == "A"):
            continue
        out2.append(c)
    if not out2:
        return "    "
    if out2[-1] in "ATDS":
        out2.pop()
    # drop non-leading A
    out3 = out2[:1] + [c for c in out2[1:] if c != "A"]
    # collapse runs of identical successive chars
    out4: list[str] = []
    for c in out3:
        if out4 and out4[-1] == c:
            continue
        out4.append(c)
    code = "".join(out4)[:4]
    return code.ljust(4)


# ---------------------------------------------------------------------------
# Matcher weights (the reference's code-difference semantics)
# ---------------------------------------------------------------------------


def code_difference(a: str | None, b: str | None) -> int:
    """Count of positions (over the shorter code) with equal characters
    (`utils/StringComparisonUtil.java:47-62`)."""
    if a is None or b is None:
        return 0
    return sum(1 for x, y in zip(a, b) if x == y)


def metaphone_weight(s1: str | None, s2: str | None) -> float:
    """MetaphoneMatcher.getWeight (`attribute/MetaphoneMatcher.java:49-62`)
    with AbstractAttributeMatcher null handling."""
    if s1 is None:
        return 1.0 if s2 is None else 0.0
    if s2 is None:
        return 0.0
    c1, c2 = metaphone(s1), metaphone(s2)
    mx = max(len(c1), len(c2))
    if mx == 0:
        return 1.0 if s1.lower() == s2.lower() else 0.0
    return code_difference(c1, c2) / mx


def double_metaphone_weight(s1: str | None, s2: str | None) -> float:
    """DoubleMetaphoneMatcher.getWeight
    (`attribute/DoubleMetaphoneMatcher.java:45-62`): primary-code difference;
    blank input encodes to null → 0."""
    if s1 is None:
        return 1.0 if s2 is None else 0.0
    if s2 is None:
        return 0.0
    c1 = double_metaphone_primary(s1)
    c2 = double_metaphone_primary(s2)
    if c1 is None or c2 is None:
        return 0.0
    mx = max(len(c1), len(c2))
    if mx == 0:
        return 1.0 if s1.lower() == s2.lower() else 0.0
    return code_difference(c1, c2) / mx


def soundex_fr_weight(s1: str | None, s2: str | None) -> float:
    """SoundexFRMatcher.getWeight (`attribute/SoundexFRMatcher.java:52-62`):
    difference over the fixed 4-char codes / 4."""
    if s1 is None:
        return 1.0 if s2 is None else 0.0
    if s2 is None:
        return 0.0
    return code_difference(soundex_fr(s1), soundex_fr(s2)) / 4.0
