"""Japanese text operators (reference: dataquality-text-japanese).

The reference wraps kuromoji for tokenization (`jp/tokenization/
TextTokenizer.java:21-40`) and ships transliteration maps
(`jp/transliteration/KatakanaToRomaji.java:22`) plus kanji-number
normalization (`jp/numbers/JapaneseNumberNormalizer.java:19`).

Here: transliteration and number normalization are deterministic map/rule
kernels (pure Python, no dictionary jars) exposed as Arrow UDFs.
Tokenization is not ported (no query needs it).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# --- katakana → romaji (Hepburn-ish, digraphs first) ------------------------

_KATAKANA_DIGRAPHS = {
    "キャ": "kya", "キュ": "kyu", "キョ": "kyo", "シャ": "sha", "シュ": "shu",
    "ショ": "sho", "チャ": "cha", "チュ": "chu", "チョ": "cho", "ニャ": "nya",
    "ニュ": "nyu", "ニョ": "nyo", "ヒャ": "hya", "ヒュ": "hyu", "ヒョ": "hyo",
    "ミャ": "mya", "ミュ": "myu", "ミョ": "myo", "リャ": "rya", "リュ": "ryu",
    "リョ": "ryo", "ギャ": "gya", "ギュ": "gyu", "ギョ": "gyo", "ジャ": "ja",
    "ジュ": "ju", "ジョ": "jo", "ビャ": "bya", "ビュ": "byu", "ビョ": "byo",
    "ピャ": "pya", "ピュ": "pyu", "ピョ": "pyo",
}
_KATAKANA_BASE = {
    "ア": "a", "イ": "i", "ウ": "u", "エ": "e", "オ": "o",
    "カ": "ka", "キ": "ki", "ク": "ku", "ケ": "ke", "コ": "ko",
    "サ": "sa", "シ": "shi", "ス": "su", "セ": "se", "ソ": "so",
    "タ": "ta", "チ": "chi", "ツ": "tsu", "テ": "te", "ト": "to",
    "ナ": "na", "ニ": "ni", "ヌ": "nu", "ネ": "ne", "ノ": "no",
    "ハ": "ha", "ヒ": "hi", "フ": "fu", "ヘ": "he", "ホ": "ho",
    "マ": "ma", "ミ": "mi", "ム": "mu", "メ": "me", "モ": "mo",
    "ヤ": "ya", "ユ": "yu", "ヨ": "yo",
    "ラ": "ra", "リ": "ri", "ル": "ru", "レ": "re", "ロ": "ro",
    "ワ": "wa", "ヲ": "wo", "ン": "n",
    "ガ": "ga", "ギ": "gi", "グ": "gu", "ゲ": "ge", "ゴ": "go",
    "ザ": "za", "ジ": "ji", "ズ": "zu", "ゼ": "ze", "ゾ": "zo",
    "ダ": "da", "ヂ": "ji", "ヅ": "zu", "デ": "de", "ド": "do",
    "バ": "ba", "ビ": "bi", "ブ": "bu", "ベ": "be", "ボ": "bo",
    "パ": "pa", "ピ": "pi", "プ": "pu", "ペ": "pe", "ポ": "po",
    "ー": "-", "・": " ",
}


def katakana_to_romaji_str(s: str | None) -> str | None:
    """Deterministic Hepburn-ish transliteration (KatakanaToRomaji analog).
    Sokuon (ッ) doubles the next consonant; non-katakana chars pass through."""
    if s is None:
        return None
    out = []
    i = 0
    while i < len(s):
        if s[i] == "ッ" and i + 1 < len(s):
            nxt = _KATAKANA_DIGRAPHS.get(s[i + 1 : i + 3]) or _KATAKANA_BASE.get(s[i + 1])
            out.append(nxt[0] if nxt else "")
            i += 1
            continue
        pair = s[i : i + 2]
        if pair in _KATAKANA_DIGRAPHS:
            out.append(_KATAKANA_DIGRAPHS[pair])
            i += 2
            continue
        out.append(_KATAKANA_BASE.get(s[i], s[i]))
        i += 1
    return "".join(out)


# --- kanji numbers → arabic -------------------------------------------------

_KANJI_DIGITS = {"〇": 0, "零": 0, "一": 1, "二": 2, "三": 3, "四": 4,
                 "五": 5, "六": 6, "七": 7, "八": 8, "九": 9}
_KANJI_SMALL = {"十": 10, "百": 100, "千": 1000}
_KANJI_BIG = {"万": 10_000, "億": 100_000_000, "兆": 1_000_000_000_000}


def kanji_number_to_int(s: str) -> int | None:
    """Parse a kanji numeral (JapaneseNumberNormalizer core rule: positional
    small units accumulate into big units).  Returns None when `s` contains
    non-numeral chars."""
    if not s:
        return None
    total = 0
    section = 0
    digit = 0
    for ch in s:
        if ch in _KANJI_DIGITS:
            digit = digit * 10 + _KANJI_DIGITS[ch]
        elif ch in _KANJI_SMALL:
            section += (digit if digit else 1) * _KANJI_SMALL[ch]
            digit = 0
        elif ch in _KANJI_BIG:
            total += (section + digit if (section + digit) else 1) * _KANJI_BIG[ch]
            section = 0
            digit = 0
        else:
            return None
    return total + section + digit


def normalize_japanese_numbers_str(s: str | None) -> str | None:
    """Replace kanji-numeral runs with arabic digits in running text."""
    import re

    if s is None:
        return None
    pat = re.compile("[〇零一二三四五六七八九十百千万億兆]+")

    def sub(m):
        v = kanji_number_to_int(m.group(0))
        return str(v) if v is not None else m.group(0)

    return pat.sub(sub, s)


# --- Spark wrappers ---------------------------------------------------------


@F.pandas_udf(StringType())
def katakana_to_romaji(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for s in batches:
        yield s.map(katakana_to_romaji_str)


@F.pandas_udf(StringType())
def normalize_japanese_numbers(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for s in batches:
        yield s.map(normalize_japanese_numbers_str)
