"""Language identification kernel of the fused analysis UDF.

Production path: fastText `lid.176.bin` loaded lazily once per executor
(the reference's lazy-singleton tokenizer pattern,
`dataquality-text-japanese/.../TextTokenizer.java:25-44`); the fused
`analyze.analyze_text` UDF calls `_get_model()._classify(text)` per page.

Sandbox path (no fastText wheel in this container): a deterministic
character-range + stop-word-profile classifier with the SAME `_classify`
interface, so swapping the model is a one-line change.
Pure function of the input text — invariant under partitioning/parallelism.
"""

from __future__ import annotations

import re
from itertools import repeat

# Per-language marker words (function words, frozen).  Deliberately small:
# this is a deterministic sandbox stand-in, not a linguistics claim.
_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "was", "for", "with", "this"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "für", "auf", "ich"),
    "fr": ("le", "la", "les", "et", "est", "une", "que", "pour", "dans", "nous", "vous", "pas"),
    "es": ("el", "la", "los", "las", "y", "es", "una", "que", "por", "para", "con", "del"),
    "it": ("il", "la", "che", "e", "è", "una", "per", "con", "del", "non", "sono", "questo"),
    "pt": ("o", "a", "os", "as", "e", "é", "uma", "que", "por", "para", "com", "não"),
    "nl": ("de", "het", "een", "en", "is", "van", "dat", "niet", "met", "voor", "zijn", "ik"),
}

_CHAR_RANGES: tuple[tuple[str, int, int], ...] = (
    # (lang, lo, hi) — if >30% of letters fall in the range, classify directly.
    ("zh", 0x4E00, 0x9FFF),
    ("ja", 0x3040, 0x30FF),
    ("ko", 0xAC00, 0xD7AF),
    ("ru", 0x0400, 0x04FF),
    ("ar", 0x0600, 0x06FF),
    ("el", 0x0370, 0x03FF),
    ("he", 0x0590, 0x05FF),
)
_SCRIPT_SHARE = 0.30
# compiled once — classification runs at C speed (findall), not per-char Python
_RE_NON_LETTER = re.compile(r"[\W\d_]")  # complement of the letters [^\W\d_]
_RE_RANGE: tuple[tuple[str, re.Pattern], ...] = tuple(
    (lang, re.compile(f"[{chr(lo)}-{chr(hi)}]")) for lang, lo, hi in _CHAR_RANGES
)
# The ranges are disjoint, so the union's hit count bounds each range's: a
# union share <= _SCRIPT_SHARE means no single range can exceed it.  Every
# range lies above U+036F, so ASCII text never hits any of them, and text
# with no hit in the union needs no letter count.
_RE_ANY_RANGE = re.compile(
    "[" + "".join(f"{chr(lo)}-{chr(hi)}" for _, lo, hi in _CHAR_RANGES) + "]"
)
_TOK_STRIP = ".,;:!?()[]\"'"
_LANGS: tuple[str, ...] = tuple(_MARKERS)
# normalized token → one _HIT_BITS-wide counter field per language it marks
# (field i = i-th language of _MARKERS): summing the values of at most 400
# tokens counts every language's hits at once, and no field can overflow
_HIT_BITS = 10
_TOKEN_HITS: dict[str, int] = {}
for _i, _words in enumerate(_MARKERS.values()):
    for _w in set(_words):
        _TOKEN_HITS[_w] = _TOKEN_HITS.get(_w, 0) + (1 << (_HIT_BITS * _i))

UNKNOWN = "und"


class _HeuristicLangModel:
    """Deterministic fallback model: `_classify(text) -> (lang, conf)`."""

    @staticmethod
    def _classify(s: str) -> tuple[str, float]:
        # 1. script detection over the first 2000 code points
        head = s[:2000]
        if not head.isascii() and _RE_ANY_RANGE.search(head):
            n = len(head) - len(_RE_NON_LETTER.findall(head))  # letters
            if n and len(_RE_ANY_RANGE.findall(head)) / n > _SCRIPT_SHARE:
                for lang, rex in _RE_RANGE:
                    hits = len(rex.findall(head))
                    if hits / n > _SCRIPT_SHARE:
                        return lang, round(hits / n, 4)
        # 2. marker-word profile over the first 400 tokens: each token is
        # normalized once and looked up once
        toks = head.split()[:400]
        if not toks:
            return UNKNOWN, 0.0
        norm = map(str.lower, map(str.strip, toks, repeat(_TOK_STRIP)))
        packed = sum(map(_TOKEN_HITS.get, norm, repeat(0)))
        mask = (1 << _HIT_BITS) - 1
        hits = [(packed >> (_HIT_BITS * i)) & mask for i in range(len(_LANGS))]
        best_hits = max(hits)
        if best_hits == 0:
            return UNKNOWN, 0.0
        # first language in _MARKERS order with the most hits
        best_lang = _LANGS[hits.index(best_hits)]
        return best_lang, round(min(1.0, best_hits / len(toks) * 5.0), 4)


_MODEL = None


def _get_model():
    """Lazy per-worker singleton (load once per executor process)."""
    global _MODEL
    if _MODEL is None:
        try:  # real model if available in the image — public fastText API
            import fasttext  # noqa: F401  (not present in sandbox)

            class _FastTextModel:
                def __init__(self):
                    self._m = fasttext.load_model("lid.176.bin")

                def _classify(self, s: str) -> tuple[str, float]:
                    lab, p = self._m.predict(s.replace("\n", " "))
                    return lab[0].replace("__label__", ""), float(p[0])

            _MODEL = _FastTextModel()
        except ImportError:
            _MODEL = _HeuristicLangModel()
    return _MODEL
