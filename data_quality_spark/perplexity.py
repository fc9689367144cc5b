"""N-gram language-model perplexity kernel of the fused analysis UDF.

Production path: a KenLM binary model memory-mapped once per executor
(lazy singleton, same pattern as langid).  Sandbox path: a deterministic
interpolated character-bigram model with frozen English letter-transition
statistics — same interface: `_ppl(text)` per page and `_ppl_batch(texts)`
for the Arrow batches of `analyze.analyze_text`.

Perplexity here = exp(-mean log2... ) convention: we report
``ppl = 2 ** (-avg_log2_prob_per_char)``; junk (symbol soup, repeated
chars, non-prose) scores high, English-like prose scores low.  Pure
per-row function — deterministic under any partitioning.
"""

from __future__ import annotations

import numpy as np

# Frozen English letter-bigram log-probabilities (coarse, derived from
# classic letter-frequency tables; smoothed).  Keys: 'ab' etc. over
# a-z + space ('_' denotes space).  Only the most frequent transitions are
# listed; everything else backs off to a uniform floor.
_COMMON_BIGRAMS: dict[str, float] = {
    "th": -3.0, "he": -3.1, "in": -3.2, "er": -3.3, "an": -3.3, "re": -3.4,
    "on": -3.5, "at": -3.5, "en": -3.5, "nd": -3.6, "ti": -3.6, "es": -3.6,
    "or": -3.7, "te": -3.7, "of": -3.7, "ed": -3.8, "is": -3.8, "it": -3.8,
    "al": -3.8, "ar": -3.8, "st": -3.9, "to": -3.9, "nt": -3.9, "ng": -4.0,
    "se": -4.0, "ha": -4.0, "as": -4.0, "ou": -4.0, "io": -4.1, "le": -4.1,
    "ve": -4.1, "co": -4.1, "me": -4.1, "de": -4.2, "hi": -4.2, "ri": -4.2,
    "ro": -4.2, "ic": -4.2, "ne": -4.2, "ea": -4.2, "ra": -4.3, "ce": -4.3,
    "li": -4.3, "ch": -4.3, "ll": -4.3, "be": -4.3, "ma": -4.3, "si": -4.3,
    "om": -4.4, "ur": -4.4, "ca": -4.4, "el": -4.4, "ta": -4.4, "la": -4.4,
    "ns": -4.4, "di": -4.4, "fo": -4.4, "ho": -4.4, "pe": -4.4, "ec": -4.5,
    "pr": -4.5, "no": -4.5, "ct": -4.5, "us": -4.5, "ac": -4.5, "ot": -4.5,
    "il": -4.5, "tr": -4.5, "ly": -4.5, "nc": -4.5, "et": -4.5, "ut": -4.5,
    "ss": -4.6, "so": -4.6, "rs": -4.6, "un": -4.6, "lo": -4.6, "wa": -4.6,
    "ge": -4.6, "ie": -4.6, "wh": -4.6, "ee": -4.6, "wi": -4.6, "em": -4.6,
    "ad": -4.6, "ol": -4.6, "rt": -4.6, "po": -4.6, "we": -4.6, "na": -4.6,
    "ul": -4.7, "ni": -4.7, "ts": -4.7, "mo": -4.7, "ow": -4.7, "pa": -4.7,
    "im": -4.7, "mi": -4.7, "ai": -4.7, "sh": -4.7, "ir": -4.7, "su": -4.7,
    "id": -4.7, "os": -4.7, "iv": -4.7, "ia": -4.7, "am": -4.7, "fi": -4.7,
    "ci": -4.7, "vi": -4.7, "pl": -4.7, "ig": -4.7, "tu": -4.7, "ev": -4.8,
    "ld": -4.8, "ry": -4.8, "mp": -4.8, "fe": -4.8, "bl": -4.8, "ab": -4.8,
    "gh": -4.8, "ty": -4.8, "op": -4.8, "wo": -4.8, "sa": -4.8, "ay": -4.8,
    "ex": -4.8, "ke": -4.8, "fr": -4.8, "oo": -4.8, "av": -4.8, "ag": -4.8,
    "if": -4.8, "ap": -4.8, "gr": -4.8, "od": -4.8, "bo": -4.8, "sp": -4.9,
    "rd": -4.9, "do": -4.9, "uc": -4.9, "bu": -4.9, "ei": -4.9, "ov": -4.9,
    "by": -4.9, "rm": -4.9, "ep": -4.9, "tt": -4.9, "ye": -4.9, "ny": -4.9,
    "ck": -4.9, "ui": -4.9, "ru": -4.9, "um": -4.9, "pp": -4.9, "da": -4.9,
    # space transitions — word boundaries are frequent in prose
    "e_": -2.9, "s_": -3.1, "t_": -3.2, "d_": -3.3, "n_": -3.3, "y_": -3.5,
    "r_": -3.6, "o_": -3.6, "f_": -3.8, "a_": -3.8, "g_": -3.9, "h_": -3.9,
    "l_": -4.0, "k_": -4.3, "m_": -4.3, "p_": -4.5, "w_": -4.6, "c_": -4.7,
    "_t": -2.9, "_a": -3.1, "_i": -3.3, "_s": -3.4, "_o": -3.4, "_w": -3.5,
    "_c": -3.6, "_b": -3.7, "_p": -3.7, "_h": -3.7, "_f": -3.8, "_m": -3.8,
    "_d": -3.9, "_r": -4.0, "_e": -4.0, "_l": -4.1, "_n": -4.2, "_g": -4.3,
    "_u": -4.4, "_v": -4.6, "_j": -4.9, "_k": -4.9, "_q": -5.2, "_y": -5.2,
}
_FLOOR = -7.5       # unseen a-z/space bigram
_NON_ALPHA = -8.5   # bigram touching a non [a-z ] char — junk signal
_MAX_CHARS = 4000   # score a bounded prefix; cost O(1) per doc at 100 TB


def _normalize(s: str) -> str:
    """Lowercase and collapse every whitespace run to one '_'.  str.split()
    splits on exactly the runs of str.isspace() characters, the per-char
    collapse rule; a leading or trailing run keeps its '_'."""
    s = s.lower()
    words = s.split()
    if not words:
        return "_" if s else ""
    ns = "_".join(words)
    if s[0].isspace():
        ns = "_" + ns
    if s[-1].isspace():
        ns += "_"
    return ns


# 28-class alphabet: a-z → 0-25, '_' (collapsed whitespace) → 26, other → 27.
# _TABLE[i,j] = log2 prob of the bigram — built once; scoring is a pair of
# vectorized numpy lookups (the per-char Python loop was the dominant cost
# of the fused analysis stage).
def _build_table() -> np.ndarray:
    t = np.full((28, 28), _NON_ALPHA, dtype="float64")
    t[:27, :27] = _FLOOR
    for bg, lp in _COMMON_BIGRAMS.items():
        i = 26 if bg[0] == "_" else ord(bg[0]) - 97
        j = 26 if bg[1] == "_" else ord(bg[1]) - 97
        t[i, j] = lp
    return t


_TABLE = _build_table()
# class of every utf-16 code unit (astral chars appear as surrogates —
# class 27, exactly what "other" means)
_CLASS = np.full(65536, 27, dtype=np.uint8)
_CLASS[97:123] = np.arange(26)
_CLASS[95] = 26
# pages scored in one numpy pass; with _MAX_CHARS prefixes this bounds the
# arrays of one pass at a few MB whatever the Arrow batch size
_GROUP = 256


def _ppl_group(texts: list[str]) -> list[float]:
    """Perplexity of each text.  The code units of all texts are classified
    and their bigram log-probs gathered in one pass; each text then sums its
    own contiguous slice, which gives the same pairwise sum as summing that
    slice alone."""
    norm = list(map(_normalize, texts))
    units = [x.encode("utf-16-le") for x in norm]
    cls = _CLASS[np.frombuffer(b"".join(units), dtype="<u2")]
    lp = _TABLE[cls[:-1], cls[1:]]
    out: list[float] = []
    start = 0
    for x, b in zip(norm, units):
        n = len(b) // 2
        if len(x) < 2:
            out.append(float("inf"))
        else:
            # denominator = number of code-unit transitions (astral chars
            # occupy two units; numerator and denominator must count the
            # same pairs)
            avg_log2 = float(lp[start : start + n - 1].sum()) / (n - 1)
            out.append(round(2.0 ** (-avg_log2), 4))
        start += n
    return out


class _CharBigramLM:
    """Deterministic fallback LM: `_ppl(text)` per page, `_ppl_batch(texts)`
    for the fused UDF's Arrow batches — the same values."""

    @staticmethod
    def _ppl(s: str) -> float:
        return _ppl_group([s])[0]

    @staticmethod
    def _ppl_batch(texts: list[str]) -> list[float]:
        out: list[float] = []
        for k in range(0, len(texts), _GROUP):
            out += _ppl_group(texts[k : k + _GROUP])
        return out


_LM = None


def _get_lm():
    global _LM
    if _LM is None:
        try:  # real KenLM if present (public PyPI `kenlm`)
            import kenlm  # noqa: F401

            class _KenLM:
                def __init__(self):
                    import os

                    path = os.environ.get("DQS_KENLM_MODEL", "")
                    self._m = kenlm.Model(path)

                def _ppl(self, s: str) -> float:
                    s = s.replace("\n", " ")
                    words = s.split()
                    if not words:
                        return float("inf")
                    lp = self._m.score(s, bos=True, eos=True)
                    return 10.0 ** (-lp / max(1, len(words) + 1))

                def _ppl_batch(self, texts: list[str]) -> list[float]:
                    return [self._ppl(s) for s in texts]

            _LM = _KenLM()
        except ImportError:
            _LM = _CharBigramLM()
    return _LM
