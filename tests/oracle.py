"""Driver-side pure-Python oracle for the quality-filter rule spec.

Independent re-implementation of the per-row semantics (words, ratios,
n-grams, CJK gating, decision) used to golden-check the distributed Spark
implementation: same spec, different engine (Python scalars vs Catalyst
expressions).  The language-ID, perplexity and feature kernels are frozen
here in their straightforward per-page form (`ref_classify`, `ref_ppl`,
`ref_features`) — a per-language marker loop with seven script regexes,
one numpy pass per page, one regex per word — so a rewrite of the engine's
fast kernels that changes any output fails the gates instead of moving the
oracle with it.  Only the frozen model tables (markers, ranges, bigram
log-probs, stop words, the `LOWER_MAP` capitals) are shared.

Regex notes: Spark uses Java regex where `\\s` is ASCII-only, so this oracle
uses the explicit ASCII whitespace class everywhere.
"""

from __future__ import annotations

import re
import unicodedata

import numpy as np

from data_quality_spark import rules as R
from data_quality_spark.functions.textstats import FEATURE_COLS, LOWER_MAP, STOPWORDS
from data_quality_spark.langid import _CHAR_RANGES, _MARKERS, UNKNOWN
from data_quality_spark.perplexity import _MAX_CHARS, _TABLE
from data_quality_spark.scrub import scrub_str
from data_quality_spark.decide import ALLOWED_LANGS, MAX_PERPLEXITY

_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_STOPSET = set(STOPWORDS)
_CJK_RANGES = ((0x3040, 0x30FF), (0x4E00, 0x9FFF), (0xAC00, 0xD7AF))


def _words(text: str) -> list[str]:
    return [w for w in _WS.split(text) if w]


def _lower(w: str) -> str:
    """Spark's `lower`: Python's Unicode tables lack the `LOWER_MAP` capitals."""
    return w.translate(LOWER_MAP).lower()


def _is_symbol(ch: str) -> bool:
    if ch in " \t\n\x0b\f\r":
        return False
    cat = unicodedata.category(ch)
    return not (cat.startswith("L") or cat.startswith("N"))


def _cjk_ratio(text: str) -> float:
    if not text:
        return 0.0
    cjk = sum(1 for ch in text if any(lo <= ord(ch) <= hi for lo, hi in _CJK_RANGES))
    return cjk / len(text)


def _dup_ngram_fraction(ws: list[str], n: int) -> float:
    if len(ws) < n:
        return 0.0
    grams = [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]
    return 1.0 - len(set(grams)) / len(grams)


def rule_verdicts(text: str | None) -> dict[str, bool]:
    """One boolean per rule, matching rules.RULES semantics exactly."""
    v: dict[str, bool] = {}
    if text is None:
        return {name: False for name in R.RULE_NAMES}
    v["non_empty"] = text.strip(" \t\n\x0b\f\r") != ""
    cjk_gate = _cjk_ratio(text) > R.CJK_GATE_RATIO
    ws = _words(text)
    lws = [_lower(w) for w in ws]
    wc = len(ws)

    def gated(val: bool) -> bool:
        return True if cjk_gate else val

    v["word_count"] = gated(R.MIN_WORDS <= wc <= R.MAX_WORDS)
    if wc:
        mwl = sum(len(w) for w in ws) / wc
        v["mean_word_length"] = gated(R.MIN_MEAN_WORD_LEN <= mwl <= R.MAX_MEAN_WORD_LEN)
    else:
        v["mean_word_length"] = gated(False)
    if text:
        sym = sum(1 for ch in text if _is_symbol(ch)) / len(text)
    else:
        sym = 0.0
    v["symbol_ratio"] = sym <= R.MAX_SYMBOL_RATIO
    v["stopwords"] = gated(sum(1 for w in lws if w in _STOPSET) >= R.MIN_STOPWORD_COUNT)
    v["dup_2gram"] = gated(_dup_ngram_fraction(lws, 2) <= R.MAX_DUP_2GRAM_FRACTION)
    v["dup_3gram"] = gated(_dup_ngram_fraction(lws, 3) <= R.MAX_DUP_3GRAM_FRACTION)
    if wc:
        v["distinct_words"] = gated(len(set(lws)) / wc >= R.MIN_DISTINCT_WORD_RATIO)
    else:
        v["distinct_words"] = gated(False)
    if wc:
        alpha = sum(1 for w in ws if any(unicodedata.category(c).startswith("L") for c in w)) / wc
    else:
        alpha = 0.0
    v["alpha_words"] = gated(alpha >= R.MIN_ALPHA_WORD_FRACTION)
    v["char_count_cjk"] = (
        R.MIN_CHARS_CJK <= len(text) <= R.MAX_CHARS_CJK if cjk_gate else True
    )
    lines = text.split("\n")
    bullets = sum(1 for l in lines if re.match(r"^[-*•]", l.strip(" ")))
    v["bullet_lines"] = bullets / len(lines) <= R.MAX_BULLET_LINE_FRACTION
    ell = sum(1 for l in lines if re.search(r"(\.\.\.|…)[ \t\x0b\f\r]*$", l))
    v["ellipsis_lines"] = ell / len(lines) <= R.MAX_ELLIPSIS_LINE_FRACTION
    return v


# --- frozen reference kernels ------------------------------------------------

_RE_LETTER = re.compile(r"[^\W\d_]")
_RE_RANGES = tuple((lang, re.compile(f"[{chr(lo)}-{chr(hi)}]")) for lang, lo, hi in _CHAR_RANGES)
_TOK_STRIP = ".,;:!?()[]\"'"
_MARKER_SETS = {k: frozenset(v) for k, v in _MARKERS.items()}


def ref_classify(s: str) -> tuple[str, float]:
    """(lang, conf) of the heuristic language model, one language at a time."""
    head = s[:2000]
    n = len(_RE_LETTER.findall(head))
    if n:
        for lang, rex in _RE_RANGES:
            hits = len(rex.findall(head))
            if hits / n > 0.30:
                return lang, round(hits / n, 4)
    toks = head.split()[:400]
    if not toks:
        return UNKNOWN, 0.0
    best_lang, best_hits = UNKNOWN, 0
    for lang, mset in _MARKER_SETS.items():
        hits = 0
        for w in toks:
            if w.strip(_TOK_STRIP).lower() in mset:
                hits += 1
        if hits > best_hits:
            best_lang, best_hits = lang, hits
    if best_hits == 0:
        return UNKNOWN, 0.0
    return best_lang, round(min(1.0, best_hits / max(1, len(toks)) * 5.0), 4)


_RE_WS_RUN = re.compile(r"\s+", re.UNICODE)


def ref_ppl(s: str) -> float:
    """Char-bigram perplexity of one page, scored on its own."""
    ns = _RE_WS_RUN.sub("_", s.lower())
    if len(ns) < 2:
        return float("inf")
    u = np.frombuffer(ns.encode("utf-16-le"), dtype="<u2").astype("int64")
    if len(u) < 2:
        return float("inf")
    cls = np.full(u.shape, 27, dtype="int64")
    alpha = (u >= 97) & (u <= 122)
    cls[alpha] = u[alpha] - 97
    cls[u == 95] = 26
    lp = _TABLE[cls[:-1], cls[1:]]
    avg_log2 = float(lp.sum()) / (len(u) - 1)
    return round(2.0 ** (-avg_log2), 4)


_RE_SYM = re.compile(r"[^\w \t\n\x0b\f\r]|_")
_RE_CJK = re.compile("[\u3040-\u30FF\u4E00-\u9FFF\uAC00-\uD7AF]")
_RE_BULLET = re.compile(r"^[-*•]")
_RE_ELLIPSIS = re.compile(r"(\.\.\.|…)[ \t\x0b\f\r]*$")


def ref_features(t: str | None) -> tuple:
    """FEATURE_COLS of one page: Java-\\s words, one regex per word."""
    if t is None:
        return tuple([None] * len(FEATURE_COLS))
    ws = _words(t)
    lws = [_lower(w) for w in ws]
    nw = len(ws)
    g2 = list(zip(lws, lws[1:])) if nw >= 2 else []
    g3 = list(zip(lws, lws[1:], lws[2:])) if nw >= 3 else []
    lines = t.split("\n")
    return (
        len(t),
        nw,
        sum(len(w) for w in ws),
        sum(1 for w in lws if w in _STOPSET),
        len(set(lws)),
        len(g2),
        len(set(g2)),
        len(g3),
        len(set(g3)),
        len(_RE_SYM.findall(t)),
        len(_RE_CJK.findall(t)),
        sum(1 for w in ws if _RE_LETTER.search(w)),
        len(lines),
        sum(1 for l in lines if _RE_BULLET.match(l.strip(" "))),
        sum(1 for l in lines if _RE_ELLIPSIS.search(l)),
    )


def ref_analysis(t: str | None) -> tuple:
    """One row of `analyze.analyze_text`: features, lang, conf, ppl."""
    if t is None or not t.strip():
        return (*ref_features(t), UNKNOWN, 0.0, float("inf"))
    return (*ref_features(t), *ref_classify(t), ref_ppl(t[:_MAX_CHARS]))


def label_row(text: str | None) -> dict:
    """Full oracle verdict for one document: rules, lang, ppl, keep, the
    failed checks' names (rules in registry order, then language, then
    perplexity), scrub."""
    verdicts = rule_verdicts(text)
    if text is None or not text.strip():
        lang, ppl = "und", float("inf")
    else:
        lang, _conf = ref_classify(text)
        ppl = ref_ppl(text[:_MAX_CHARS])
    lang_ok = lang in ALLOWED_LANGS
    ppl_ok = (ppl <= MAX_PERPLEXITY) if lang == "en" else True
    keep = all(verdicts.values()) and lang_ok and ppl_ok
    reasons = [name for name in R.RULE_NAMES if not verdicts[name]]
    if not lang_ok:
        reasons.append("language")
    if not ppl_ok:
        reasons.append("perplexity")
    return {
        "verdicts": verdicts,
        "lang": lang,
        "ppl": ppl,
        "keep": keep,
        "reasons": reasons,
        "scrubbed": scrub_str(text),
    }
