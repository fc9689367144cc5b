"""Adversarial-input parity: native exprs vs Arrow kernel vs Python oracle
on a seeded fuzz corpus of edge-case strings (unicode, emoji, whitespace
zoo, long runs, empties, NULL, a 1 MB page) — the hardening behind the
feature-parity claim."""

import random
import string

import pyspark.sql.functions as F

from data_quality_spark.analyze import with_analysis
from data_quality_spark.functions.textstats import FEATURE_COLS, with_text_features
from data_quality_spark.pipeline import apply_quality_pipeline
from data_quality_spark.rules import RULE_NAMES
from data_quality_spark.scrub import scrub_expr, scrub_str

from .oracle import rule_verdicts

_EDGE_CASES = [
    "",
    " ",
    "\n",
    "\n\n\n",
    "a",
    "  leading and trailing  ",
    "tab\tsep\tvalues",
    "mixed 中文 and english words here",
    "ＦＵＬＬＷＩＤＴＨ　ｔｅｘｔ",
    "emoji 🎉 in 🎉 text 🎉 here",
    "café naïve résumé über",
    "x" * 5000,
    ("word " * 200).strip(),
    "- bullet one\n- bullet two\n- bullet three",
    "line one...\nline two...\nline three",
    "a.b@c.de and 10.0.0.1 and +1 (555) 123-4567",
    "ALL CAPS SHOUTING TEXT HERE",
    "123 456 789 0 numbers only",
    "!@#$ %^&* ()_+ symbols",
    "Ξ ξ Greek Ω characters",
    "русский текст на кириллице",
    "한국어 텍스트 조각",
    "ひらがな と カタカナ",
    " nbsp text",          # non-breaking spaces (NOT Java \s)
    "word​zero​width",     # zero-width space
    # whitespace Python's str.split() splits on and Java's \s does not
    "unit\x1csep\x1dgroup\x1erecord\x1funit separators",
    "next\x85line and line\u2028sep and para\u2029sep",
    "ideographic\u3000space",
    # Java \s beyond the space
    "vertical\x0btab form\ffeed carriage\rreturn",
    # case mappings with context or a length change
    "ΟΔΟΣ ΟΔΟΣ. ΣΟΦΟΣ",
    "İstanbul İİ",
    # NULL, empty and whitespace-only pages
    None,
    "\t\n",
    "\x0b",
    "\f\r \t",
    # a 1 MB page
    ("The quick brown fox, and the lazy dog... " * 25_000)[:1_000_000],
]


def _fuzz_corpus(n: int = 300, seed: int = 7) -> list[str]:
    rng = random.Random(seed)
    alphabet = string.ascii_letters + string.digits + " .,!?-\n\t'\"@#中文かcésöß"
    out = list(_EDGE_CASES)
    while len(out) < n:
        ln = rng.randrange(0, 400)
        out.append("".join(rng.choice(alphabet) for _ in range(ln)))
    return out


def test_feature_impls_agree_on_fuzz(spark):
    """Native feature expressions vs the feature columns of the production
    Arrow pass (`analyze.with_analysis`)."""
    corpus = _fuzz_corpus()
    df = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)], "i long, text string")
    nat = {
        r["i"]: tuple(r[c] for c in FEATURE_COLS)
        for r in with_text_features(df).collect()
    }
    arr = {
        r["i"]: tuple(r[c] for c in FEATURE_COLS)
        for r in with_analysis(df).collect()
    }
    bad = []
    for i in nat:
        if nat[i] != arr[i]:
            diffs = {
                c: (a, b)
                for c, a, b in zip(FEATURE_COLS, nat[i], arr[i])
                if a != b
            }
            bad.append((repr(corpus[i])[:60], diffs))
    assert not bad, bad[:5]


def test_scrub_impls_agree_on_fuzz(spark):
    corpus = _fuzz_corpus(seed=13)
    df = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)], "i long, text string")
    jvm = {r["i"]: r["s"] for r in df.select("i", scrub_expr(F.col("text")).alias("s")).collect()}
    for i, t in enumerate(corpus):
        if t is None:
            assert jvm[i] is None
        else:
            assert jvm[i].encode() == scrub_str(t).encode(), t[:60]


def test_pipeline_rule_verdicts_on_fuzz(spark):
    """Every rule verdict of the pipeline equals the oracle's on the fuzz
    corpus, whitespace-only pages included (`non_empty` strips Java's \\s,
    not just U+0020)."""
    corpus = _fuzz_corpus(seed=21)
    df = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)], "i long, text string")
    out = apply_quality_pipeline(df).select("i", *[f"rule_{n}" for n in RULE_NAMES]).collect()
    bad = []
    for r in out:
        want = rule_verdicts(corpus[r["i"]])
        bad += [(repr(corpus[r["i"]])[:60], n) for n in RULE_NAMES if r[f"rule_{n}"] != want[n]]
    assert not bad, bad[:5]
