"""Size-skewed pages for the `flagship_longdocs` workload.

Text lengths follow a log-normal distribution (median LENGTH_MEDIAN
chars, shape LENGTH_SIGMA) with a tail into the MB range.  The lengths are
the stratified quantiles of that distribution: row i gets stratum
`_stratum(seed, i, n)`, the length at the middle of that stratum and the
stratum's language.  So every seed yields the same multiset of (length,
language) pairs (about the same total bytes, the same largest page), and
the seed decides which row gets which pair and all of the words.  The stratum layout also spreads the long pages evenly over
the GEN_PARTITIONS input files, so no seed piles the largest pages into
one file.

Every row is a pure function of (seed, i, n): the table is the same at
any Spark parallelism.  It has the pipeline's input schema
(`schema.PAGES_SCHEMA`).
"""

from __future__ import annotations

import math
import random
from collections.abc import Iterator
from datetime import datetime, timedelta, timezone
from statistics import NormalDist

import pandas as pd

LENGTH_MEDIAN = 3000          # chars
LENGTH_SIGMA = 2.0            # log-normal shape: p99 ≈ 100x the median
LENGTH_MIN = 20
GEN_PARTITIONS = 8            # input files; fixed so rows never depend on parallelism

_WORDS = {
    "en": (
        "the and of to in is that it was for with this at on as by from but "
        "not are have which one all were when there can their been has more "
        "river market window morning history committee proposal weather garden "
        "people exercise children street bread fruit storm village library "
        "engine country harbour evening council journey research station"
    ).split(),
    "de": (
        "der die das und ist ein eine mit nicht auf im den zu von sich des "
        "Garten Straße Fenster Gesundheit Bewegung schnelle braune ruhige "
        "Stadt leer kalter Tag Hund über faulen Leute glauben wichtig"
    ).split(),
    "fr": (
        "le la les et est une que pour dans pas des du sur avec plus "
        "fenêtre rue calme maison santé sport important pluie enfants parc "
        "renard brun rapide chien paresseux village après jouer"
    ).split(),
    "es": (
        "el la los las y es por para con del se en un una que más "
        "ventana calle tranquila salud ejercicio importante tormenta niños "
        "parque zorro marrón rápido perro perezoso jardín después jugar"
    ).split(),
}
_ZH = "这是一个安静的小镇历史比大多数游客想象的要长得多她打开窗户看着下面街道和远处山许人认为经常锻炼对身体健康非重暴风雨过后孩子们出去在公园里玩耍了"
# language of stratum j: _LANG_MIX[j % 10], so every seed pairs the same
# lengths with the same languages (UTF-8 size and kernel cost depend on both)
_LANG_MIX = ("en", "en", "en", "en", "zh", "en", "en", "de", "fr", "es")
_PII = (
    "mail jane.roe{k}@example.org today",
    "phone +1 (555) 201-{k:04d} now",
    "host 10.0.{a}.{b} is up",
    "id 321-54-{k:04d} on file",
    "that was a toxicterm remark",
)


def _stratum(seed: int, i: int, n: int) -> int:
    """Length stratum of row i.  Input file p holds rows [p*m, (p+1)*m),
    m = n / GEN_PARTITIONS; its k-th row gets a stratum from block k, at
    the slot the seed's rotation gives file p.  So each file holds one
    row of every block of GEN_PARTITIONS consecutive strata."""
    m = n // GEN_PARTITIONS
    p, k = divmod(i, m)
    return k * GEN_PARTITIONS + (p + seed) % GEN_PARTITIONS


def length_of(stratum: int, n: int) -> int:
    z = NormalDist().inv_cdf((stratum + 0.5) / n)
    return max(LENGTH_MIN, int(LENGTH_MEDIAN * math.exp(LENGTH_SIGMA * z)))


def _text(rng: random.Random, length: int, lang: str) -> str:
    if lang == "zh":
        return "".join(rng.choices(_ZH, k=length))
    words = _WORDS[lang]
    parts: list[str] = []
    size = 0
    while size < length:
        n_words = rng.randrange(6, 16)
        sent = " ".join(rng.choices(words, k=n_words))
        if rng.random() < 0.08:
            k = rng.randrange(10_000)
            sent += " " + rng.choice(_PII).format(k=k, a=k % 250, b=(k * 7) % 250)
        sent = sent[0].upper() + sent[1:] + "."
        # paragraph break every few sentences
        sep = "\n" if rng.random() < 0.25 else " "
        parts.append(sent)
        parts.append(sep)
        size += len(sent) + 1
    return "".join(parts)[:length].rstrip()


def gen_row(seed: int, n: int, i: int) -> tuple[str, datetime, bytes, str, str]:
    rng = random.Random((seed * 1_000_003 + i * 2_654_435_761) % (2**63))
    j = _stratum(seed, i, n)
    text = _text(rng, length_of(j, n), _LANG_MIX[j % len(_LANG_MIX)])
    url = f"https://long{rng.randrange(400)}.example.net/doc/{i}"
    ts = datetime(2024, 6, 1, tzinfo=timezone.utc) + timedelta(seconds=i * 37)
    esc = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    html = ("<html><body><p>" + esc.replace("\n", "</p><p>") + "</p></body></html>").encode()
    return url, ts, html, text, ""


def synthesize_long_pages(spark, n: int, seed: int):
    """Distributed long-page table with the pipeline's input schema;
    `n` must be a multiple of GEN_PARTITIONS."""
    if n % GEN_PARTITIONS:
        raise ValueError(f"n={n} is not a multiple of {GEN_PARTITIONS}")
    from data_quality_spark.schema import PAGES_SCHEMA

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [gen_row(seed, n, int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return spark.range(0, n, 1, GEN_PARTITIONS).mapInPandas(gen, schema=PAGES_SCHEMA)
