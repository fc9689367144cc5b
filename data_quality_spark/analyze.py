"""Combined per-document text analysis: ONE Arrow round-trip.

The pipeline needs three Python-side signals per document — text features,
language, perplexity.  As separate pandas UDFs each would serialize every
document's text JVM→Python three times; at 100 TB that triples the
Arrow bandwidth (memory bandwidth is shared across cores, so it becomes the
scaling ceiling long before CPU does — measured: 3-stage pipeline scaled at
0.68× efficiency 4→16 cores, combined stage restores UDF-limit scaling).

This module fuses them into one struct-returning pandas UDF over the pure
kernels `textstats.compute_features_py`, `langid._HeuristicLangModel`
(`_classify`, per page) and `perplexity._CharBigramLM` (`_ppl_batch`, per
Arrow batch) — swap-in points for fastText/KenLM, whose wrappers offer the
same methods.  The output is built column by column.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .functions.textstats import FEATURE_COLS, compute_features_py
from .langid import UNKNOWN, _get_model
from .perplexity import _MAX_CHARS, _get_lm

ANALYSIS_SCHEMA = StructType(
    [StructField(n, IntegerType()) for n in FEATURE_COLS]
    + [
        StructField("lang_detected", StringType()),
        StructField("lang_conf", DoubleType()),
        StructField("ppl", DoubleType()),
    ]
)

_COLS = list(FEATURE_COLS) + ["lang_detected", "lang_conf", "ppl"]


@F.pandas_udf(ANALYSIS_SCHEMA)
def analyze_text(texts: pd.Series) -> pd.DataFrame:
    model = _get_model()
    lm = _get_lm()
    ts = texts.tolist()
    n = len(ts)
    feats = list(zip(*map(compute_features_py, ts))) or [()] * len(FEATURE_COLS)
    live = [i for i, t in enumerate(ts) if t is not None and t.strip()]
    lang, conf, ppl = [UNKNOWN] * n, [0.0] * n, [float("inf")] * n
    for i in live:
        lang[i], conf[i] = model._classify(ts[i])
    for i, p in zip(live, lm._ppl_batch([ts[i][:_MAX_CHARS] for i in live])):
        ppl[i] = p
    cols = dict(zip(FEATURE_COLS, feats))
    cols.update(lang_detected=lang, lang_conf=conf, ppl=ppl)
    return pd.DataFrame(cols, columns=_COLS)


def with_analysis(df: DataFrame) -> DataFrame:
    """Attach feature columns + lang_detected + lang_conf + ppl of `text`
    in one pass."""
    out = df.withColumn("__a", analyze_text(F.col("text")))
    return out.select("*", "__a.*").drop("__a")
