"""The fused analysis UDF against the frozen reference kernels of
`tests/oracle.py`: every column, floats bit for bit.

The engine's kernels take exact fast paths (ASCII text, text whose
whitespace Python and Java agree on, one token table for all languages,
one numpy pass per Arrow batch); the references are the straightforward
per-page formulations.  Any input on which a fast path is not exact shows
up here as a differing cell.
"""

import math
import sys
import types

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from data_quality_spark import langid, perplexity
from data_quality_spark.analyze import _COLS, analyze_text
from data_quality_spark.functions.textstats import compute_features_py
from data_quality_spark.schema import gen_rows_local

from .oracle import ref_analysis, ref_features
from .test_fuzz_parity import _EDGE_CASES

# Characters at every fast-path boundary: whitespace only Python splits on,
# Java \s, case pairs whose lower form changes length or context, the
# script ranges, astral characters, and marker words of several languages.
_ZOO = (
    list(" \t\n\x0b\f\r\x1c\x1d\x1e\x1f\x85\xa0       　")
    + list("aAzZ_.,;:!?()[]\"'-*•…²½ΣΟΔσςİıßẞǅ中かカ한яאع̇😀𝔘٣")
    + ["the ", "and ", " la ", " de ", " è ", " für ", "ΟΔΟΣ ", "...", "\n- ", "word "]
)
_zoo_text = st.lists(st.sampled_from(_ZOO), max_size=120).map("".join)
_texts = st.one_of(_zoo_text, st.text(max_size=200), st.none())


def _cell(col, v):
    """Comparable form of one output cell: NaN/None → None, counts as ints
    (a batch holding a NULL page makes them float64), floats by bits."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if col == "ppl":
        return float(v).hex()
    return v if col == "lang_detected" else int(v)


def _mismatches(texts):
    out = analyze_text.func(pd.Series(texts, dtype=object))
    assert list(out.columns) == _COLS and len(out) == len(texts)
    bad = []
    for t, row in zip(texts, out.itertuples(index=False)):
        want = ref_analysis(t)
        for col, got, ref in zip(_COLS, row, want):
            if _cell(col, got) != _cell(col, ref):
                bad.append((repr(t)[:60], col, got, ref))
    return bad


@given(st.lists(_texts, max_size=12))
@settings(max_examples=300, deadline=None)
def test_analyze_text_equals_reference(texts):
    assert not _mismatches(texts)


@given(_texts)
@settings(max_examples=500, deadline=None)
def test_compute_features_equals_reference(t):
    assert compute_features_py(t) == ref_features(t)


@pytest.mark.parametrize("seed", [3, 42, 777])
def test_analyze_text_equals_reference_on_fixture(seed):
    texts = [r[3] for r in gen_rows_local(2000, seed=seed)]
    bad = _mismatches(texts)
    assert not bad, bad[:5]


def test_analyze_text_equals_reference_on_edge_cases():
    bad = _mismatches(list(_EDGE_CASES))
    assert not bad, bad[:5]


def test_analyze_text_empty_batch():
    out = analyze_text.func(pd.Series([], dtype=object))
    assert list(out.columns) == _COLS and len(out) == 0


def test_production_model_swap(monkeypatch):
    """With fastText and KenLM importable, the fused UDF runs through their
    wrappers (stub modules stand in for the real wheels)."""
    seen = []

    class _FastText:
        def predict(self, s):
            seen.append(s)
            return ("__label__de",), [0.75]

    class _KenModel:
        def __init__(self, path):
            pass

        def score(self, s, bos, eos):
            return -2.0 * len(s.split())

    monkeypatch.setitem(sys.modules, "fasttext", types.SimpleNamespace(load_model=lambda p: _FastText()))
    monkeypatch.setitem(sys.modules, "kenlm", types.SimpleNamespace(Model=_KenModel))
    monkeypatch.setattr(langid, "_MODEL", None)
    monkeypatch.setattr(perplexity, "_LM", None)
    out = analyze_text.func(pd.Series(["eins zwei\ndrei", "  ", None], dtype=object))
    assert seen == ["eins zwei drei"]
    assert out["lang_detected"].tolist() == ["de", "und", "und"]
    assert out["ppl"].tolist() == [10.0 ** (6.0 / 4), math.inf, math.inf]
    assert perplexity._get_lm()._ppl("a b") == 10.0 ** (4.0 / 3)
