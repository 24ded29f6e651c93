"""TurkishLightAnalyzer pack: dotted/dotless-I normalization + UniNE-
family light case/plural rules (Analysis/Tr/TurkishAnalyzer.cs:43 — the
Snowball automaton is a documented non-goal), hand-traced goldens +
chain integration."""

import numpy as np
import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.turkish import (
    TURKISH_STOP_WORDS,
    turkish_light_stem,
    turkish_normalize,
)

GOLDEN = [
    ("kitaplar", "kitap"),       # plural -lar
    ("kitaplardan", "kitap"),    # ablative over plural (two layers)
    ("kitaplarda", "kitap"),     # locative over plural
    ("kitabın", "kitab"),        # genitive -ın (b/p mutation not undone)
    ("okullarda", "okul"),       # locative over plural
    ("arabası", "araba"),        # possessive -sı
    ("evlerde", "evler"),        # -ler strip refused (2-letter remainder)
    ("şehirden", "şehir"),       # ablative -den
    ("gözler", "göz"),           # plural -ler
    ("ev", "ev"),                # short: untouched
]


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert turkish_light_stem(surface) == stem


def test_dotted_dotless_i():
    # Python-lowercased 'İ' arrives as 'i' + U+0307; the normalizer
    # repairs it to plain 'i'
    assert turkish_normalize("İstanbul".lower()) == "istanbul"
    assert turkish_normalize("I") == "ı"


def test_paradigm_conflates():
    forms = ["kitaplar", "kitaplardan", "kitaplarda"]
    assert {turkish_light_stem(f) for f in forms} == {"kitap"}


def test_chain_stop_and_positions():
    a = analyzer_for("turkish", TURKISH_STOP_WORDS, 255, False)
    an = a.analyze("bu kitaplar ve gözler")
    # 'bu' and 've' are stopwords; positions keep the gaps
    assert an.tokens == [
        turkish_light_stem("kitaplar"),
        turkish_light_stem("gözler"),
    ]
    assert an.positions == [1, 3]


def test_apostrophe_suffix_splits_structurally():
    # the tokenizer splits on the apostrophe, so the enclitic becomes its
    # own token (ApostropheFilter's effect, achieved structurally)
    a = analyzer_for("turkish", frozenset(), 255, False)
    assert a.analyze_query("istanbul'dan")[0] == "istanbul"


def test_analyzer_for_turkish():
    a = analyzer_for(
        "turkish", stop_words=frozenset({"x"}),
        max_token_length=255, ascii_only=False,
    )
    assert a.stop_words == TURKISH_STOP_WORDS
    assert a.analyze_query("kitaplardan") == ["kitap"]


def test_term_filter_unique_namespaced_passthrough():
    arr = np.array(["kitaplar", "lang:kitaplar"], dtype=object)
    assert list(analyzer_for("turkish", frozenset(), 255, False).term_filter_unique(arr)) == ["kitap", "lang:kitaplar"]


def test_arrow_fast_path_kept():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("turkish", frozenset(), 255, False))
