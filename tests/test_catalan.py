"""CatalanLightAnalyzer pack: UniNE-family light ending strip + diacritic
fold (Analysis/Ca/CatalanAnalyzer.cs:121 + Snowball Catalan as the spec),
hand-traced goldens + chain integration."""

import numpy as np
import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.catalan import (
    CATALAN_STOP_WORDS,
    catalan_light_stem,
)

GOLDEN = [
    ("cases", "cas"),           # plural -es
    ("casa", "cas"),            # final -a
    ("llibres", "llibr"),       # plural -es
    ("llibre", "llibr"),        # final -e
    ("cançons", "canc"),        # -ons + ç fold
    ("cançó", "canc"),          # accented final vowel + ç fold
    ("formacions", "forma"),    # -cions
    ("formació", "forma"),      # -ció
    ("lentament", "lent"),      # adverb -ament
    ("grans", "gran"),          # bare -s
    ("mar", "mar"),             # len 3: untouched
    ("això", "aix"),            # accented final vowel strips, then fold
]


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert catalan_light_stem(surface) == stem


def test_paradigm_conflates():
    assert {catalan_light_stem(f) for f in ["cases", "casa"]} == {"cas"}
    assert {catalan_light_stem(f) for f in ["cançons", "cançó"]} == {"canc"}
    assert {
        catalan_light_stem(f) for f in ["formacions", "formació"]
    } == {"forma"}


def test_chain_stop_elision_and_positions():
    a = analyzer_for("catalan", CATALAN_STOP_WORDS, 255, False)
    # "l'aigua" splits at the apostrophe; the article token is stopped
    an = a.analyze("l'aigua de les cases")
    assert an.tokens == [catalan_light_stem("aigua"), catalan_light_stem("cases")]
    assert an.positions == [1, 4]


def test_analyzer_for_catalan():
    a = analyzer_for(
        "catalan", stop_words=frozenset({"x"}),
        max_token_length=255, ascii_only=False,
    )
    assert a.stop_words == CATALAN_STOP_WORDS
    assert a.analyze_query("formacions") == ["forma"]


def test_term_filter_unique_namespaced_passthrough():
    arr = np.array(["cases", "lang:cases"], dtype=object)
    assert list(analyzer_for("catalan", frozenset(), 255, False).term_filter_unique(arr)) == ["cas", "lang:cases"]


def test_arrow_fast_path_kept():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("catalan", frozenset(), 255, False))
