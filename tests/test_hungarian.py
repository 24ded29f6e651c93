"""HungarianLightAnalyzer pack: UniNE-family light rules
(Analysis/Hu/HungarianAnalyzer.cs:120 + HungarianLightStemmer.cs,
implemented from the published light-stemming descriptions), hand-traced
goldens + chain integration."""

import numpy as np
import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.hungarian import (
    HUNGARIAN_STOP_WORDS,
    hungarian_light_stem,
)

GOLDEN = [
    ("házakat", "ház"),      # plural+accusative -akat (one strip)
    ("házak", "ház"),        # plural -ak
    ("házat", "ház"),        # accusative -at
    ("házban", "ház"),       # inessive -ban
    ("házhoz", "ház"),       # allative -hoz
    ("háznak", "ház"),       # dative -nak
    ("házból", "ház"),       # elative -ból
    ("könyvek", "könyv"),    # plural -ek
    ("könyveket", "könyv"),  # plural+accusative -eket
    ("könyvben", "könyv"),   # inessive -ben (front harmony)
    ("autóval", "autó"),     # instrumental -val
    ("kertben", "kert"),     # front harmony
    ("kertek", "kert"),      # plural
    ("városok", "város"),    # plural -ok
    ("városokban", "város"), # plural+inessive -okban (one strip)
    ("fát", "fát"),          # len 3: untouched
]


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert hungarian_light_stem(surface) == stem


def test_case_paradigm_conflates():
    forms = ["házak", "házat", "házakat", "házban", "házhoz", "háznak",
             "házból"]
    assert {hungarian_light_stem(f) for f in forms} == {"ház"}


def test_min_stem_length_guard():
    # a strip may never leave fewer than 3 letters
    assert len(hungarian_light_stem("okat")) >= 3
    assert len(hungarian_light_stem("aknak")) >= 3


def test_chain_stop_and_positions():
    a = analyzer_for("hungarian", HUNGARIAN_STOP_WORDS, 255, False)
    an = a.analyze("a házakat és könyveket")
    # 'a' and 'és' are stopwords; positions keep the gaps
    assert an.tokens == [
        hungarian_light_stem("házakat"),
        hungarian_light_stem("könyveket"),
    ]
    assert an.positions == [1, 3]


def test_analyzer_for_hungarian():
    a = analyzer_for(
        "hungarian", stop_words=frozenset({"x"}),
        max_token_length=255, ascii_only=False,
    )
    assert a.stop_words == HUNGARIAN_STOP_WORDS
    assert a.analyze_query("házakat") == ["ház"]


def test_term_filter_unique_namespaced_passthrough():
    arr = np.array(["házakat", "lang:házakat"], dtype=object)
    assert list(analyzer_for("hungarian", frozenset(), 255, False).term_filter_unique(arr)) == ["ház", "lang:házakat"]


def test_arrow_fast_path_kept():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("hungarian", frozenset(), 255, False))
