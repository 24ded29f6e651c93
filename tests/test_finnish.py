"""FinnishLightAnalyzer pack: UniNE-family light rules
(Analysis/Fi/FinnishAnalyzer.cs:120 + FinnishLightStemmer.cs, implemented
from the published light-stemming descriptions), hand-traced goldens +
chain integration."""

import numpy as np
import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.finnish import (
    FINNISH_STOP_WORDS,
    finnish_light_stem,
)

GOLDEN = [
    ("talossa", "talo"),     # inessive -ssa
    ("talosta", "talo"),     # elative -sta
    ("talolla", "talo"),     # adessive -lla
    ("talolle", "talo"),     # allative -lle
    ("taloksi", "talo"),     # translative -ksi
    ("taloissa", "talo"),    # plural inessive -issa (one strip)
    ("taloista", "talo"),    # plural elative
    ("taloilla", "talo"),    # plural adessive
    ("taloon", "talo"),      # illative: -n strip + double-vowel simplify
    ("talon", "talo"),       # genitive -n
    ("talot", "talo"),       # nominative plural -t
    ("autollansa", "auto"),  # possessive -nsa then case -lla
    ("kissani", "kiss"),     # possessive -ni then final -a
    ("kissa", "kiss"),       # final vowel
    ("järvi", "järv"),       # final -i; ä kept (no folding)
    ("metsässä", "metsä"),   # front-harmony -ssä
    ("yöllä", "yöll"),       # -llä refused (2-letter remainder), -ä strips
    ("kieliä", "kieli"),     # final -ä (ONE strip per word: -i stays)
    ("työ", "työ"),          # len 3: untouched
]


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert finnish_light_stem(surface) == stem


def test_case_paradigm_conflates():
    forms = ["talo", "talon", "talot", "talossa", "talosta", "talolla",
             "talolle", "taloksi", "taloon", "taloissa", "taloista"]
    assert {finnish_light_stem(f) for f in forms} == {"talo"}


def test_min_stem_length_guard():
    # a strip may never leave fewer than 3 letters
    assert finnish_light_stem("ssaa") != ""
    assert len(finnish_light_stem("ossa")) >= 3


def test_chain_stop_and_positions():
    a = analyzer_for("finnish", FINNISH_STOP_WORDS, 255, False)
    an = a.analyze("hän asuu talossa ja lukee")
    # 'hän' and 'ja' are stopwords; positions keep the gaps
    assert an.tokens == [
        finnish_light_stem("asuu"),
        finnish_light_stem("talossa"),
        finnish_light_stem("lukee"),
    ]
    assert an.positions == [1, 2, 4]


def test_analyzer_for_finnish():
    a = analyzer_for(
        "finnish", stop_words=frozenset({"x"}),
        max_token_length=255, ascii_only=False,
    )
    assert a.stop_words == FINNISH_STOP_WORDS
    assert a.analyze_query("taloissa") == ["talo"]


def test_term_filter_unique_namespaced_passthrough():
    arr = np.array(["talossa", "lang:talossa"], dtype=object)
    assert list(analyzer_for("finnish", frozenset(), 255, False).term_filter_unique(arr)) == ["talo", "lang:talossa"]


def test_arrow_fast_path_kept():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("finnish", frozenset(), 255, False))
