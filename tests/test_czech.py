"""CzechLightAnalyzer pack: the published Dolamic & Savoy light stemmer
(Analysis/Cz/CzechAnalyzer.cs:60 + CzechStemmer.cs, implemented from the
IP&M 2009 paper), hand-traced goldens + chain integration."""

import numpy as np
import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.czech import (
    CZECH_STOP_WORDS,
    czech_light_stem,
)

GOLDEN = [
    ("ženami", "žen"),        # instrumental plural -ami
    ("ženy", "žen"),          # plural -y
    ("žena", "žen"),          # final vowel -a
    ("městech", "měst"),      # locative plural -ech
    ("město", "měst"),        # final vowel -o
    ("studenti", "student"),  # plural -i
    ("studentům", "student"), # dative plural -ům
    ("studentovi", "student"),# dative singular -ovi
    ("matčin", "matk"),       # possessive -in + palatalization č->k
    ("pánové", "pán"),        # -é then possessive-shaped -ov strips
    ("nového", "nov"),        # adjective genitive -ého
    ("novými", "nov"),        # adjective instrumental -ými -> -mi? (-ým+i)
    ("dům", "dům"),           # len 3: untouched
]


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert czech_light_stem(surface) == stem


def test_case_paradigm_conflates():
    forms = ["žena", "ženy", "ženami"]
    assert {czech_light_stem(f) for f in forms} == {"žen"}
    forms = ["studenti", "studentům", "studentovi"]
    assert {czech_light_stem(f) for f in forms} == {"student"}


def test_palatalization_normalizes_boundary():
    # stripping can expose a palatalized consonant; it normalizes so the
    # possessive conflates with the base paradigm
    assert czech_light_stem("matčin") == czech_light_stem("matka")[:4] == "matk"


def test_min_stem_length_guard():
    assert len(czech_light_stem("echa")) >= 3
    assert czech_light_stem("pes") == "pes"


def test_chain_stop_and_positions():
    a = analyzer_for("czech", CZECH_STOP_WORDS, 255, False)
    an = a.analyze("to město a ženy")
    # 'to' and 'a' are stopwords; positions keep the gaps
    assert an.tokens == [czech_light_stem("město"), czech_light_stem("ženy")]
    assert an.positions == [1, 3]


def test_analyzer_for_czech():
    a = analyzer_for(
        "czech", stop_words=frozenset({"x"}),
        max_token_length=255, ascii_only=False,
    )
    assert a.stop_words == CZECH_STOP_WORDS
    assert a.analyze_query("ženami") == ["žen"]


def test_term_filter_unique_namespaced_passthrough():
    arr = np.array(["ženami", "lang:ženami"], dtype=object)
    assert list(analyzer_for("czech", frozenset(), 255, False).term_filter_unique(arr)) == ["žen", "lang:ženami"]


def test_arrow_fast_path_kept():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("czech", frozenset(), 255, False))
