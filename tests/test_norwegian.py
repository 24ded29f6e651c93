"""NorwegianLightAnalyzer pack: Nordic-light rules
(Analysis/No/NorwegianAnalyzer.cs:120 + NorwegianLightStemmer.cs,
implemented from the published light-stemming descriptions), hand-traced
goldens + chain integration."""

import numpy as np
import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.norwegian import (
    NORWEGIAN_STOP_WORDS,
    norwegian_light_stem,
)

GOLDEN = [
    ("bilene", "bil"),        # definite plural -ene
    ("biler", "bil"),         # plural -er
    ("bilen", "bil"),         # definite singular -en
    ("bilens", "bil"),        # genitive s, then -en
    ("mulighetene", "mulig"), # -het family: definite plural
    ("muligheten", "mulig"),  # -het family: definite singular
    ("muligheter", "mulig"),  # -het family: plural
    ("mulighet", "mulig"),    # -het family: bare nominalizer
    ("huset", "hus"),         # definite neuter -et
    ("husene", "hus"),        # definite plural
    ("jenta", "jent"),        # definite feminine -a
    ("lesende", "les"),       # participle -ende
    ("gårdane", "gård"),      # å kept (no folding), -ane strip
    ("bok", "bok"),           # len 3: untouched
]


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert norwegian_light_stem(surface) == stem


def test_declension_conflates():
    forms = ["bil", "biler", "bilene", "bilen", "bilens"]
    assert {norwegian_light_stem(f) for f in forms} == {"bil"}
    forms = ["mulighet", "muligheten", "muligheter", "mulighetene"]
    assert {norwegian_light_stem(f) for f in forms} == {"mulig"}


def test_min_stem_length_guard():
    assert len(norwegian_light_stem("ene")) >= 3
    assert len(norwegian_light_stem("eten")) >= 3


def test_chain_stop_and_positions():
    a = analyzer_for("norwegian", NORWEGIAN_STOP_WORDS, 255, False)
    an = a.analyze("han leste bilene i huset")
    # 'han' and 'i' are stopwords; positions keep the gaps
    assert an.tokens == [
        norwegian_light_stem("leste"),
        norwegian_light_stem("bilene"),
        norwegian_light_stem("huset"),
    ]
    assert an.positions == [1, 2, 4]


def test_analyzer_for_norwegian():
    a = analyzer_for(
        "norwegian", stop_words=frozenset({"x"}),
        max_token_length=255, ascii_only=False,
    )
    assert a.stop_words == NORWEGIAN_STOP_WORDS
    assert a.analyze_query("bilene") == ["bil"]


def test_term_filter_unique_namespaced_passthrough():
    arr = np.array(["bilene", "lang:bilene"], dtype=object)
    assert list(analyzer_for("norwegian", frozenset(), 255, False).term_filter_unique(arr)) == ["bil", "lang:bilene"]


def test_arrow_fast_path_kept():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("norwegian", frozenset(), 255, False))
