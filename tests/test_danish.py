"""DanishLightAnalyzer pack: Nordic-light rules (the Snowball Danish
suffix inventory applied as a single longest-match strip — see
analysis/danish.py; reference chain Analysis/Da/DanishAnalyzer.cs:120),
hand-traced goldens + chain integration."""

import numpy as np
import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.danish import (
    DANISH_STOP_WORDS,
    danish_light_stem,
)

GOLDEN = [
    ("hunden", "hund"),         # definite singular -en
    ("hundene", "hund"),        # definite plural -ene
    ("hunde", "hund"),          # plural -e
    ("hundens", "hund"),        # genitive s, then -en
    ("katten", "kat"),          # -en strip + consonant undoubling
    ("kattene", "kat"),         # -ene strip + undoubling
    ("mulighederne", "mulig"),  # -hed family: definite plural
    ("muligheden", "mulig"),    # -hed family: definite singular
    ("muligheder", "mulig"),    # -hed family: plural
    ("mulighed", "mulig"),      # -hed family: bare nominalizer
    ("huset", "hus"),           # definite neuter -et
    ("husene", "hus"),          # definite plural
    ("bøgerne", "bøg"),         # -erne; ø kept (no folding)
    ("læsende", "læs"),         # participle -ende
    ("hus", "hus"),             # len 3: untouched
]


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert danish_light_stem(surface) == stem


def test_declension_conflates():
    forms = ["hunden", "hundene", "hunde", "hundens"]
    assert {danish_light_stem(f) for f in forms} == {"hund"}
    forms = ["mulighed", "muligheden", "muligheder", "mulighederne"]
    assert {danish_light_stem(f) for f in forms} == {"mulig"}


def test_undoubling_only_after_strip_candidates():
    # undoubling applies at the stripped boundary; a bare doubled-final
    # word still simplifies only past the length guard
    assert danish_light_stem("katten") == "kat"
    assert danish_light_stem("abb") == "abb"  # len 3: untouched


def test_chain_stop_and_positions():
    a = analyzer_for("danish", DANISH_STOP_WORDS, 255, False)
    an = a.analyze("han så hunden i huset")
    # 'han', 'så' and 'i' are stopwords; positions keep the gaps
    assert an.tokens == [
        danish_light_stem("hunden"),
        danish_light_stem("huset"),
    ]
    assert an.positions == [2, 4]


def test_analyzer_for_danish():
    a = analyzer_for(
        "danish", stop_words=frozenset({"x"}),
        max_token_length=255, ascii_only=False,
    )
    assert a.stop_words == DANISH_STOP_WORDS
    assert a.analyze_query("hundene") == ["hund"]


def test_term_filter_unique_namespaced_passthrough():
    arr = np.array(["hundene", "lang:hundene"], dtype=object)
    assert list(analyzer_for("danish", frozenset(), 255, False).term_filter_unique(arr)) == ["hund", "lang:hundene"]


def test_arrow_fast_path_kept():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("danish", frozenset(), 255, False))
