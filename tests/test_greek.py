"""GreekLightAnalyzer pack: GreekLowerCaseFilter normalization + UniNE-
family light inflectional rules (Analysis/El/GreekAnalyzer.cs:40 — the
full Ntais automaton is a documented non-goal), hand-traced goldens +
chain integration."""

import numpy as np
import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.greek import (
    GREEK_STOP_WORDS,
    greek_light_stem,
    greek_normalize,
)

GOLDEN = [
    ("άνθρωπος", "ανθρωπ"),   # tonos removed, -ος stripped
    ("ανθρωπου", "ανθρωπ"),   # genitive -ου
    ("ανθρωποι", "ανθρωπ"),   # plural -οι
    ("ανθρωπων", "ανθρωπ"),   # genitive plural -ων
    ("βιβλίο", "βιβλι"),      # neuter -ο
    ("βιβλια", "βιβλι"),      # neuter plural -α
    ("θαλασσες", "θαλασσ"),   # feminine plural -ες
    ("θαλασσα", "θαλασσ"),    # feminine -α
    ("ομορφος", "ομορφ"),     # adjective masculine
    ("ομορφη", "ομορφ"),      # adjective feminine
    ("παιδιου", "παιδι"),     # genitive -ου
    ("φωσ", "φωσ"),           # len 3: untouched past normalization
]


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert greek_light_stem(surface) == stem


def test_normalization():
    assert greek_normalize("άέήίόύώ") == "αεηιουω"
    assert greek_normalize("ανθρωπος") == "ανθρωποσ"  # final sigma folds


def test_paradigm_conflates():
    forms = ["άνθρωπος", "ανθρωπου", "ανθρωποι", "ανθρωπων"]
    assert {greek_light_stem(f) for f in forms} == {"ανθρωπ"}


def test_latin_passthrough():
    assert greek_light_stem("merge") == "merge"


def test_chain_stop_and_positions():
    a = analyzer_for("greek", GREEK_STOP_WORDS, 255, False)
    an = a.analyze("το βιβλιο και η θαλασσα")
    # 'το', 'και', 'η' are stopwords; positions keep the gaps
    assert an.tokens == [
        greek_light_stem("βιβλιο"),
        greek_light_stem("θαλασσα"),
    ]
    assert an.positions == [1, 4]


def test_analyzer_for_greek():
    a = analyzer_for(
        "greek", stop_words=frozenset({"x"}),
        max_token_length=255, ascii_only=False,
    )
    assert a.stop_words == GREEK_STOP_WORDS
    assert a.analyze_query("άνθρωπος") == ["ανθρωπ"]


def test_term_filter_unique_namespaced_passthrough():
    arr = np.array(["βιβλια", "lang:βιβλια"], dtype=object)
    assert list(analyzer_for("greek", frozenset(), 255, False).term_filter_unique(arr)) == ["βιβλι", "lang:βιβλια"]


def test_arrow_fast_path_kept():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("greek", frozenset(), 255, False))
