"""SwedishLightAnalyzer pack: UniNE-family light rules
(Analysis/Sv/SwedishAnalyzer.cs:120 + SwedishLightStemmer.cs, implemented
from the published light-stemming descriptions), hand-traced goldens +
chain integration."""

import numpy as np
import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.swedish import (
    SWEDISH_STOP_WORDS,
    swedish_light_stem,
)

GOLDEN = [
    ("flickorna", "flick"),    # definite plural -orna
    ("flickor", "flick"),      # plural -or
    ("flicka", "flick"),       # final -a
    ("bilarna", "bil"),        # definite plural -arna
    ("bilar", "bil"),          # plural -ar
    ("bilen", "bil"),          # definite singular -en
    ("bilens", "bil"),         # genitive s, then -en
    ("friheterna", "fri"),     # -het family: definite plural
    ("friheten", "fri"),       # -het family: definite singular
    ("friheter", "fri"),       # -het family: plural
    ("frihet", "fri"),         # -het family: bare nominalizer
    ("starkare", "stark"),     # comparative -are
    ("starkast", "stark"),     # superlative -ast
    ("starkaste", "stark"),    # definite superlative -aste
    ("läsande", "läs"),        # nominalized verb -ande
    ("rörelse", "rör"),        # nominalization -else
    ("huset", "hus"),          # definite neuter -et
    ("husen", "hus"),          # definite plural -en
    ("gårdarna", "gård"),      # å kept (no folding), -arna strip
    ("året", "åre"),           # -et refused (2-letter remainder), -t strips
    ("bok", "bok"),            # len 3: untouched
]


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert swedish_light_stem(surface) == stem


def test_declension_conflates():
    forms = ["flicka", "flickor", "flickorna"]
    assert len({swedish_light_stem(f) for f in forms}) == 1
    forms = ["bil", "bilar", "bilarna", "bilen", "bilens"]
    # 'bil' is 3 letters (untouched), the rest strip to it
    assert {swedish_light_stem(f) for f in forms} == {"bil"}


def test_min_stem_length_guard():
    # a strip may never leave fewer than 3 letters: the longest-match
    # candidate is refused and the next shorter applicable one is taken
    assert swedish_light_stem("ande") == "and"    # -ande refused, -e strips
    assert swedish_light_stem("vara") == "var"    # -a leaves 3: allowed


def test_chain_stop_and_positions():
    a = analyzer_for("swedish", SWEDISH_STOP_WORDS, 255, False)
    an = a.analyze("han läser boken i huset")
    # 'han' and 'i' are stopwords; positions keep the gaps
    assert an.tokens == [
        swedish_light_stem("läser"),
        swedish_light_stem("boken"),
        swedish_light_stem("huset"),
    ]
    assert an.positions == [1, 2, 4]


def test_analyzer_for_swedish():
    a = analyzer_for(
        "swedish", stop_words=frozenset({"x"}),
        max_token_length=255, ascii_only=False,
    )
    assert a.stop_words == SWEDISH_STOP_WORDS
    assert a.analyze_query("flickorna") == ["flick"]


def test_term_filter_unique_namespaced_passthrough():
    arr = np.array(["bilarna", "lang:bilarna"], dtype=object)
    out = analyzer_for("swedish", frozenset(), 255, False).term_filter_unique(arr)
    assert list(out) == ["bil", "lang:bilarna"]


def test_arrow_fast_path_kept():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("swedish", frozenset(), 255, False))
