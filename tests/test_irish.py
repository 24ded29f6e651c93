"""IrishLightAnalyzer pack: eclipsis/lenition demutation + light plural
strip (Analysis/Ga/IrishAnalyzer.cs:48 + IrishLowerCaseFilter.cs:36 +
Snowball Irish as the spec), hand-traced goldens + chain integration."""

import numpy as np
import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.irish import (
    IRISH_STOP_WORDS,
    irish_demutate,
    irish_light_stem,
)

DEMUTATE = [
    ("gcairde", "cairde"),   # eclipsis gc -> c
    ("dteach", "teach"),     # eclipsis dt -> t
    ("mbord", "bord"),       # eclipsis mb -> b
    ("bhfuinneog", "fuinneog"),  # eclipsis bhf -> f
    ("chairde", "cairde"),   # lenition ch -> c
    ("bhord", "bord"),       # lenition bh -> b
    ("theach", "teach"),     # lenition th -> t
    ("sheomra", "seomra"),   # lenition sh -> s
    ("bord", "bord"),        # unmutated: untouched
    ("the", "the"),          # too short to demutate safely
]

GOLDEN = [
    ("gcairde", "caird"),
    ("chairde", "caird"),
    ("cairde", "caird"),
    ("ceisteanna", "ceist"),  # plural -eanna
    ("ceiste", "ceist"),      # genitive -e
    ("ceist", "ceist"),
    ("fuinneoga", "fuinneog"),  # plural -a
    ("dteach", "teach"),
    ("teach", "teach"),
    ("scéalta", "scéalt"),    # -ta kept as a unit; bare -a still strips
]


@pytest.mark.parametrize("surface,rad", DEMUTATE)
def test_demutation(surface, rad):
    assert irish_demutate(surface) == rad


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert irish_light_stem(surface) == stem


def test_paradigm_conflates():
    forms = ["gcairde", "chairde", "cairde"]
    assert {irish_light_stem(f) for f in forms} == {"caird"}
    forms = ["ceisteanna", "ceiste", "ceist"]
    assert {irish_light_stem(f) for f in forms} == {"ceist"}


def test_chain_stop_and_positions():
    a = analyzer_for("irish", IRISH_STOP_WORDS, 255, False)
    # "an t-athair" tokenizes t / athair; the prothetic particle is stopped
    an = a.analyze("an t-athair agus na ceisteanna")
    assert an.tokens == [
        irish_light_stem("athair"),
        irish_light_stem("ceisteanna"),
    ]
    assert an.positions == [2, 5]


def test_analyzer_for_irish():
    a = analyzer_for(
        "irish", stop_words=frozenset({"x"}),
        max_token_length=255, ascii_only=False,
    )
    assert a.stop_words == IRISH_STOP_WORDS
    assert a.analyze_query("gcairde") == ["caird"]


def test_term_filter_unique_namespaced_passthrough():
    arr = np.array(["ceisteanna", "lang:ceisteanna"], dtype=object)
    assert list(analyzer_for("irish", frozenset(), 255, False).term_filter_unique(arr)) == ["ceist", "lang:ceisteanna"]


def test_arrow_fast_path_kept():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("irish", frozenset(), 255, False))
