"""ItalianLightAnalyzer pack: UniNE light stemmer
(Analysis/It/ItalianAnalyzer.cs:130-155 + ItalianLightStemmer.cs:63-110,
implemented from the published algorithm — Savoy's UniNE CLEF family),
hand-traced goldens + routed-build integration."""

import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.italian import (
    ITALIAN_STOP_WORDS,
    italian_light_stem,
)

GOLDEN = [
    ("abitante", "abitant"),   # final -e, plain strip
    ("abitanti", "abitant"),   # final -i, plain strip: forms merge
    ("ricche", "ricc"),        # -he: hard-c plural spelling, strip 2
    ("ricchi", "ricc"),        # -hi: same stem as 'ricche'
    ("vecchie", "vecch"),      # -ie: strip 2
    ("tecnologia", "tecnologi"),  # final -a after i: 'a' rule only pairs with h -> strip 1
    ("perché", "perc"),        # fold é -> e, then -he strips 2
    ("qualità", "qualit"),     # fold à -> a, then -a strips 1
    ("giornale", "giornal"),   # final -e, plain strip
    ("giornali", "giornal"),   # final -i: forms merge
    ("lunghi", "lung"),        # -hi after g: hard-g plural
    ("tempo", "tempo"),        # len 5 < 6: untouched
    ("libro", "libro"),        # len 5 < 6: untouched
]


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert italian_light_stem(surface) == stem


def test_chain_stop_and_positions():
    a = analyzer_for("italian", ITALIAN_STOP_WORDS, 255, False)
    an = a.analyze("le tecnologie dei giornali")
    assert an.tokens == ["tecnolog", "giornal"]
    assert an.positions == [1, 3]


def test_analyzer_for_italian():
    a = analyzer_for("italian", stop_words=frozenset({"x"}), max_token_length=255, ascii_only=False)
    assert a.stop_words == ITALIAN_STOP_WORDS
    assert a.analyze_query("ricchi") == ["ricc"]


def test_arrow_fast_path_and_namespaced():
    import numpy as np

    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("italian", frozenset(), 255, False))
    out = analyzer_for("italian", frozenset(), 255, False).term_filter_unique(
        np.array(["abitanti", "title:abitanti"], dtype=object)
    )
    assert list(out) == ["abitant", "title:abitanti"]
