"""GalicianMinimalAnalyzer pack: plural-only RSLP-for-Galician rules
(Analysis/Gl/GalicianMinimalStemmer.cs:25 as the spec), hand-traced
goldens + chain integration."""

import numpy as np
import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.galician import (
    GALICIAN_STOP_WORDS,
    galician_minimal_stem,
)

GOLDEN = [
    ("cancións", "canción"),  # -ns -> -n
    ("canción", "canción"),
    ("animais", "animal"),    # -ais -> -al
    ("animal", "animal"),
    ("papeis", "papel"),      # -eis -> -el
    ("papel", "papel"),
    ("caracois", "caracol"),  # -ois -> -ol
    ("flores", "flor"),       # -res -> -r
    ("flor", "flor"),
    ("meses", "mes"),         # -ses -> -s
    ("mes", "mes"),
    ("casas", "casa"),        # bare -s
    ("casa", "casa"),         # singular untouched (minimal = plural only)
    ("luz", "luz"),           # not plural: untouched
]


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert galician_minimal_stem(surface) == stem


def test_paradigm_conflates():
    for pl, sg in [("cancións", "canción"), ("animais", "animal"),
                   ("flores", "flor"), ("casas", "casa")]:
        assert galician_minimal_stem(pl) == galician_minimal_stem(sg)


def test_chain_stop_and_positions():
    a = analyzer_for("galician", GALICIAN_STOP_WORDS, 255, False)
    an = a.analyze("as cancións e os animais")
    # 'as' 'e' 'os' are stopwords; positions keep the gaps
    assert an.tokens == ["canción", "animal"]
    assert an.positions == [1, 4]


def test_analyzer_for_galician():
    a = analyzer_for(
        "galician", stop_words=frozenset({"x"}),
        max_token_length=255, ascii_only=False,
    )
    assert a.stop_words == GALICIAN_STOP_WORDS
    assert a.analyze_query("papeis") == ["papel"]


def test_term_filter_unique_namespaced_passthrough():
    arr = np.array(["cancións", "lang:cancións"], dtype=object)
    assert list(analyzer_for("galician", frozenset(), 255, False).term_filter_unique(arr)) == ["canción", "lang:cancións"]


def test_arrow_fast_path_kept():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("galician", frozenset(), 255, False))
