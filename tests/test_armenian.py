"""ArmenianLightAnalyzer pack: light article/plural/case strip from the
published Snowball Armenian inventory (Analysis/Hy/ArmenianAnalyzer.cs:40
as the spec), hand-traced goldens + chain integration."""

import numpy as np
import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.armenian import (
    ARMENIAN_STOP_WORDS,
    armenian_light_stem,
)

GOLDEN = [
    ("գիրքը", "գիրք"),           # definite article -ը
    ("գրքերը", "գրք"),           # plural + article -երը
    ("գրքեր", "գրք"),            # plural -եր
    ("գրքերի", "գրք"),           # plural genitive -երի
    ("տունը", "տուն"),           # article -ը
    ("լեզուն", "լեզու"),         # article -ն (after vowel)
    ("լեզուներում", "լեզու"),    # plural locative -ներում
    ("լեզուների", "լեզու"),      # plural genitive -ների
    ("հայ", "հայ"),              # len 3: untouched
    ("data", "data"),            # non-Armenian script: untouched
]


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert armenian_light_stem(surface) == stem


def test_paradigm_conflates():
    forms = ["գրքերը", "գրքեր", "գրքերի"]
    assert {armenian_light_stem(f) for f in forms} == {"գրք"}
    forms = ["լեզուն", "լեզուներում", "լեզուների"]
    assert {armenian_light_stem(f) for f in forms} == {"լեզու"}


def test_chain_stop_and_positions():
    a = analyzer_for("armenian", ARMENIAN_STOP_WORDS, 255, False)
    an = a.analyze("գիրքը և լեզուն")
    # 'և' is a stopword; positions keep the gap
    assert an.tokens == [
        armenian_light_stem("գիրքը"),
        armenian_light_stem("լեզուն"),
    ]
    assert an.positions == [0, 2]


def test_analyzer_for_armenian():
    a = analyzer_for(
        "armenian", stop_words=frozenset({"x"}),
        max_token_length=255, ascii_only=False,
    )
    assert a.stop_words == ARMENIAN_STOP_WORDS
    assert a.analyze_query("գրքերի") == ["գրք"]


def test_term_filter_unique_namespaced_passthrough():
    arr = np.array(["գրքերը", "lang:գրքերը"], dtype=object)
    assert list(analyzer_for("armenian", frozenset(), 255, False).term_filter_unique(arr)) == ["գրք", "lang:գրքերը"]


def test_arrow_fast_path_kept():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("armenian", frozenset(), 255, False))
