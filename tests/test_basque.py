"""BasqueLightAnalyzer pack: light de-agglutination from the published
Snowball Basque ending inventory (Analysis/Eu/BasqueAnalyzer.cs:40 as the
spec), hand-traced goldens + chain integration."""

import numpy as np
import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.basque import (
    BASQUE_STOP_WORDS,
    basque_light_stem,
)

GOLDEN = [
    ("etxea", "etxe"),          # determiner -a
    ("etxeak", "etxe"),         # plural/ergative -ak
    ("etxera", "etxe"),         # allative -ra
    ("liburua", "liburu"),      # determiner -a
    ("liburuak", "liburu"),     # -ak
    ("liburutik", "liburu"),    # ablative -tik
    ("gizona", "gizon"),        # determiner -a
    ("gizonarekin", "gizon"),   # comitative -arekin
    ("gizonaren", "gizon"),     # genitive -aren
    ("mendietan", "mendi"),     # inessive plural -etan
    ("eta", "eta"),             # len 3: untouched
    ("gela", "gela"),           # len 4 ending -a: kept (the -a guard)
]


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert basque_light_stem(surface) == stem


def test_paradigm_conflates():
    forms = ["etxea", "etxeak", "etxera"]
    assert {basque_light_stem(f) for f in forms} == {"etxe"}
    forms = ["gizona", "gizonarekin", "gizonaren"]
    assert {basque_light_stem(f) for f in forms} == {"gizon"}


def test_chain_stop_and_positions():
    a = analyzer_for("basque", BASQUE_STOP_WORDS, 255, False)
    an = a.analyze("gizona eta etxeak")
    # 'eta' is a stopword; positions keep the gap
    assert an.tokens == [basque_light_stem("gizona"), basque_light_stem("etxeak")]
    assert an.positions == [0, 2]


def test_analyzer_for_basque():
    a = analyzer_for(
        "basque", stop_words=frozenset({"x"}),
        max_token_length=255, ascii_only=False,
    )
    assert a.stop_words == BASQUE_STOP_WORDS
    assert a.analyze_query("etxeak") == ["etxe"]


def test_term_filter_unique_namespaced_passthrough():
    arr = np.array(["etxeak", "lang:etxeak"], dtype=object)
    assert list(analyzer_for("basque", frozenset(), 255, False).term_filter_unique(arr)) == ["etxe", "lang:etxeak"]


def test_arrow_fast_path_kept():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("basque", frozenset(), 255, False))
