"""LatvianLightAnalyzer pack: the published Kreslins affix inventory,
light form with the 2-syllable guard (Analysis/Lv/LatvianAnalyzer.cs:47
+ LatvianStemmer.cs), hand-traced goldens + chain integration."""

import numpy as np
import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.latvian import (
    LATVIAN_STOP_WORDS,
    latvian_light_stem,
)

GOLDEN = [
    ("grāmata", "grāmat"),     # nominative -a
    ("grāmatas", "grāmat"),    # genitive/plural -as
    ("grāmatām", "grāmat"),    # dative plural -ām
    ("grāmatu", "grāmat"),     # accusative -u
    ("bērni", "bērn"),         # plural -i
    ("bērniem", "bērn"),       # dative plural -iem
    ("skola", "skol"),         # -a
    ("skolās", "skol"),        # locative plural -ās
    ("skolotājiem", "skolotāj"),  # -iem
    ("vīram", "vīr"),          # dative -am
    ("ceļš", "ceļš"),          # one syllable: untouched (guard)
    ("zaļais", "zal"),         # definite adjective -ais + palatal ļ->l
    ("upe", "upe"),            # len 3: untouched
    ("upes", "upe"),           # genitive -s (two syllables)
]


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert latvian_light_stem(surface) == stem


def test_paradigm_conflates():
    forms = ["grāmata", "grāmatas", "grāmatām", "grāmatu"]
    assert {latvian_light_stem(f) for f in forms} == {"grāmat"}
    forms = ["bērni", "bērniem"]
    assert {latvian_light_stem(f) for f in forms} == {"bērn"}


def test_monosyllable_guard():
    # one vowel group: the stemmer must not touch it
    assert latvian_light_stem("tas") == "tas"
    assert latvian_light_stem("viss") == "viss"


def test_chain_stop_and_positions():
    a = analyzer_for("latvian", LATVIAN_STOP_WORDS, 255, False)
    an = a.analyze("es lasu grāmatas un bērni")
    # 'es' and 'un' are stopwords; positions keep the gaps
    assert an.tokens == [
        latvian_light_stem("lasu"),
        latvian_light_stem("grāmatas"),
        latvian_light_stem("bērni"),
    ]
    assert an.positions == [1, 2, 4]


def test_analyzer_for_latvian():
    a = analyzer_for(
        "latvian", stop_words=frozenset({"x"}),
        max_token_length=255, ascii_only=False,
    )
    assert a.stop_words == LATVIAN_STOP_WORDS
    assert a.analyze_query("grāmatām") == ["grāmat"]


def test_term_filter_unique_namespaced_passthrough():
    arr = np.array(["grāmatas", "lang:grāmatas"], dtype=object)
    assert list(analyzer_for("latvian", frozenset(), 255, False).term_filter_unique(arr)) == ["grāmat", "lang:grāmatas"]


def test_arrow_fast_path_kept():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("latvian", frozenset(), 255, False))
