"""SoraniAnalyzer pack: published Esmaili et al. 2013 normalization +
suffix inventory (Analysis/Ckb/SoraniAnalyzer.cs + SoraniNormalizer.cs +
SoraniStemmer.cs), hand-traced goldens + chain integration."""

import numpy as np
import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.sorani import (
    SORANI_STOP_WORDS,
    sorani_light_stem,
    sorani_normalize,
)

GOLDEN = [
    ("کتابەکانەوە", "کتاب"),  # definite plural + postposition (one strip)
    ("کتابەکانی", "کتاب"),    # definite plural + izafe
    ("کتابەکان", "کتاب"),     # definite plural
    ("کتابەکە", "کتاب"),      # definite singular
    ("کتاب", "کتاب"),         # bare root untouched
    ("کوردستان", "کورد"),     # -ستان
    ("پیاوان", "پیاو"),        # plural -ان
    ("ماڵی", "ماڵ"),           # izafe -ی
    ("ماڵە", "ماڵ"),           # -ە
    ("شارێک", "شار"),          # indefinite -ێک
]


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert sorani_light_stem(surface) == stem


def test_normalization():
    # arabic kaf/yeh unify; final heh respells as the Kurdish ae vowel
    assert sorani_normalize("كتاب") == "کتاب"
    assert sorani_normalize("علي") == "علی"
    assert sorani_normalize("شاره") == "شارە"


def test_paradigm_conflates():
    forms = ["کتاب", "کتابەکە", "کتابەکان", "کتابەکانی", "کتابەکانەوە"]
    assert {sorani_light_stem(f) for f in forms} == {"کتاب"}


def test_latin_passthrough():
    assert sorani_light_stem("merge") == "merge"


def test_chain_stop_and_positions():
    a = analyzer_for("sorani", SORANI_STOP_WORDS, 255, False)
    an = a.analyze("ئەو کتابەکان و ماڵی")
    # 'ئەو' and 'و' are stopwords; positions keep the gaps
    assert an.tokens == [
        sorani_light_stem("کتابەکان"),
        sorani_light_stem("ماڵی"),
    ]
    assert an.positions == [1, 3]


def test_analyzer_for_sorani():
    a = analyzer_for(
        "sorani", stop_words=frozenset({"x"}),
        max_token_length=255, ascii_only=False,
    )
    assert a.stop_words == SORANI_STOP_WORDS
    assert a.analyze_query("کتابەکانەوە") == ["کتاب"]


def test_term_filter_unique_namespaced_passthrough():
    arr = np.array(["کتابەکان", "lang:کتابەکان"], dtype=object)
    assert list(analyzer_for("sorani", frozenset(), 255, False).term_filter_unique(arr)) == ["کتاب", "lang:کتابەکان"]


def test_arrow_fast_path_kept():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("sorani", frozenset(), 255, False))
