"""ArabicLightAnalyzer pack: the published light10 stemmer (Larkey,
Ballesteros & Connell, SIGIR 2002 / 2007 journal version;
Analysis/Ar/ArabicAnalyzer.cs:43 + ArabicNormalizer.cs + ArabicStemmer.cs),
hand-traced goldens + chain integration."""

import numpy as np
import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.arabic import (
    ARABIC_STOP_WORDS,
    arabic_light_stem,
    arabic_normalize,
)

NORMALIZE = [
    ("أحمد", "احمد"),        # hamza-above alef -> bare alef
    ("إسلام", "اسلام"),      # hamza-below alef -> bare alef
    ("آخر", "اخر"),          # madda alef -> bare alef
    ("مستشفى", "مستشفي"),    # final alef maqsura -> ya
    ("مدرسة", "مدرسه"),      # ta marbuta -> ha
    ("كتــاب", "كتاب"),      # tatweel removed
    ("كَتَبَ", "كتب"),        # harakat removed
]

GOLDEN = [
    ("الكتاب", "كتاب"),       # definite article ال
    ("والكتاب", "كتاب"),      # وال
    ("بالكتاب", "كتاب"),      # بال
    ("للكتاب", "كتاب"),       # لل
    ("كتابها", "كتاب"),       # suffix ها
    ("مكتبات", "مكتب"),       # suffix ات
    ("مسلمون", "مسلم"),       # suffix ون
    ("مسلمين", "مسلم"),       # suffix ين
    ("مدرسة", "مدرس"),        # ta marbuta -> ha, then suffix ه
    ("العربية", "عرب"),       # ال strip; ة -> ه, then يه suffix strip
    ("وكتاب", "كتاب"),        # waw conjunction
    ("table", "table"),       # Latin token in a mixed corpus: pass through
]


@pytest.mark.parametrize("surface,norm", NORMALIZE)
def test_normalization(surface, norm):
    assert arabic_normalize(surface) == norm


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert arabic_light_stem(surface) == stem


def test_article_forms_conflate():
    forms = ["كتاب", "الكتاب", "والكتاب", "بالكتاب", "للكتاب"]
    assert len({arabic_light_stem(f) for f in forms}) == 1


def test_min_length_guards():
    # the bare article is a stopword-like token: stripping ال from a
    # 3-letter word would leave 1 letter — refused
    assert arabic_light_stem("الم") == "الم"
    # waw strip needs >= 3 remaining
    assert arabic_light_stem("ولد") == "ولد"


def test_chain_stop_and_positions():
    a = analyzer_for("arabic", ARABIC_STOP_WORDS, 255, False)
    an = a.analyze("هذا الكتاب في المكتبة")
    # 'هذا' and 'في' are stopwords; positions keep the gaps
    assert an.tokens == [
        arabic_light_stem("الكتاب"),
        arabic_light_stem("المكتبة"),
    ]
    assert an.positions == [1, 3]


def test_analyzer_for_arabic():
    a = analyzer_for(
        "arabic", stop_words=frozenset({"x"}),
        max_token_length=255, ascii_only=False,
    )
    assert a.stop_words == ARABIC_STOP_WORDS
    assert a.analyze_query("والكتاب") == ["كتاب"]


def test_term_filter_unique_namespaced_passthrough():
    arr = np.array(["الكتاب", "lang:الكتاب"], dtype=object)
    out = analyzer_for("arabic", frozenset(), 255, False).term_filter_unique(arr)
    assert list(out) == ["كتاب", "lang:الكتاب"]


def test_arrow_fast_path_kept():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("arabic", frozenset(), 255, False))
