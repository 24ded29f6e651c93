"""PersianAnalyzer pack: Arabic+Persian orthographic normalization, NO
stemmer (Analysis/Fa/PersianAnalyzer.cs:48 + PersianNormalizer.cs,
implemented from the published equivalences), goldens + chain
integration."""

import numpy as np
import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.persian import (
    PERSIAN_STOP_WORDS,
    persian_normalize,
)

GOLDEN = [
    ("كتاب", "کتاب"),      # arabic kaf -> keheh
    ("علي", "علی"),        # arabic yeh -> farsi yeh
    ("موسى", "موسی"),      # alef maksura -> farsi yeh
    ("مدرسة", "مدرسه"),    # teh marbuta -> heh
    ("آباد", "اباد"),       # alef madda -> alef
    ("أمر", "امر"),         # hamza above -> alef
    ("كـتـاب", "کتاب"),    # tatweel removed + kaf mapped
    ("کتاب", "کتاب"),      # already-Persian spelling: fixed point
]


@pytest.mark.parametrize("surface,norm", GOLDEN)
def test_golden_normalization(surface, norm):
    assert persian_normalize(surface) == norm


def test_harakat_removed():
    assert persian_normalize("كِتَابٌ") == "کتاب"


def test_zwnj_removed_inside_term():
    # U+200C survives tokenization only if the tokenizer kept the run;
    # normalization deletes it either way
    assert persian_normalize("می‌شود") == "میشود"


def test_arabic_and_persian_spellings_conflate():
    assert persian_normalize("كتاب") == persian_normalize("کتاب")
    assert persian_normalize("علي") == persian_normalize("علی")


def test_latin_passthrough():
    assert persian_normalize("merge") == "merge"


def test_no_stemming():
    # the reference chain has no stemmer: inflected forms stay distinct
    assert persian_normalize("کتابها") == "کتابها"


def test_chain_stop_and_positions():
    a = analyzer_for("persian", PERSIAN_STOP_WORDS, 255, False)
    an = a.analyze("او كتاب را خواند")
    # 'او' and 'را' are stopwords; positions keep the gaps
    assert an.tokens == ["کتاب", "خواند"]
    assert an.positions == [1, 3]


def test_analyzer_for_persian():
    a = analyzer_for(
        "persian", stop_words=frozenset({"x"}),
        max_token_length=255, ascii_only=False,
    )
    assert a.stop_words == PERSIAN_STOP_WORDS
    assert a.analyze_query("مدرسة") == ["مدرسه"]


def test_term_filter_unique_namespaced_passthrough():
    arr = np.array(["كتاب", "lang:كتاب"], dtype=object)
    assert list(analyzer_for("persian", frozenset(), 255, False).term_filter_unique(arr)) == ["کتاب", "lang:كتاب"]


def test_arrow_fast_path_kept():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("persian", frozenset(), 255, False))
