"""BulgarianLightAnalyzer pack: BulStem-family light rules
(Analysis/Bg/BulgarianAnalyzer.cs:55 + BulgarianStemmer.cs, implemented
from the published Nakov 2003 / Savoy descriptions), hand-traced goldens
+ chain integration."""

import numpy as np
import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.bulgarian import (
    BULGARIAN_STOP_WORDS,
    bulgarian_light_stem,
)

GOLDEN = [
    ("градовете", "град"),     # article -те then plural -ове
    ("градове", "град"),       # plural -ове
    ("градът", "град"),        # masculine article -ът
    ("града", "град"),         # short article -а
    ("книгата", "книг"),       # feminine article -та then link vowel
    ("книги", "книг"),         # -и plural after consonant
    ("книга", "книг"),         # link vowel
    ("студентите", "студент"), # plural article -ите
    ("студенти", "студент"),   # -и plural
    ("морето", "мор"),         # neuter article -то then link vowel
    ("хубавият", "хубав"),     # full masculine adjective article -ият
    ("град", "град"),          # bare root untouched
    ("дом", "дом"),            # len 3: untouched
]


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert bulgarian_light_stem(surface) == stem


def test_paradigm_conflates():
    forms = ["град", "градът", "града", "градове", "градовете"]
    assert {bulgarian_light_stem(f) for f in forms} == {"град"}
    forms = ["книга", "книгата", "книги"]
    assert {bulgarian_light_stem(f) for f in forms} == {"книг"}


def test_latin_passthrough():
    # script guard: only Cyrillic terms are rewritten
    assert bulgarian_light_stem("merge") == "merge"
    assert bulgarian_light_stem("data") == "data"


def test_chain_stop_and_positions():
    a = analyzer_for("bulgarian", BULGARIAN_STOP_WORDS, 255, False)
    an = a.analyze("той чете книгата в града")
    # 'той' and 'в' are stopwords; positions keep the gaps
    assert an.tokens == [
        bulgarian_light_stem("чете"),
        bulgarian_light_stem("книгата"),
        bulgarian_light_stem("града"),
    ]
    assert an.positions == [1, 2, 4]


def test_analyzer_for_bulgarian():
    a = analyzer_for(
        "bulgarian", stop_words=frozenset({"x"}),
        max_token_length=255, ascii_only=False,
    )
    assert a.stop_words == BULGARIAN_STOP_WORDS
    assert a.analyze_query("градовете") == ["град"]


def test_term_filter_unique_namespaced_passthrough():
    arr = np.array(["градовете", "lang:градовете"], dtype=object)
    assert list(analyzer_for("bulgarian", frozenset(), 255, False).term_filter_unique(arr)) == ["град", "lang:градовете"]


def test_arrow_fast_path_kept():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("bulgarian", frozenset(), 255, False))
