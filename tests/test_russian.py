"""RussianLightAnalyzer pack: UniNE-family light rules over the published
Snowball Russian case-ending inventories (Analysis/Ru/RussianAnalyzer.cs:48
+ RussianLightStemmer.cs, implemented from the published inventories),
hand-traced goldens + chain integration."""

import numpy as np
import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.russian import (
    RUSSIAN_STOP_WORDS,
    russian_light_stem,
)

GOLDEN = [
    ("книгами", "книг"),      # noun instr pl -ами
    ("книги", "книг"),        # noun -и
    ("книга", "книг"),        # noun nom sg -а
    ("столом", "стол"),       # noun instr sg -ом
    ("столы", "стол"),        # noun nom pl -ы
    ("красивый", "красив"),   # adjective -ый
    ("красивыми", "красив"),  # adjective instr pl -ыми
    ("новая", "нов"),         # adjective fem -ая
    ("нового", "нов"),        # adjective gen -ого
    ("лошадь", "лошад"),      # noun -ь
    ("линия", "лин"),         # noun -ия
    ("станциями", "станц"),   # noun -иями (longest match beats -ями/-и)
    ("длинный", "длин"),      # -ый strip then нн undouble
    ("осенью", "осен"),       # noun -ью, then no soft sign left
    ("ночь", "ноч"),          # 4 letters: -ь ending leaves 3
    ("дом", "дом"),           # len 3: untouched
    ("table", "table"),       # Latin token in a mixed corpus: pass through
]


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert russian_light_stem(surface) == stem


def test_case_forms_conflate():
    # the point of case-ending removal: one lexeme, one postings term
    forms = ["книга", "книги", "книгами", "книгам", "книгах"]
    assert len({russian_light_stem(f) for f in forms}) == 1


def test_min_stem_length_guard():
    # stripping may never leave fewer than 3 letters
    assert russian_light_stem("сила") == "сил"
    assert russian_light_stem("сон") == "сон"


def test_chain_stop_and_positions():
    a = analyzer_for("russian", RUSSIAN_STOP_WORDS, 255, False)
    an = a.analyze("он читает книги в доме")
    # 'он' and 'в' are stopwords; positions keep the gaps
    assert an.tokens == [
        russian_light_stem("читает"),
        russian_light_stem("книги"),
        russian_light_stem("доме"),
    ]
    assert an.positions == [1, 2, 4]


def test_analyzer_for_russian():
    a = analyzer_for(
        "russian", stop_words=frozenset({"x"}),
        max_token_length=255, ascii_only=False,
    )
    assert a.stop_words == RUSSIAN_STOP_WORDS
    assert a.analyze_query("книгами") == ["книг"]


def test_term_filter_unique_namespaced_passthrough():
    arr = np.array(["книги", "lang:книги", "title:книги"], dtype=object)
    out = analyzer_for("russian", frozenset(), 255, False).term_filter_unique(arr)
    assert list(out) == ["книг", "lang:книги", "title:книги"]


def test_arrow_fast_path_kept():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("russian", frozenset(), 255, False))
