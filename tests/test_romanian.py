"""RomanianLightAnalyzer pack: UniNE-family enclitic-article + plural
rules (Analysis/Ro/RomanianAnalyzer.cs:43 — the Snowball automaton is a
documented non-goal), hand-traced goldens + chain integration."""

import numpy as np
import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.romanian import (
    ROMANIAN_STOP_WORDS,
    romanian_light_stem,
)

GOLDEN = [
    ("băiatul", "băiat"),      # definite article -ul
    ("băiatului", "băiat"),    # genitive article -ului
    ("casele", "cas"),         # article -le then plural -e
    ("casa", "cas"),           # final -a
    ("case", "cas"),           # plural -e
    ("orașul", "oraș"),        # -ul; ș kept (no folding)
    ("orașele", "oraș"),       # -le then -e
    ("copiii", "copi"),        # triple-i: -ii then -i
    ("fetele", "fet"),         # -le then -e
    ("fată", "fat"),           # final -ă
    ("timpurile", "timp"),     # -urile (neuter plural article)
    ("timpurilor", "timp"),    # -urilor
    ("oraş", "oraș"),          # cedilla normalizes to comma-below
    ("zi", "zi"),              # short: untouched
]


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert romanian_light_stem(surface) == stem


def test_paradigm_conflates():
    forms = ["băiatul", "băiatului"]
    assert {romanian_light_stem(f) for f in forms} == {"băiat"}
    forms = ["casa", "case", "casele"]
    assert {romanian_light_stem(f) for f in forms} == {"cas"}
    forms = ["timpurile", "timpurilor"]
    assert {romanian_light_stem(f) for f in forms} == {"timp"}


def test_chain_stop_and_positions():
    a = analyzer_for("romanian", ROMANIAN_STOP_WORDS, 255, False)
    an = a.analyze("și casele din oraș")
    # 'și' and 'din' are stopwords; positions keep the gaps
    assert an.tokens == [
        romanian_light_stem("casele"),
        romanian_light_stem("oraș"),
    ]
    assert an.positions == [1, 3]


def test_analyzer_for_romanian():
    a = analyzer_for(
        "romanian", stop_words=frozenset({"x"}),
        max_token_length=255, ascii_only=False,
    )
    assert a.stop_words == ROMANIAN_STOP_WORDS
    assert a.analyze_query("băiatului") == ["băiat"]


def test_term_filter_unique_namespaced_passthrough():
    arr = np.array(["casele", "lang:casele"], dtype=object)
    assert list(analyzer_for("romanian", frozenset(), 255, False).term_filter_unique(arr)) == ["cas", "lang:casele"]


def test_arrow_fast_path_kept():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("romanian", frozenset(), 255, False))
