"""BrazilianLightAnalyzer pack: RSLP light steps from the published
Orengo & Huyck 2001 paper (Analysis/Br/BrazilianAnalyzer.cs:43 +
BrazilianStemmer.cs as the spec), hand-traced goldens + chain
integration; asserts divergence from the UniNE ``portuguese`` pack."""

import numpy as np
import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.brazilian import (
    BRAZILIAN_STOP_WORDS,
    brazilian_light_stem,
)

GOLDEN = [
    ("casas", "cas"),             # plural -s, then final vowel
    ("casa", "cas"),
    ("corações", "coraca"),       # -ões -> -ão, vowel, fold
    ("coração", "coraca"),
    ("bons", "bom"),              # -ns -> -m
    ("bom", "bom"),
    ("animais", "animal"),        # -ais -> -al
    ("rapidamente", "rapid"),     # adverb -mente, then vowel
    ("rápida", "rapid"),
    ("livrinhos", "livr"),        # plural + diminutive
    ("livros", "livr"),
    ("livro", "livr"),
    ("flores", "flor"),           # -res -> -r
    ("mar", "mar"),               # len 3: untouched
]


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert brazilian_light_stem(surface) == stem


def test_paradigm_conflates():
    assert {
        brazilian_light_stem(f) for f in ["corações", "coração"]
    } == {"coraca"}
    assert {
        brazilian_light_stem(f) for f in ["livrinhos", "livros", "livro"]
    } == {"livr"}
    assert {
        brazilian_light_stem(f) for f in ["rapidamente", "rápida"]
    } == {"rapid"}


def test_distinct_from_portuguese_pack():
    # The reference ships Br and Pt as separate stemmers; ours differ
    # observably too (RSLP diminutive step vs UniNE rules).
    from lucenenet_spark.analysis.portuguese import portuguese_light_stem

    assert brazilian_light_stem("livrinhos") == "livr"
    assert portuguese_light_stem("livrinhos") != "livr"


def test_chain_stop_and_positions():
    a = analyzer_for("brazilian", BRAZILIAN_STOP_WORDS, 255, False)
    an = a.analyze("as casas e os livros")
    assert an.tokens == ["cas", "livr"]
    assert an.positions == [1, 4]


def test_analyzer_for_brazilian():
    a = analyzer_for(
        "brazilian", stop_words=frozenset({"x"}),
        max_token_length=255, ascii_only=False,
    )
    assert a.stop_words == BRAZILIAN_STOP_WORDS
    assert a.analyze_query("corações") == ["coraca"]


def test_term_filter_unique_namespaced_passthrough():
    arr = np.array(["casas", "lang:casas"], dtype=object)
    assert list(analyzer_for("brazilian", frozenset(), 255, False).term_filter_unique(arr)) == ["cas", "lang:casas"]


def test_arrow_fast_path_kept():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("brazilian", frozenset(), 255, False))
