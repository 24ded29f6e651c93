"""HindiAnalyzer pack: Indic/Hindi normalization + the published
Ramanathan & Rao light stemmer (Analysis/Hi/HindiAnalyzer.cs:47 +
HindiNormalizer.cs + HindiStemmer.cs, implemented from the EACL 2003
paper), hand-traced goldens + chain integration."""

import numpy as np
import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.hindi import (
    HINDI_STOP_WORDS,
    hindi_light_stem,
    hindi_normalize,
)

GOLDEN = [
    ("लड़का", "लडक"),        # nukta removed, final -ा stripped
    ("लड़कियाँ", "लडक"),     # chandrabindu->anusvara, -ियां stripped
    ("लडके", "लडक"),         # final -े
    ("किताबें", "किताब"),     # plural -ें
    ("किताबों", "किताब"),     # oblique plural -ों
    ("करने", "कर"),          # infinitive oblique -ने
    ("करता", "कर"),          # imperfective -ता
    ("करती", "कर"),          # imperfective feminine -ती
    ("आदमियों", "आदम"),     # -ियों stripped
    ("जाएगी", "जाएग"),       # -ाएगी refused (1-letter remainder), -ी strips
    ("घर", "घर"),            # bare root untouched
]


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert hindi_light_stem(surface) == stem


def test_normalization():
    assert hindi_normalize("लड़का") == "लडका"        # nukta
    assert hindi_normalize("लड़कियाँ") == "लडकियां"  # chandrabindu
    # precomposed nukta letter (U+095B) -> base
    assert hindi_normalize("ज़") == "ज"


def test_paradigm_conflates():
    forms = ["लडका", "लडके", "लड़का"]
    assert {hindi_light_stem(f) for f in forms} == {"लडक"}
    forms = ["करने", "करता", "करती"]
    assert {hindi_light_stem(f) for f in forms} == {"कर"}


def test_latin_passthrough():
    assert hindi_light_stem("merge") == "merge"


def test_single_longest_strip():
    # one suffix strip per word, longest match first
    assert hindi_light_stem("किताबें") == "किताब"
    assert hindi_light_stem("किताब") == "किताब"


def test_chain_stop_and_positions():
    a = analyzer_for("hindi", HINDI_STOP_WORDS, 255, False)
    an = a.analyze("वह किताबें और घर")
    # 'वह' and 'और' are stopwords; positions keep the gaps
    assert an.tokens == [hindi_light_stem("किताबें"), "घर"]
    assert an.positions == [1, 3]


def test_analyzer_for_hindi():
    a = analyzer_for(
        "hindi", stop_words=frozenset({"x"}),
        max_token_length=255, ascii_only=False,
    )
    assert a.stop_words == HINDI_STOP_WORDS
    assert a.analyze_query("किताबें") == ["किताब"]


def test_tokenizer_keeps_matras():
    # combining marks are word-Extend (UAX#29): a matra'd word is ONE token
    a = analyzer_for("hindi", frozenset(), 255, False)
    assert a.tokenize("लड़कियाँ और किताबें") == ["लड़कियाँ", "और", "किताबें"]


def test_term_filter_unique_namespaced_passthrough():
    arr = np.array(["किताबें", "lang:किताबें"], dtype=object)
    assert list(analyzer_for("hindi", frozenset(), 255, False).term_filter_unique(arr)) == ["किताब", "lang:किताबें"]


def test_arrow_fast_path_kept():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("hindi", frozenset(), 255, False))
