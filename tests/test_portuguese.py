"""PortugueseLightAnalyzer pack: UniNE/RSLP light rules
(Analysis/Pt/PortugueseAnalyzer.cs:119-133 + PortugueseLightStemmer.cs,
implemented from the published rule tables — Orengo & Huyck SPIRE 2001,
Savoy ACM SAC 2006), hand-traced goldens + routed-build integration."""

import numpy as np
import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.portuguese import (
    PORTUGUESE_STOP_WORDS,
    portuguese_light_stem,
)

GOLDEN = [
    ("flores", "flor"),          # -res plural: strip es
    ("luzes", "luz"),            # -zes plural
    ("bons", "bom"),             # -ns -> -m
    ("papéis", "papel"),         # fold + -eis -> -el
    ("animais", "animal"),       # -ais -> -al
    ("lençóis", "lencol"),       # fold (ç, ó) + -ois -> -ol
    ("barris", "barril"),        # -is -> -il
    ("botões", "bota"),          # fold + -oes -> -ao, then theme -o strip
    ("capitães", "capita"),      # fold + -aes -> -ao, then theme -o strip
    ("rapidamente", "rapid"),    # adverb -mente strip
    ("meninas", "menin"),        # plain -s plural + theme vowel
    ("casinha", "casinh"),       # feminine -inha -> -inho, then -o strip
    ("primeira", "primeir"),     # -eira -> -eiro, then -o strip
    ("famosa", "famos"),         # -osa -> -oso, then -o strip
    ("chegada", "chegad"),       # -ada -> -ado, then -o strip
    ("carro", "carr"),           # theme vowel -o
    ("casa", "casa"),            # len 4: plural/theme rules need > 4
    ("três", "tre"),             # fold + -es with s[-3]='r': strip es
]


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert portuguese_light_stem(surface) == stem


def test_feminine_maps_to_masculine_form():
    # the point of feminine normalization: both genders conflate
    assert portuguese_light_stem("famosa") == portuguese_light_stem("famoso")
    assert portuguese_light_stem("chegada") == portuguese_light_stem("chegado")
    assert portuguese_light_stem("primeira") == portuguese_light_stem("primeiro")


def test_short_words_untouched():
    assert portuguese_light_stem("pé") == "pé"
    assert portuguese_light_stem("mar") == "mar"


def test_chain_stop_and_positions():
    a = analyzer_for("portuguese", PORTUGUESE_STOP_WORDS, 255, False)
    an = a.analyze("as flores de um jardim")
    assert an.tokens == ["flor", "jardim"]
    assert an.positions == [1, 4]


def test_analyzer_for_portuguese():
    a = analyzer_for(
        "portuguese", stop_words=frozenset({"x"}),
        max_token_length=255, ascii_only=False,
    )
    assert a.stop_words == PORTUGUESE_STOP_WORDS
    assert a.analyze_query("animais") == ["animal"]


def test_term_filter_unique_namespaced_passthrough():
    arr = np.array(["flores", "lang:flores", "title:flores"], dtype=object)
    out = analyzer_for("portuguese", frozenset(), 255, False).term_filter_unique(arr)
    assert list(out) == ["flor", "lang:flores", "title:flores"]


def test_arrow_fast_path_kept():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("portuguese", frozenset(), 255, False))
