"""SpanishLightAnalyzer pack: UniNE light stemmer
(Analysis/Es/SpanishAnalyzer.cs:120-140 + SpanishLightStemmer.cs:63-100,
implemented from the published algorithm — Savoy, ACM SAC 2006),
hand-traced goldens + routed-build integration."""

import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.spanish import (
    SPANISH_STOP_WORDS,
    spanish_light_stem,
)

GOLDEN = [
    ("casas", "cas"),            # plain -as plural strip
    ("sociedades", "sociedad"),  # -es strip
    ("peces", "pez"),            # -ces -> -z (plural of 'pez')
    ("meses", "mes"),            # -eses -> -es rule fires first
    ("técnico", "tecnic"),       # accent fold + final -o
    ("librería", "libreri"),     # final -a after fold
    ("corazón", "corazon"),      # fold only: final 'n' has no rule
    ("casa", "casa"),            # len < 5: untouched
    ("chicle", "chicl"),         # final -e
    ("veces", "vez"),            # -ces -> -z again ('vez')
    ("jóvenes", "joven"),        # fold + plain -es strip
    ("grandes", "grand"),        # plain -es strip
]


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert spanish_light_stem(surface) == stem


def test_es_plural_rules_exactly():
    # the -s branch needs a vowel (o/a/e) at position -2
    assert spanish_light_stem("lunes") == "lun"        # -es strip (len 5 > 4)
    assert spanish_light_stem("altos") == "alt"        # -os strip
    assert spanish_light_stem("tesis") == "tesis"      # -is: no vowel at -2, no rule
    assert spanish_light_stem("jugar") == "jugar"      # final 'r': no rule


def test_chain_stop_and_positions():
    a = analyzer_for("spanish", SPANISH_STOP_WORDS, 255, False)
    an = a.analyze("las casas de los técnicos")
    assert an.tokens == ["cas", "tecnic"]
    assert an.positions == [1, 4]


def test_analyzer_for_spanish():
    a = analyzer_for("spanish", stop_words=frozenset({"x"}), max_token_length=255, ascii_only=False)
    assert a.stop_words == SPANISH_STOP_WORDS
    assert a.analyze_query("sociedades") == ["sociedad"]


def test_term_filter_unique_namespaced_passthrough():
    import numpy as np

    out = analyzer_for("spanish", frozenset(), 255, False).term_filter_unique(
        np.array(["casas", "title:casas"], dtype=object)
    )
    assert list(out) == ["cas", "title:casas"]


def test_arrow_fast_path():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert arrow_fast_path_for(analyzer_for("spanish", frozenset(), 255, False))


def test_routed_build_with_spanish(spark, tmp_path):
    """lang routing picks the Spanish chain for es docs; the default chain
    keeps surface forms."""
    from lucenenet_spark.index import IndexConfig, build_index
    from lucenenet_spark.query.ast import TermQuery
    from lucenenet_spark.query.engine import Searcher

    rows = [
        ("u://0", "las sociedades grandes", "es"),
        ("u://1", "plain english sociedades text", "en"),
    ]
    df = spark.createDataFrame(rows, "url string, text string, lang string")
    out = str(tmp_path / "idx_es")
    cfg = IndexConfig(
        num_partitions=2, flush_docs=64,
        lang_field="lang", lang_chains=(("es", "spanish"),),
    )
    build_index(spark, df, out, cfg, overwrite=True)
    s = Searcher(spark, out, scoring="exact_int")
    dm = {r["url"]: r["docid"] for r in s.docmap.select("url", "docid").collect()}
    assert {r["docid"] for r in s.score_df(TermQuery("sociedad")).collect()} == {dm["u://0"]}
    assert {r["docid"] for r in s.score_df(TermQuery("sociedades")).collect()} == {dm["u://1"]}
    assert s.analyzer_for_lang("es").analyze_query("peces") == ["pez"]
