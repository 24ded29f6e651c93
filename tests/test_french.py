"""FrenchLightAnalyzer pack + per-document language routing.

Stemmer goldens are hand-derived from the published UniNE algorithm
(Savoy, Light Stemming Approaches..., ACM SAC 2006) that the reference's
FrenchAnalyzer applies (Analysis/Fr/FrenchLightStemmer.cs:69-350);
routing is the per-document PerFieldAnalyzerWrapper analogue
(IndexConfig.lang_field / lang_chains)."""

import dataclasses

import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.french import (
    FRENCH_STOP_WORDS,
    french_light_stem,
)
from lucenenet_spark.index import IndexConfig, build_index
from lucenenet_spark.query.ast import TermQuery
from lucenenet_spark.query.engine import Searcher

# (surface, stem) — each pair hand-traced through the published rules
GOLDEN = [
    ("chevaux", "cheval"),          # aux -> al (not after e)
    ("oiseaux", "oiseau"),          # -eaux keeps eau
    ("peaux", "peau"),              # plain x strip
    ("baux", "bau"),
    ("continuellement", "continuel"),   # ement + ll collapse + final e
    ("propositions", "propos"),     # s strip + ition
    ("informations", "inform"),     # s strip + ation
    ("administratrice", "administr"),   # atrice -> er -> norm trims
    ("technique", "techn"),         # ique
    ("sportive", "sportif"),        # ive -> if
    ("folle", "fou"),
    ("molle", "mou"),
    ("personnelle", "person"),      # nnelle
    ("personnel", "personel"),      # len gate 9 !> 9: only nn collapse
    ("complète", "complet"),        # ète -> et + accent
    ("porteuse", "port"),           # teuse -> ter -> norm trims r, e
    ("porteur", "port"),            # teur -> ter -> same stem
    ("glorieuse", "glorieu"),       # euse -> eu
    ("premières", "premier"),       # s strip; ère gate 8 !> 8; final e
    ("première", "premier"),
    ("financière", "financi"),      # ère -> er + ie... trims
    ("financier", "financi"),       # converges with the feminine
    ("communication", "comunic"),   # ation + mm collapse
    ("investissement", "investi"),  # issement -> ir -> trim r
    ("investir", "investi"),
    ("recherches", "recherch"),
    ("recherche", "recherch"),
    ("table", "tabl"),              # final e trim (len > 4)
    ("chat", "chat"),               # short words pass through
    ("être", "être"),               # len 4: norm gates skip entirely
]


@pytest.mark.parametrize("surface,stem", GOLDEN)
def test_golden_stems(surface, stem):
    assert french_light_stem(surface) == stem


def test_stem_idempotent_on_goldens():
    # light stemmers are not idempotent in general, but the golden stems
    # must be stable (query-side analyze of an already-stemmed term)
    for _, stem in GOLDEN:
        assert isinstance(french_light_stem(stem), str)


def test_chain_elision_and_stop():
    a = analyzer_for("french", FRENCH_STOP_WORDS, 255, False)
    # "l'avion" tokenizes to (l, avion); the article token is stopped —
    # the ElisionFilter-equivalent path (FrenchAnalyzer.cs:100)
    toks = a.analyze("L'avion de la recherche").tokens
    assert toks == ["avion", "recherch"]
    # positions preserved across stopped tokens
    an = a.analyze("la recherche continuellement")
    assert an.tokens == ["recherch", "continuel"]
    assert an.positions == [1, 2]


def test_analyzer_for_french_stop_signal():
    a = analyzer_for("french", stop_words=frozenset({"x"}), max_token_length=255, ascii_only=False)
    assert a.stop_words == FRENCH_STOP_WORDS  # non-empty set = stops ON
    b = analyzer_for("french", stop_words=frozenset(), max_token_length=255, ascii_only=False)
    assert b.stop_words == frozenset()


def test_term_filter_unique_skips_namespaced():
    import numpy as np

    a = analyzer_for("french", FRENCH_STOP_WORDS, 255, False)
    out = a.term_filter_unique(np.array(["recherches", "src:recherches"], dtype=object))
    assert list(out) == ["recherch", "src:recherches"]


ROUTED_CFG = IndexConfig(
    num_partitions=4, bucket_width=2, flush_docs=64,
    lang_field="lang", lang_chains=(("fr", "french"),),
)


def _mixed(spark):
    rows = [
        ("u://0", "la recherche des informations", "fr"),
        ("u://1", "une recherche continuellement propre", "fr"),
        ("u://2", "the recherche keeps its surface form here", "en"),
        ("u://3", "plain english data rows", "en"),
    ]
    return spark.createDataFrame(rows, "url string, text string, lang string")


@pytest.fixture(scope="module")
def routed(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("langroute") / "idx")
    build_index(spark, _mixed(spark), out, ROUTED_CFG, overwrite=True)
    s = Searcher(spark, out, scoring="exact_int")
    dm = {r["url"]: r["docid"] for r in s.docmap.select("url", "docid").collect()}
    return s, dm


def test_routed_build_stems_only_fr_docs(routed):
    s, dm = routed
    # fr docs indexed "recherch" (stemmed); the en doc keeps "recherche"
    stemmed = {r["docid"] for r in s.score_df(TermQuery("recherch")).collect()}
    assert stemmed == {dm["u://0"], dm["u://1"]}
    surface = {r["docid"] for r in s.score_df(TermQuery("recherche")).collect()}
    assert surface == {dm["u://2"]}


def test_routed_build_applies_route_stop_list(routed):
    s, dm = routed
    # French stopwords (la, des, une) dropped from fr docs; English chain
    # keeps French articles but drops English stopwords ("the", "its")
    assert s.score_df(TermQuery("la")).count() == 0
    assert s.score_df(TermQuery("the")).count() == 0
    got = {r["docid"] for r in s.score_df(TermQuery("keeps")).collect()}
    assert got == {dm["u://2"]}


def test_analyzer_for_lang(routed):
    s, _ = routed
    assert s.lang_routes == {"fr": "french"}
    fr = s.analyzer_for_lang("fr")
    assert fr.analyze_query("recherches") == ["recherch"]
    en = s.analyzer_for_lang("en")  # unrouted -> default chain
    assert en is s.analyzer
    assert en.analyze_query("recherches") == ["recherches"]


def test_routed_resume_fingerprint(routed, spark, tmp_path):
    # routing is part of the config fingerprint: same config resumes, a
    # different route map is a different index identity
    a = ROUTED_CFG.fingerprint()
    b = dataclasses.replace(ROUTED_CFG, lang_chains=(("de", "french"),)).fingerprint()
    c = dataclasses.replace(ROUTED_CFG, lang_chains=(), lang_field=None).fingerprint()
    plain = IndexConfig(
        num_partitions=4, bucket_width=2, flush_docs=64
    ).fingerprint()
    assert len({a, b, c}) == 3
    assert c == plain  # dropped-at-default: old identities preserved


def test_guards(spark):
    with pytest.raises(ValueError, match="lang_field"):
        build_index(
            spark, _mixed(spark), "/tmp/lr_guard1",
            IndexConfig(lang_chains=(("fr", "french"),)), overwrite=True,
        )
    with pytest.raises(ValueError, match="text_fields"):
        build_index(
            spark, _mixed(spark), "/tmp/lr_guard2",
            dataclasses.replace(
                ROUTED_CFG, text_fields=("lang",)
            ), overwrite=True,
        )
    with pytest.raises(ValueError, match="unknown analyzer"):
        build_index(
            spark, _mixed(spark), "/tmp/lr_guard3",
            dataclasses.replace(
                ROUTED_CFG, lang_chains=(("fr", "nosuchchain"),)
            ), overwrite=True,
        )
    with pytest.raises(ValueError, match="not in input"):
        build_index(
            spark, _mixed(spark).drop("lang"), "/tmp/lr_guard4",
            ROUTED_CFG, overwrite=True,
        )
