"""Basque light stemmer + stop list — the BasqueAnalyzer pack.

The reference chain is Analysis/Eu/BasqueAnalyzer.cs:40
StandardTokenizer -> LowerCase -> StopFilter(Basque) ->
SnowballFilter(Basque). Basque is agglutinative: the determiner and
case system attaches to the noun phrase's last word (etxea "the house",
etxeak "the houses / ergative", etxetik "from the house"). This pack
implements a LIGHT de-agglutination: ONE longest-match strip of the
frequent determiner + case endings from the published Snowball Basque
ending inventory, no multi-pass morphotactics — the documented
simplification relative to the full Snowball automaton. Original
implementation from the published inventory; behavior is pinned by the
golden suite in tests/test_basque.py.

Guard: >= 3 letters must remain, and the bare determiner ``-a`` is only
stripped from words of length >= 5 so short lexical roots ending in
``a`` (gela-type) survive more often than not — light-stemmer recall
over precision, same trade the UniNE family documents.

Vectorization contract: the stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique) —
vocabulary cost, never per-token cost. ':'-namespaced field postings
pass through.
"""

from __future__ import annotations


# High-frequency core of the Basque stop list shipped with the
# reference (Analysis/Eu/BasqueAnalyzer.cs DEFAULT_STOPWORD_FILE; tail
# omitted — the documented divergence shared by the other packs)
BASQUE_STOP_WORDS: frozenset[str] = frozenset(
    """
    eta edo baina ez bai da dira zen ziren izan du dute zuen zuten al
    ere bada badira ni hi hura gu zu zuek haiek nire zure bere gure
    hau hori horiek hauek hark honek horrek zer zein nor non noiz nola
    zergatik asko gutxi oso guzti dena denak bat batzuk beste bestea
    lehen gero orain hemen hor han barruan kanpoan artean aurrean
    atzean gainean azpian
    """.split()
)

# determiner + case endings, longest first (single strip; guards below)
_SUFFIXES: tuple[str, ...] = (
    "arengatik", "arentzat", "aretako",
    "arekin", "agatik", "entzat",
    "etako", "etara", "aren", "etan", "etik",
    "ekin", "antz",
    "ari", "tik", "koa", "rat",
    "ak", "ek", "en", "an", "ra", "az", "ko", "ok",
    "a",
)


def basque_light_stem(term: str) -> str:
    """Stem one lowercase Basque term (light de-agglutination above)."""
    if len(term) < 4:
        return term
    for suf in _SUFFIXES:
        if not term.endswith(suf):
            continue
        if suf == "a" and len(term) < 5:
            continue
        if len(term) - len(suf) >= 3:
            return term[: -len(suf)]
    return term
