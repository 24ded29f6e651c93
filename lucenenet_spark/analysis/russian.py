"""Russian light stemmer + stop list — the RussianAnalyzer pack.

Implements a LIGHT Russian stemmer in the UniNE family (J. Savoy's CLEF
monolingual-track reports; the same lineage as the reference's
Analysis/Ru/RussianLightStemmer.cs, whose chain is
Analysis/Ru/RussianAnalyzer.cs:48 StandardTokenizer -> LowerCase ->
StopFilter(Russian) -> RussianLightStemFilter). The suffix tables are the
published Snowball Russian noun/adjective case-ending inventories
(snowballstem.org, Porter's "Russian stemming algorithm"), applied in the
light style: ONE longest-match case/number ending is stripped per word,
followed by a small tidy-up — no RV-region bookkeeping, no verb/
superlative steps. Original implementation from the published ending
inventories; behavior is pinned by the golden suite in
tests/test_russian.py.

Steps (applied only to words that contain Cyrillic letters — Latin-script
tokens in a mixed corpus pass through unchanged, mirroring the
reference stemmer which only rewrites words in the Russian alphabet):

1. longest-match strip of ONE ending from the merged adjective + noun
   case/number tables below, provided >= 3 letters remain;
2. tidy-up: drop a final soft sign (``ь``) when >= 3 letters remain,
   then undouble a final ``нн``.

Vectorization contract: the stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique) — vocabulary
cost, never per-token cost. ':'-namespaced field postings pass through.
"""

from __future__ import annotations


# High-frequency core of the Snowball Russian stop list (the reference
# loads snowball russian_stop.txt at RussianAnalyzer.cs:61; the long tail
# of conjunction/particle variants is omitted — the documented divergence
# shared by the other packs)
RUSSIAN_STOP_WORDS: frozenset[str] = frozenset(
    """
    и в во не что он на я с со как а то все она так его но да ты к у же
    вы за бы по только ее мне было вот от меня еще нет о из ему теперь
    когда даже ну ли если уже или ни быть был него до вас вам ведь там
    потом себя ничего ей может они тут где есть надо ней для мы тебя их
    чем была сам чтоб без чего раз тоже себе под будет тогда кто этот
    """.split()
)

_CYRILLIC_RE = None  # built lazily; plain range check is enough


def _has_cyrillic(s: str) -> bool:
    return any("Ѐ" <= c <= "ӿ" for c in s)


# Merged case/number ending inventory: the Snowball Russian ADJECTIVE
# endings (ее ие ые ое ими ыми ей ий ый ой ем им ым ом его ого ему ому их
# ых ую юю ая яя ою ею) + NOUN endings (а ев ов ие ье е иями ями ами еи ии
# и ией ей ой ий й иям ям ием ем ам ом о у ах иях ях ы ь ию ью ю ия ья я),
# deduplicated and grouped longest-first so one pass strips the longest
# matching ending.
_ENDINGS: tuple[str, ...] = tuple(
    sorted(
        {
            # adjective
            "ее", "ие", "ые", "ое", "ими", "ыми", "ей", "ий", "ый", "ой",
            "ем", "им", "ым", "ом", "его", "ого", "ему", "ому", "их", "ых",
            "ую", "юю", "ая", "яя", "ою", "ею",
            # noun
            "а", "ев", "ов", "ье", "е", "иями", "ями", "ами", "еи", "ии",
            "и", "ией", "й", "иям", "ям", "ием", "ам", "о", "у", "ах",
            "иях", "ях", "ы", "ь", "ию", "ью", "ю", "ия", "ья", "я",
        },
        # longest first; ties broken lexicographically for determinism
        # (two same-length suffixes can never both match one word ending)
        key=lambda s: (-len(s), s),
    )
)


def russian_light_stem(term: str) -> str:
    """Stem one lowercase Russian term (light rules above). Non-Cyrillic
    terms pass through unchanged."""
    if len(term) < 4 or not _has_cyrillic(term):
        return term
    s = term
    for suf in _ENDINGS:
        if s.endswith(suf) and len(s) - len(suf) >= 3:
            s = s[: -len(suf)]
            break
    if len(s) > 3 and s.endswith("ь"):
        s = s[:-1]
    if s.endswith("нн"):
        s = s[:-1]
    return s
