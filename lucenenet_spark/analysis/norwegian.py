"""Norwegian light stemmer + stop list — the NorwegianAnalyzer pack.

Implements a LIGHT Norwegian (Bokmål) stemmer in the UniNE/Nordic-light
family (the lineage behind the reference's
Analysis/No/NorwegianLightStemmer.cs, chain
Analysis/No/NorwegianAnalyzer.cs:120 StandardTokenizer -> LowerCase ->
StopFilter(Norwegian) -> NorwegianLightStemFilter). Rules target the
regular noun declensions (indefinite/definite singular ``-en/-et/-a``,
plural ``-er/-ene/-ane``), the ``-het`` nominal family, and the verbal
``-ande/-ende`` participles. Original implementation from the published
light-stemming descriptions; behavior is pinned by the golden suite in
tests/test_norwegian.py.

Steps (words shorter than 4 letters pass through; æ/ø/å are distinct
letters, never folded):

1. genitive: strip a final ``s`` when > 4 letters;
2. ONE longest-match suffix strip from the table, provided >= 3 letters
   remain; the ``het`` family strips to the adjective root in one step
   (``mulighetene``/``muligheten``/``muligheter``/``mulighet`` -> ``mulig``).

Vectorization contract: the stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique) —
vocabulary cost, never per-token cost. ':'-namespaced field postings
pass through.
"""

from __future__ import annotations


# High-frequency core of the Snowball Norwegian stop list
# (NorwegianAnalyzer.cs:52 loads snowball norwegian_stop.txt; tail
# omitted — the documented divergence shared by the other packs)
NORWEGIAN_STOP_WORDS: frozenset[str] = frozenset(
    """
    og i jeg det at en et den til er som på de med han av ikke ikkje der
    så var meg seg men ett har om vi min mitt ha hadde hun nå over da
    ved fra du ut sin dem oss opp man kan hans hvor eller hva skal selv
    sjøl her alle vil bli ble blei bli blitt kunne inn når være kom noen
    noe ville dere som deres kun ja etter ned skulle denne for deg si
    sine sitt mot å meget hvorfor dette disse uten hvordan ingen din
    ditt blir samme hvilken hvilke sånn inni mellom vår hver hvem vors
    hvis både bare enn fordi før mange også slik vært
    """.split()
)

# (suffix, chars to strip) — longest-first; het-family conflates on the
# adjective root
_SUFFIXES: tuple[tuple[str, int], ...] = (
    ("hetene", 6), ("hetens", 6),
    ("heten", 5), ("heter", 5),
    ("ande", 4), ("ende", 4), ("edes", 4), ("enes", 4),
    ("ene", 3), ("ane", 3), ("ede", 3), ("het", 3), ("ers", 3), ("ets", 3),
    ("er", 2), ("en", 2), ("et", 2), ("ar", 2), ("st", 2), ("te", 2),
    ("a", 1), ("e", 1), ("n", 1), ("t", 1),
)


def norwegian_light_stem(term: str) -> str:
    """Stem one lowercase Norwegian term (light rules above)."""
    if len(term) < 4:
        return term
    s = term
    if len(s) > 4 and s.endswith("s"):
        s = s[:-1]
    for suf, n in _SUFFIXES:
        if s.endswith(suf) and len(s) - n >= 3:
            s = s[:-n]
            break
    return s
