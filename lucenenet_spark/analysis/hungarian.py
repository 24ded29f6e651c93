"""Hungarian light stemmer + stop list — the HungarianAnalyzer pack.

Implements a LIGHT Hungarian stemmer in the UniNE family (J. Savoy &
L. Dolamic's published light-stemming approach for Hungarian — the same
lineage as the reference's Analysis/Hu/HungarianLightStemmer.cs, whose
chain is Analysis/Hu/HungarianAnalyzer.cs:120 StandardTokenizer ->
LowerCase -> StopFilter(Hungarian) -> HungarianLightStemFilter).
Hungarian marks case and number with vowel-harmony suffix pairs; the
light approach strips the most frequent case endings and the plural,
leaving derivation alone. Original implementation from the published
descriptions; behavior is pinned by the golden suite in
tests/test_hungarian.py.

Steps (words shorter than 4 letters pass through; vowel-harmony pairs
are listed in both grades):

1. ONE longest-match case ending from the table (accusative ``-t`` with
   its link vowels, dative ``-nak/-nek``, the locative family
   ``-ban/-ben/-ba/-be/-ra/-re/-on/-en/-ön``, instrumental
   ``-val/-vel``, ablatives ``-ból/-ből/-ról/-ről/-tól/-től``, allatives
   ``-hoz/-hez/-höz``), provided >= 3 letters remain;
2. then the plural ``-ok/-ek/-ak/-ök/-k`` (so ``házakat`` -> accusative
   ``-at`` -> ``házak`` -> plural ``-ak``... is resolved in one pass by
   the combined ``-okat/-eket/-akat/-öket`` rows), provided >= 3 letters
   remain;
3. final link-vowel ``a``/``e`` left by a strip simplifies only via the
   combined rows — no bare final-vowel rule (Hungarian roots commonly
   end in vowels).

Vectorization contract: the stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique) —
vocabulary cost, never per-token cost. ':'-namespaced field postings
pass through.
"""

from __future__ import annotations


# High-frequency core of the Snowball Hungarian stop list
# (HungarianAnalyzer.cs:52 loads snowball hungarian_stop.txt; the long
# tail is omitted — the documented divergence shared by the other packs)
HUNGARIAN_STOP_WORDS: frozenset[str] = frozenset(
    """
    a az és hogy nem is egy van volt lesz de ha csak már még mint el ki
    be fel le meg át rá ide oda vissza mert mi mit ez ezt ezek azok ő ők
    őt én te mi ti ők neki nekem neked vele velem ezzel azzal arra erre
    abban ebben annak ennek azt után előtt alatt felett között mellett
    által nélkül helyett ellen felé körül óta pedig vagy hát aki ami
    amely amelyek ahol amikor akkor itt ott hol most aztán tehát illetve
    sem se sok több minden semmi valami olyan ilyen úgy így nagyon lehet
    kell volna lenne
    """.split()
)

# (suffix, chars to strip) — longest-first; combined plural+accusative
# rows first so one pass resolves them
_SUFFIXES: tuple[tuple[str, int], ...] = (
    ("okat", 4), ("eket", 4), ("akat", 4), ("öket", 4),
    ("oknak", 5), ("eknek", 5), ("aknak", 5),
    ("okban", 5), ("ekben", 5), ("akban", 5),
    ("nak", 3), ("nek", 3), ("ban", 3), ("ben", 3),
    ("ból", 3), ("ből", 3), ("ról", 3), ("ről", 3), ("tól", 3), ("től", 3),
    ("val", 3), ("vel", 3), ("hoz", 3), ("hez", 3), ("höz", 3),
    ("nál", 3), ("nél", 3),
    ("ok", 2), ("ek", 2), ("ak", 2), ("ök", 2),
    ("ot", 2), ("et", 2), ("at", 2), ("öt", 2),
    ("ba", 2), ("be", 2), ("ra", 2), ("re", 2),
    ("on", 2), ("en", 2), ("ön", 2), ("an", 2),
    ("t", 1), ("k", 1),
)


def hungarian_light_stem(term: str) -> str:
    """Stem one lowercase Hungarian term (light rules above)."""
    if len(term) < 4:
        return term
    s = term
    for suf, n in _SUFFIXES:
        if s.endswith(suf) and len(s) - n >= 3:
            s = s[:-n]
            break
    return s
