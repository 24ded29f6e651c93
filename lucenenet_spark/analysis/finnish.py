"""Finnish light stemmer + stop list — the FinnishAnalyzer pack.

Implements a LIGHT Finnish stemmer in the UniNE family (J. Savoy,
*Report on CLEF-2003 monolingual tracks* and the UniNE light-stemmer
lineage behind the reference's Analysis/Fi/FinnishLightStemmer.cs, whose
chain is Analysis/Fi/FinnishAnalyzer.cs:120 StandardTokenizer ->
LowerCase -> StopFilter(Finnish) -> FinnishLightStemFilter). Finnish is
agglutinative; the light approach removes the most frequent case/number
endings rather than attempting full morphological analysis. Original
implementation from the published descriptions; behavior is pinned by
the golden suite in tests/test_finnish.py.

Steps (words shorter than 4 letters pass through; ä/ö are distinct
Finnish letters, never folded):

1. possessive: strip final ``nsa``/``nsä`` (3) or ``ni``/``si`` (2) when
   >= 4 letters remain;
2. ONE longest-match case/number ending from the table below (plural
   ``i``-stem forms first, so ``taloissa`` -> ``talo`` in one strip),
   provided >= 3 letters remain;
3. final doubled vowel simplifies (``oo``->``o``, ``ee``->``e``, ...) —
   the UniNE normalization that conflates illative forms (``taloon`` ->
   strip ``n`` -> ``taloo`` -> ``talo``).

Vectorization contract: the stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique) —
vocabulary cost, never per-token cost. ':'-namespaced field postings
pass through.
"""

from __future__ import annotations


# High-frequency core of the Snowball Finnish stop list (the reference
# loads snowball finnish_stop.txt at FinnishAnalyzer.cs:52; the long
# inflected-pronoun tail is omitted — the documented divergence shared
# by the other packs)
FINNISH_STOP_WORDS: frozenset[str] = frozenset(
    """
    olla olen olet on olemme olette ovat ole oli olisi olisit olisin
    olisimme olisitte olisivat olit olin olimme olitte olivat ollut
    olleet en et ei emme ette eivät minä minun minut minua minussa
    minusta minuun minulla minulta minulle sinä sinun hän hänen se sen
    sitä siinä siitä siihen sillä siltä sille me te he ketä kuka mikä
    mitä missä mistä mihin millä miltä mille joka jonka jota jossa josta
    johon jolla jolta jolle ja että jos koska kuin mutta niin sekä sitten
    tai vaan vai vaikka kanssa mukaan noin poikki yli kun nyt itse
    """.split()
)

# (suffix, chars to strip) — longest-first; the i-stem plural rows strip
# the plural marker together with the case ending
_SUFFIXES: tuple[tuple[str, int], ...] = (
    ("issa", 4), ("issä", 4), ("ista", 4), ("istä", 4),
    ("illa", 4), ("illä", 4), ("ilta", 4), ("iltä", 4),
    ("ille", 4), ("iksi", 4), ("iden", 4), ("itten", 5), ("ien", 3),
    ("ssa", 3), ("ssä", 3), ("sta", 3), ("stä", 3),
    ("lla", 3), ("llä", 3), ("lta", 3), ("ltä", 3),
    ("lle", 3), ("ksi", 3), ("nsa", 3), ("nsä", 3),
    ("ina", 3), ("inä", 3),
    ("na", 2), ("nä", 2), ("ta", 2), ("tä", 2), ("in", 2),
    ("a", 1), ("ä", 1), ("n", 1), ("t", 1), ("i", 1), ("e", 1),
)

_VOWELS = "aeiouyäö"


def finnish_light_stem(term: str) -> str:
    """Stem one lowercase Finnish term (light rules above)."""
    if len(term) < 4:
        return term
    s = term
    # possessive suffixes before case endings; -ni/-si attach to vowel
    # stems only (so the translative -ksi is never mistaken for -si)
    for suf, n in (("nsa", 3), ("nsä", 3), ("ni", 2), ("si", 2)):
        if (
            s.endswith(suf) and len(s) - n >= 4
            and (n == 3 or s[-3] in _VOWELS)
        ):
            s = s[:-n]
            break
    for suf, n in _SUFFIXES:
        if s.endswith(suf) and len(s) - n >= 3:
            s = s[:-n]
            break
    if len(s) >= 4 and s[-1] == s[-2] and s[-1] in _VOWELS:
        s = s[:-1]
    return s
