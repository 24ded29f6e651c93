"""Danish light stemmer + stop list — the DanishAnalyzer pack.

Implements a LIGHT Danish stemmer in the Nordic-light family (the
reference's DanishAnalyzer chains the Snowball Danish stemmer,
Analysis/Da/DanishAnalyzer.cs:120 StandardTokenizer -> LowerCase ->
StopFilter(Danish) -> SnowballFilter(DanishStemmer); this pack takes the
published LIGHT alternative from the UniNE Nordic reports — same
suffix inventory as Snowball's step-1 list, single longest-match strip,
no R1 machinery — the same simplification the sv/no packs document).
Rules target the noun declensions (indefinite/definite singular
``-en/-et``, plural ``-er/-e``, definite plural ``-ene/-erne``), the
``-hed`` nominal family, and the verbal ``-ende/-erende`` participles.
Original implementation from the published descriptions; behavior is
pinned by the golden suite in tests/test_danish.py.

Steps (words shorter than 4 letters pass through; æ/ø/å are distinct
letters, never folded):

1. genitive: strip a final ``s`` when > 4 letters;
2. ONE longest-match suffix strip from the table, provided >= 3 letters
   remain; the ``hed`` family strips to the adjective root in one step
   (``mulighederne``/``muligheden``/``muligheder``/``mulighed`` ->
   ``mulig``);
3. a final doubled consonant left by a strip simplifies (``hunden`` ->
   ``hund``; ``kat``/``katten`` -> ``kat``) — Snowball Danish's
   step-2/3 undoubling, kept because Danish doubles stem-final
   consonants before vowel-initial endings.

Vectorization contract: the stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique) —
vocabulary cost, never per-token cost. ':'-namespaced field postings
pass through.
"""

from __future__ import annotations


# High-frequency core of the Snowball Danish stop list
# (DanishAnalyzer.cs:52 loads snowball danish_stop.txt; tail omitted —
# the documented divergence shared by the other packs)
DANISH_STOP_WORDS: frozenset[str] = frozenset(
    """
    og i jeg det at en den til er som på de med han af for ikke der var så
    mig sig men et har om vi min havde ham hun nu over da fra du ud sin
    dem os op man hans hvor eller hvad skal selv her alle vil blev kunne
    ind når være dog noget ville jo deres efter ned skulle denne end
    dette mit også under have dig anden hende mine alt meget sit sine
    vor mod disse hvis din nogle hos blive mange ad bliver hendes været
    thi jer sådan
    """.split()
)

_SUFFIXES: tuple[tuple[str, int], ...] = (
    ("hedernes", 8),
    ("hederne", 7), ("heden", 5), ("heder", 5),
    ("erende", 6), ("erede", 5),
    ("ende", 4), ("erne", 4), ("enes", 4), ("eres", 4),
    ("ene", 3), ("ere", 3), ("hed", 3), ("ers", 3), ("ets", 3),
    ("er", 2), ("en", 2), ("et", 2), ("es", 2),
    ("e", 1),
)

_CONSONANTS = "bcdfghjklmnpqrstvwxz"


def danish_light_stem(term: str) -> str:
    """Stem one lowercase Danish term (light rules above)."""
    if len(term) < 4:
        return term
    s = term
    if len(s) > 4 and s.endswith("s"):
        s = s[:-1]
    for suf, n in _SUFFIXES:
        if s.endswith(suf) and len(s) - n >= 3:
            s = s[:-n]
            break
    if len(s) >= 4 and s[-1] == s[-2] and s[-1] in _CONSONANTS:
        s = s[:-1]
    return s
