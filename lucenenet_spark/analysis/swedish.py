"""Swedish light stemmer + stop list — the SwedishAnalyzer pack.

Implements a LIGHT Swedish stemmer in the UniNE family (J. Savoy's CLEF
monolingual reports for the Nordic languages; the same lineage as the
reference's Analysis/Sv/SwedishLightStemmer.cs, whose chain is
Analysis/Sv/SwedishAnalyzer.cs:120 StandardTokenizer -> LowerCase ->
StopFilter(Swedish) -> SwedishLightStemFilter). Rules target the regular
noun declensions (-ar/-er/-or plurals and their definite forms -arna/
-erna/-orna, definite singular -en/-et), the -het(en/er/erna) nominal
suffix family, comparative/superlative -are/-ast(e), and the verbal
-ande/-else nominalizations. Original implementation from the published
descriptions of the light approach; behavior is pinned by the golden
suite in tests/test_swedish.py.

Steps (words shorter than 4 letters pass through unchanged; å/ä/ö are
distinct Swedish letters and are NOT folded):

1. genitive: strip a final ``s`` when > 4 letters (``bilens`` -> ``bilen``);
2. ONE longest-match suffix strip from the table below, provided >= 3
   letters remain; the ``het`` family strips down to the root in one step
   (``friheterna``/``friheten``/``friheter``/``frihet`` all -> ``fri``).

Vectorization contract: the stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique) — vocabulary
cost, never per-token cost. ':'-namespaced field postings pass through.
"""

from __future__ import annotations


# High-frequency core of the Snowball Swedish stop list (the reference
# loads snowball swedish_stop.txt at SwedishAnalyzer.cs:52; the long
# pronoun-variant tail is omitted — the documented divergence shared by
# the other packs)
SWEDISH_STOP_WORDS: frozenset[str] = frozenset(
    """
    och det att i en jag hon som han på den med var sig för så till är
    men ett om hade de av icke mig du henne då sin nu har inte hans honom
    skulle hennes där min man ej vid kunde något från ut när efter upp vi
    dem vara vad över än dig kan sina här ha mot alla under någon eller
    allt mycket sedan ju denna själv detta åt utan varit hur ingen mitt
    ni bli blev oss din dessa några deras blir mina samma vilken er vår
    dess inom mellan varför varje vilka ditt vem vilket våra ert era
    """.split()
)

# (suffix, chars to strip) — longest-first; the het-family entries strip
# past the inflection AND the -het nominalizer so the whole family
# conflates on the adjective root
_SUFFIXES: tuple[tuple[str, int], ...] = (
    ("heterna", 7),
    ("heten", 5), ("heter", 5),
    ("arna", 4), ("erna", 4), ("orna", 4), ("ande", 4), ("else", 4),
    ("aste", 4), ("aren", 4),
    ("are", 3), ("ast", 3), ("het", 3),
    ("ar", 2), ("er", 2), ("or", 2), ("en", 2), ("at", 2), ("te", 2),
    ("et", 2),
    ("a", 1), ("e", 1), ("n", 1), ("t", 1),
)


def swedish_light_stem(term: str) -> str:
    """Stem one lowercase Swedish term (light rules above)."""
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
