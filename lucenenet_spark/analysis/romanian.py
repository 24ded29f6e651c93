"""Romanian light stemmer + stop list — the RomanianAnalyzer pack.

Implements a LIGHT Romanian stemmer in the UniNE family (J. Savoy,
*Light stemming approaches for the French, Portuguese, German and
Hungarian languages* lineage and the CLEF Romanian monolingual reports;
the reference's chain is Analysis/Ro/RomanianAnalyzer.cs:43
StandardTokenizer -> LowerCase -> StopFilter(Romanian) ->
SnowballFilter(RomanianStemmer) — the light rules here are the
documented simplification shared by the da/el/tr packs). Rules target
the enclitic definite ARTICLES (``-ul/-ului/-urile/-urilor/-lor/-le/
-lui/-a/-ua/-aua``), the plural markers (``-uri/-ii/-i/-e``), and the
feminine singular ``-ă``. Original implementation from the published
descriptions; behavior is pinned by the golden suite in
tests/test_romanian.py.

Steps (words shorter than 4 letters pass through; ă/â/î/ș/ț are
distinct Romanian letters, never folded; the cedilla spellings ş/ţ
normalize to the comma-below forms ș/ț — the same equivalence the
reference's corpora carry):

1. ONE longest-match ARTICLE strip (>= 3 letters remaining);
2. then ONE plural/final-vowel strip (>= 3 letters remaining).

Vectorization contract: the stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique) —
vocabulary cost, never per-token cost. ':'-namespaced field postings
pass through.
"""

from __future__ import annotations


# High-frequency core of the Snowball Romanian stop list
# (RomanianAnalyzer.cs:52; tail omitted — the documented divergence
# shared by the other packs). Stored with comma-below diacritics.
ROMANIAN_STOP_WORDS: frozenset[str] = frozenset(
    """
    și în a la pe cu de din nu se ce el ea noi voi ei ele eu tu este
    sunt era au fost fi fie fiind că dar sau ori dacă când unde cine
    cum cât cârei căror acest această aceste acestui acestei acestor
    acel acea acei acele pentru prin după fără despre între până către
    asupra sub peste mai foarte tot toată toate toți unui unei unor un
    o al ai ale lor lui își s-a s-au își le li îl îi ne vă mă te
    """.split()
)

_NORM = str.maketrans({"ş": "ș", "ţ": "ț"})

_ARTICLES: tuple[tuple[str, int], ...] = (
    ("urilor", 6), ("urile", 5), ("ului", 4), ("aua", 3),
    ("uri", 3), ("ul", 2), ("lor", 3), ("lui", 3), ("le", 2), ("ua", 2),
)

_PLURALS: tuple[tuple[str, int], ...] = (
    ("ii", 2), ("i", 1), ("e", 1), ("ă", 1), ("a", 1),
)


def romanian_light_stem(term: str) -> str:
    """Stem one lowercase Romanian term (light rules above)."""
    s = term.translate(_NORM)
    if len(s) < 4:
        return s
    for suf, n in _ARTICLES:
        if s.endswith(suf) and len(s) - n >= 3:
            s = s[:-n]
            break
    for suf, n in _PLURALS:
        if s.endswith(suf) and len(s) - n >= 3:
            s = s[:-n]
            break
    return s
