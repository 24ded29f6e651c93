"""Irish demutation + light stemmer + stop list — the IrishAnalyzer pack.

The reference chain is Analysis/Ga/IrishAnalyzer.cs:48
StandardTokenizer -> StopFilter(hyphenation particles) ->
ElisionFilter(d m b) -> IrishLowerCaseFilter -> StopFilter(Irish) ->
SnowballFilter(Irish). This pack implements:

1. **Initial-mutation removal** (the published Snowball Irish prefix
   step): eclipsis clusters ``mb gc nd bhf ng bp dt`` reduce to the
   radical consonant (gcairde -> cairde, dteach -> teach), lenition
   drops the ``h`` after an initial ``b c d f g m p s t`` when a vowel
   or ``l/r`` follows (chairde -> cairde, bhord -> bord); the ``t-``/
   ``n-`` prothetic prefixes of IrishLowerCaseFilter.cs:36 are split off
   by our tokenizer already (hyphen is a break) and the stray particles
   are stopped — the elision divergence note shared with French.
2. **ONE longest-match suffix strip** of the frequent plural/case
   endings (light subset of the Snowball inventory), >= 3 letters
   remaining.

No full Snowball automaton — the documented simplification shared by
the other packs. Original implementation from the published
descriptions; behavior is pinned by the golden suite in
tests/test_irish.py.

Vectorization contract: per UNIQUE term at dictionary-encode time
(StandardAnalyzer.term_filter_unique) — vocabulary cost, never
per-token cost. ':'-namespaced field postings pass through.
"""

from __future__ import annotations


# High-frequency core of the Irish stop list shipped with the reference
# (Analysis/Ga/IrishAnalyzer.cs DEFAULT_STOPWORD_FILE; tail omitted —
# the documented divergence shared by the other packs), plus the
# elision articles (d m b) and hyphenation particles (n t) realized as
# stop entries per the chain notes above.
IRISH_STOP_WORDS: frozenset[str] = frozenset(
    """
    d m b n t a an na ag ar as chuig de do faoi i le ó roimh thar trí
    um agus ach nó go nach ní is tá bhí beidh atá agam agat aige aici
    againn agaibh acu mé tú sé sí muid sibh siad mo do a ár bhur seo
    sin siúd cad cé conas cathain cén fáth mar nuair má dá gach uile
    """.split()
)

# eclipsis cluster -> radical (Snowball Irish prefix step)
_ECLIPSIS: tuple[tuple[str, str], ...] = (
    ("bhf", "f"), ("mb", "b"), ("gc", "c"), ("nd", "d"),
    ("ng", "g"), ("bp", "p"), ("dt", "t"),
)

_LENITABLE = frozenset("bcdfgmpst")
_VOWELS = "aeiouáéíóú"

# plural/case endings, longest first (single strip; min 3 remain).
# The verbal-adjective ``-ta/-te/-tha/-the`` endings of the full
# Snowball tables are omitted: they over-strip noun genitives
# (ceiste -> *ceis), breaking the ceist paradigm this light stemmer
# exists to conflate.
_SUFFIXES: tuple[str, ...] = (
    "eanna", "anna", "acha", "anta",
    "óga", "aí",
    "a", "e", "í",
)


def irish_demutate(term: str) -> str:
    """Remove an initial eclipsis cluster or lenition ``h`` (rules above)."""
    for pre, rad in _ECLIPSIS:
        if term.startswith(pre) and len(term) - len(pre) >= 2:
            return rad + term[len(pre):]
    if (
        len(term) >= 4
        and term[0] in _LENITABLE
        and term[1] == "h"
        and (term[2] in _VOWELS or term[2] in "lr")
    ):
        return term[0] + term[2:]
    return term


def irish_light_stem(term: str) -> str:
    """Demutate, then strip one plural/case ending (light rules above)."""
    s = irish_demutate(term)
    if len(s) < 5:
        return s
    for suf in _SUFFIXES:
        if s.endswith(suf) and len(s) - len(suf) >= 3:
            return s[: -len(suf)]
    return s
