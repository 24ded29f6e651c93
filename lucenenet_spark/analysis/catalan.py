"""Catalan light stemmer + stop list — the CatalanAnalyzer pack.

The reference chain is Analysis/Ca/CatalanAnalyzer.cs:121
StandardTokenizer -> ElisionFilter(d l m n s t qu) -> LowerCase ->
StopFilter(Catalan) -> SnowballFilter(Catalan). This pack implements a
LIGHT inflectional stemmer in the UniNE/CLEF light-stemming lineage
(J. Savoy's published family for Romance languages): ONE longest-match
strip of the frequent plural / gender / derivational endings followed by
diacritic folding, no full Snowball automaton — the documented
simplification shared by the French/Spanish/Italian packs. Original
implementation from the published ending inventories; behavior is
pinned by the golden suite in tests/test_catalan.py.

Elision note: the reference's ElisionFilter strips "d'" from "d'aigua"
inside one UAX#29 token; our tokenizer already splits on the
apostrophe, so elision is realized by stopping the split article tokens
(d l m n s t qu in the stop list) — the FrenchAnalyzer divergence note.

Steps per term:

1. ONE longest-match ending strip (inventory below), provided >= 3
   letters remain; ``cions``-family endings conflate with their
   accented singulars (formacions/formació -> forma);
2. diacritic fold: ``à è é í ï ò ó ú ü ç`` -> ``a e e i i o o u u c``.

Vectorization contract: the stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique) —
vocabulary cost, never per-token cost. ':'-namespaced field postings
pass through.
"""

from __future__ import annotations


# High-frequency core of the Catalan stop list shipped with the
# reference (Analysis/Ca/CatalanAnalyzer.cs DEFAULT_STOPWORD_FILE; tail
# omitted — the documented divergence shared by the other packs), plus
# the elision articles (d l m n s t qu) realized as stop entries.
CATALAN_STOP_WORDS: frozenset[str] = frozenset(
    """
    d l m n s t qu el la els les un una uns unes i o però que com si no
    hi ho en de a per amb sense sobre sota entre fins des contra això
    allò aquest aquesta aquests aquestes aquell aquella aquells aquelles
    jo tu ell ella nosaltres vosaltres ells elles em et es ens us li qui
    què on quan més molt poc tot tots tota totes ser és era serà estar
    està estava haver ha havia han
    """.split()
)

# endings, longest first (single strip; min 3 letters remain)
_SUFFIXES: tuple[str, ...] = (
    "aments", "ament", "cions", "ments", "ció", "ment",
    "eses", "esa", "ors", "ats", "its", "ant", "ons",
    "or", "at", "it",
    "es", "os", "is",
    "a", "e", "i", "o", "s",
    "à", "è", "é", "í", "ó", "ò", "ú",
)

_FOLD = str.maketrans({
    "à": "a", "è": "e", "é": "e", "í": "i", "ï": "i",
    "ò": "o", "ó": "o", "ú": "u", "ü": "u", "ç": "c",
})


def catalan_light_stem(term: str) -> str:
    """Stem one lowercase Catalan term (light rules above)."""
    s = term
    if len(s) >= 4:
        for suf in _SUFFIXES:
            if s.endswith(suf) and len(s) - len(suf) >= 3:
                s = s[: -len(suf)]
                break
    return s.translate(_FOLD)
