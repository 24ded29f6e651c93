"""Greek normalizer + light stemmer + stop list — the GreekAnalyzer pack.

The reference's chain is Analysis/El/GreekAnalyzer.cs:40
GreekLowerCaseFilter (lowercase + tonos/diaeresis removal + final-sigma
normalization) -> StopFilter(Greek) -> GreekStemFilter (Ntais 2006).
This pack implements the lowercase-normalization exactly and a LIGHT
inflectional stemmer in the UniNE family (J. Savoy's CLEF light-stemming
lineage): strip the frequent noun/adjective/verb endings, no
derivational machinery — the documented simplification relative to the
full Ntais automaton. Only Greek-script terms are rewritten. Original
implementation from the published descriptions; behavior is pinned by
the golden suite in tests/test_greek.py.

Stop matching note: entries are stored NORMALIZED and the stop filter
runs before the term function here, so Greek stopwords written WITH
tonos in text are normalized by the stem instead of dropped — the suite
pins the normalized-entry behavior.

Steps:

1. normalization (GreekLowerCaseFilter.cs): accented vowels lose tonos/
   dialytika (``ά έ ή ί ό ύ ώ ΐ ΰ ϊ ϋ`` -> ``α ε η ι ο υ ω ι υ ι υ``),
   final sigma ``ς`` -> ``σ``;
2. ONE longest-match ending strip (plural/case/verb endings below),
   provided >= 3 letters remain.

Vectorization contract: the stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique) —
vocabulary cost, never per-token cost. ':'-namespaced field postings
pass through.
"""

from __future__ import annotations


# High-frequency core of the Greek stop list shipped with the reference
# (Analysis/El/GreekAnalyzer.cs DEFAULT_STOPWORD_FILE; entries stored
# NORMALIZED — tonos removed, final sigma folded; tail omitted — the
# documented divergence shared by the other packs)
GREEK_STOP_WORDS: frozenset[str] = frozenset(
    """
    ο η το οι τα του τησ των τον την και κι κ ειμαι εισαι ειναι ειμαστε
    ειστε στο στον στη στην μα αλλα απο για προσ με σε ωσ παρα αντι κατα
    μετα θα να δε δεν μη μην επι ενω εαν αν τοτε που πωσ ποιοσ ποια ποιο
    ποιοι ποιεσ ποιων ποιουσ αυτοσ αυτη αυτο αυτοι αυτων αυτουσ αυτεσ
    αυτα εκεινοσ εκεινη εκεινο εκεινοι εκεινεσ εκεινα εκεινων εκεινουσ
    οπωσ ομωσ ισωσ οσο οτι
    """.split()
)

_GREEK_LO, _GREEK_HI = "ͰϿ"[0], "ͰϿ"[1]

_NORM_MAP = {
    "ά": "α", "έ": "ε", "ή": "η", "ί": "ι", "ό": "ο", "ύ": "υ", "ώ": "ω",
    "ΐ": "ι", "ΰ": "υ", "ϊ": "ι", "ϋ": "υ", "ς": "σ",
}
_NORM_TRANS = str.maketrans(_NORM_MAP)

# endings over NORMALIZED text (σ only, no accents), longest first
_SUFFIXES: tuple[tuple[str, int], ...] = (
    ("ουσαμε", 6), ("ιουμε", 5), ("ουσαν", 5),
    ("ουμε", 4), ("ουνε", 4), ("ηκαν", 4), ("ησαν", 4), ("οτητα", 5),
    ("ματα", 4), ("ματοσ", 5),
    ("ουν", 3), ("εισ", 3), ("εια", 3), ("ικα", 3), ("ικο", 3),
    ("ικη", 3), ("ικοσ", 4), ("αμε", 3), ("ατε", 3), ("ετε", 3),
    ("ησα", 3), ("ηκα", 3), ("εσαι", 4), ("εται", 4), ("ομαι", 4),
    ("ων", 2), ("ουσ", 3), ("οσ", 2), ("ησ", 2), ("ασ", 2), ("εσ", 2),
    ("οι", 2), ("ει", 2), ("αι", 2), ("ου", 2),
    ("α", 1), ("ο", 1), ("η", 1), ("ι", 1), ("ε", 1), ("υ", 1), ("ω", 1),
    ("σ", 1),
)


def _is_greek(term: str) -> bool:
    return any(_GREEK_LO <= ch <= _GREEK_HI for ch in term)


def greek_normalize(term: str) -> str:
    return term.translate(_NORM_TRANS)


def greek_light_stem(term: str) -> str:
    """Normalize + stem one lowercase Greek term (light rules above);
    non-Greek terms pass through."""
    if not _is_greek(term):
        return term
    s = greek_normalize(term)
    if len(s) < 4:
        return s
    for suf, n in _SUFFIXES:
        if s.endswith(suf) and len(s) - n >= 3:
            return s[:-n]
    return s
