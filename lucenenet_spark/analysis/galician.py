"""Galician minimal (plural-only) stemmer + stop list — the
GalicianAnalyzer pack.

The reference chain is Analysis/Gl/GalicianAnalyzer.cs:40
StandardTokenizer -> LowerCase -> StopFilter(Galician) ->
GalicianStemFilter; the reference also ships the MINIMAL variant
(Gl/GalicianMinimalStemmer.cs:25 — plural reduction only, from the
published RSLP-for-Galician adaptation, Penabad et al. / Orengo & Huyck
lineage). This pack implements that minimal variant: ONE plural rule
per term — diphthong plurals restore the singular coda (animais ->
animal, papeis -> papel, cancións -> canción), ``-res``/``-ses`` strip
to the consonant, otherwise a bare final ``s`` drops. The full
derivational RSLP automaton is the documented non-goal. Original
implementation from the published rule set; behavior is pinned by the
golden suite in tests/test_galician.py.

Vectorization contract: the stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique) —
vocabulary cost, never per-token cost. ':'-namespaced field postings
pass through.
"""

from __future__ import annotations


# High-frequency core of the Galician stop list shipped with the
# reference (Analysis/Gl/GalicianAnalyzer.cs DEFAULT_STOPWORD_FILE;
# tail omitted — the documented divergence shared by the other packs)
GALICIAN_STOP_WORDS: frozenset[str] = frozenset(
    """
    a o as os un unha uns unhas e ou pero que como se non de do da dos
    das en no na nos nas por para con sen sobre baixo entre ata desde
    contra isto iso aquilo este esta estes estas ese esa eses esas
    aquel aquela aqueles aquelas eu ti el ela nós vós eles elas me te
    lle lles nos vos meu teu seu noso voso quen cando onde máis moi
    pouco todo todos toda todas ser é era foi estar está estaba haber
    hai había
    """.split()
)

# plural rules, longest pattern first: (ending, replacement)
_PLURAL_RULES: tuple[tuple[str, str], ...] = (
    ("ais", "al"),
    ("éis", "el"),
    ("eis", "el"),
    ("ois", "ol"),
    ("óis", "ol"),
    ("uis", "ul"),
    ("ses", "s"),
    ("res", "r"),
    ("ns", "n"),
    ("s", ""),
)


def galician_minimal_stem(term: str) -> str:
    """Reduce one lowercase Galician plural to its singular (rules above)."""
    if len(term) < 4 or not term.endswith("s"):
        return term
    for suf, rep in _PLURAL_RULES:
        if term.endswith(suf) and len(term) - len(suf) + len(rep) >= 3:
            return term[: -len(suf)] + rep
    return term
