"""Italian light stemmer + stop list — the ItalianAnalyzer pack.

Implements the "UniNE" Italian light stemmer from the published algorithm
family in Jacques Savoy's CLEF work (the same algorithm the reference's
ItalianAnalyzer chain applies by default —
src/Lucene.Net.Analysis.Common/Analysis/It/ItalianAnalyzer.cs:149
ItalianLightStemFilter; the stemmer spec is
Analysis/It/ItalianLightStemmer.cs:63-110). Original implementation from
the algorithm description; behavior-pinned by the golden suite in
tests/test_italian.py.

Chain (Analysis/It/ItalianAnalyzer.cs:130-155): StandardTokenizer ->
Elision -> LowerCase -> StopFilter(Italian) -> ItalianLightStemFilter.
Elision is realized by stopping the split article tokens (the French
pack's divergence note).

The algorithm (words shorter than 6 letters pass through unchanged):

1. fold accented vowels to their ASCII base;
2. strip the final vowel by the per-vowel rule table: final ``e`` drops
   a preceding ``i``/``h`` with it (-ie/-he -> strip 2, else strip 1);
   final ``i`` drops a preceding ``h``/``i`` with it; final ``a``/``o``
   drop a preceding ``h`` with them (the -che/-chi/-ghe/-ghi hard-c/g
   plural spellings fold onto the singular stem).

Vectorization contract: the stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique) — vocabulary
cost, never per-token cost. Terms containing ':' are namespaced field
postings and pass through.
"""

from __future__ import annotations


# High-frequency core of the Snowball Italian stop list (the reference
# loads the full snowball italian_stop.txt at ItalianAnalyzer.cs:62; the
# ~200 conjugated essere/avere/fare/stare forms are omitted — documented
# divergence, same spirit as the other packs), PLUS the elision articles
# (ItalianAnalyzer.cs:78 DEFAULT_ARTICLES): our tokenizer splits
# "l'avion"-style apostrophes, so stopping the stray article token IS the
# ElisionFilter (same note as the French pack).
ITALIAN_STOP_WORDS: frozenset[str] = frozenset(
    """
    a ad al allo ai agli all agl alla alle con col coi da dal dallo dai
    dagli dall dagl dalla dalle di del dello dei degli dell degl della
    delle in nel nello nei negli nell negl nella nelle su sul sullo sui
    sugli sull sugl sulla sulle per tra contro io tu lui lei noi voi loro
    mio mia miei mie tuo tua tuoi tue suo sua suoi sue nostro nostra
    nostri nostre vostro vostra vostri vostre mi ti ci vi lo la li le gli
    ne il un uno una ma ed se perché anche come dov dove che chi cui non
    più quale quanto quanti quanta quante quello quelli quella quelle
    questo questi questa queste si tutto tutti o e
    c l m t s v d pell coll
    """.split()
)

_ACCENT_MAP = str.maketrans(
    {"à": "a", "á": "a", "â": "a", "ä": "a",
     "ò": "o", "ó": "o", "ô": "o", "ö": "o",
     "è": "e", "é": "e", "ê": "e", "ë": "e",
     "ù": "u", "ú": "u", "û": "u", "ü": "u",
     "ì": "i", "í": "i", "î": "i", "ï": "i"}
)


def italian_light_stem(term: str) -> str:
    """Stem one lowercase Italian term (UniNE light stemmer;
    ItalianLightStemmer.cs:63-110 is the reference's rule table)."""
    if len(term) < 6:
        return term
    s = term.translate(_ACCENT_MAP)
    last, prev = s[-1], s[-2]
    if last == "e":
        return s[:-2] if prev in ("i", "h") else s[:-1]
    if last == "i":
        return s[:-2] if prev in ("h", "i") else s[:-1]
    if last in ("a", "o"):
        return s[:-2] if prev == "h" else s[:-1]
    return s
