"""Brazilian Portuguese RSLP-light stemmer + stop list — the
BrazilianAnalyzer pack.

The reference chain is Analysis/Br/BrazilianAnalyzer.cs:43
StandardTokenizer -> LowerCase -> StandardFilter -> StopFilter(Brazilian)
-> BrazilianStemFilter (Br/BrazilianStemmer.cs — a rule-table stemmer in
the RSLP lineage). This pack implements the LIGHT subset of the
published RSLP algorithm (Orengo & Huyck 2001, "A stemming algorithm
for the Portuguese language"): the plural, adverb, diminutive and
final-vowel reduction steps run in sequence, the derivational
noun/verb rule tables are the documented non-goal. Distinct from the
``portuguese`` pack (Pt/PortugueseLightStemmer.cs — the UniNE light
rules): the two packs are separate in the reference and stay separate
here, with their own stop lists. Original implementation from the
published paper; behavior is pinned by the golden suite in
tests/test_brazilian.py.

Steps per term (sequential, RSLP step order):

1. plural reduction: ``ões/ães -> ão``, diphthong plurals restore the
   coda (``ais -> al``, ``eis -> el``, ``óis -> ol``), ``ns -> m``,
   ``res -> r``, ``ses -> s``, else final ``s`` drops;
2. adverb: ``-mente`` strips;
3. diminutive/augmentative: ``-zinho/-zinha/-inho/-inha`` strip;
4. final unaccented ``a/e/o`` drops (noun reduction);
5. diacritic fold: ``ã á â à é ê í ó ô õ ú ü ç`` fold to ASCII.

Vectorization contract: the stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique) —
vocabulary cost, never per-token cost. ':'-namespaced field postings
pass through.
"""

from __future__ import annotations


# High-frequency core of the Brazilian stop list shipped with the
# reference (Analysis/Br/BrazilianAnalyzer.cs BRAZILIAN_STOP_WORDS;
# tail omitted — the documented divergence shared by the other packs)
BRAZILIAN_STOP_WORDS: frozenset[str] = frozenset(
    """
    a o as os um uma uns umas e ou mas que como se não de do da dos das
    em no na nos nas por para com sem sobre sob entre até desde contra
    isto isso aquilo este esta estes estas esse essa esses essas aquele
    aquela aqueles aquelas eu tu ele ela nós vós eles elas me te lhe
    lhes nos vos meu teu seu nosso vosso quem quando onde mais muito
    pouco todo todos toda todas ser é era foi são estar está estava
    haver há havia ter tem tinha
    """.split()
)

_PLURAL_RULES: tuple[tuple[str, str], ...] = (
    ("ões", "ão"),
    ("ães", "ão"),
    ("ais", "al"),
    ("éis", "el"),
    ("eis", "el"),
    ("óis", "ol"),
    ("ses", "s"),
    ("res", "r"),
    ("ns", "m"),
    ("s", ""),
)

_DIMINUTIVES: tuple[str, ...] = ("zinho", "zinha", "inho", "inha")

_FOLD = str.maketrans({
    "ã": "a", "á": "a", "â": "a", "à": "a", "é": "e", "ê": "e",
    "í": "i", "ó": "o", "ô": "o", "õ": "o", "ú": "u", "ü": "u",
    "ç": "c",
})


def brazilian_light_stem(term: str) -> str:
    """Stem one lowercase Brazilian-Portuguese term (RSLP light steps)."""
    s = term
    if len(s) >= 4 and s.endswith("s"):
        for suf, rep in _PLURAL_RULES:
            if s.endswith(suf) and len(s) - len(suf) + len(rep) >= 3:
                s = s[: -len(suf)] + rep
                break
    if s.endswith("mente") and len(s) - 5 >= 3:
        s = s[:-5]
    for suf in _DIMINUTIVES:
        if s.endswith(suf) and len(s) - len(suf) >= 3:
            s = s[: -len(suf)]
            break
    if len(s) >= 4 and s[-1] in "aeo":
        s = s[:-1]
    return s.translate(_FOLD)
