"""Spanish light stemmer + stop list — the SpanishAnalyzer pack.

Implements the "UniNE" Spanish light stemmer from the published algorithm
in Jacques Savoy, *Report on CLEF-2002 Experiments* / the light-stemming
family described in Savoy, ACM SAC 2006 — the same algorithm the
reference's SpanishAnalyzer chain applies by default
(src/Lucene.Net.Analysis.Common/Analysis/Es/SpanishAnalyzer.cs:135
SpanishLightStemFilter; the stemmer spec is
Analysis/Es/SpanishLightStemmer.cs:63-100). Original implementation from
the algorithm description; behavior-pinned by the golden suite in
tests/test_spanish.py.

Chain (Analysis/Es/SpanishAnalyzer.cs:120-140): StandardTokenizer ->
LowerCase -> StopFilter(Spanish) -> SpanishLightStemFilter.

The algorithm (words shorter than 5 letters pass through unchanged):

1. fold accented vowels to their ASCII base (a-acute -> a, ...);
2. strip ONE final vowel suffix ``o`` / ``a`` / ``e``; else for a final
   ``s``: ``-eses -> -es``, ``-ces -> -z`` (plural of -z nouns:
   "peces" -> "pez"), ``-os/-as/-es -> `` (strip both letters).

Vectorization contract: the stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique), so Python
cost is per vocabulary entry per Arrow batch, not per token — the same
amortization as the Porter stemmer (analysis/porter.py). Terms containing
':' are namespaced field postings and are never stemmed here (the
encode-time hook applies chains to text-field suffixes itself).
"""

from __future__ import annotations


# High-frequency core of the Snowball Spanish stop list (the reference
# loads the full snowball spanish_stop.txt at SpanishAnalyzer.cs:57; that
# file also enumerates ~200 conjugated haber/estar/ser/tener forms, which
# we deliberately omit — a documented divergence, same spirit as the
# elision note on the French pack). Pronouns, articles, particles and the
# bare infinitives/participles are all here.
SPANISH_STOP_WORDS: frozenset[str] = frozenset(
    """
    a al algo algunas algunos ante antes como con contra cual cuando de
    del desde donde durante e el ella ellas ellos en entre era eres es
    esa esas ese eso esos esta estas este esto estos fue fueron ha habia
    hasta hay la las le les lo los mas me mi mis mucho muchos muy nada ni
    no nos nosotras nosotros nuestra nuestras nuestro nuestros o os otra
    otras otro otros para pero poco por porque que quien quienes se sea
    ser si sin sobre sois somos son soy su sus tambien tanto te tenemos
    tengo ti tiene tienen todo todos tu tus un una uno unos vosotras
    vosotros y ya yo él más sí también tú
    """.split()
)

_ACCENT_MAP = str.maketrans(
    {"à": "a", "á": "a", "â": "a", "ä": "a",
     "ò": "o", "ó": "o", "ô": "o", "ö": "o",
     "è": "e", "é": "e", "ê": "e", "ë": "e",
     "ù": "u", "ú": "u", "û": "u", "ü": "u",
     "ì": "i", "í": "i", "î": "i", "ï": "i"}
)


def spanish_light_stem(term: str) -> str:
    """Stem one lowercase Spanish term (UniNE light stemmer;
    SpanishLightStemmer.cs:63-100 is the reference's rule table)."""
    if len(term) < 5:
        return term
    s = term.translate(_ACCENT_MAP)
    last = s[-1]
    if last in ("o", "a", "e"):
        return s[:-1]
    if last == "s":
        if s[-2] == "e" and s[-3] == "s" and s[-4] == "e":
            return s[:-2]  # -eses -> -es ("meses" -> "mes")
        if s[-2] == "e" and s[-3] == "c":
            return s[:-3] + "z"  # -ces -> -z ("peces" -> "pez")
        if s[-2] in ("o", "a", "e"):
            return s[:-2]  # plain -os/-as/-es plural
    return s
