"""Latvian light stemmer + stop list — the LatvianAnalyzer pack.

Implements a LIGHT Latvian stemmer from the published description behind
the reference's Analysis/Lv/LatvianStemmer.cs (its header cites
"A Stemming Algorithm for Latvian", K. Kreslins): strip the longest
declension ending from a fixed affix inventory, guarded so at least 3
letters remain. The reference's version restricts stripping to words
with >= 2 syllables (vowel groups) so monosyllabic roots survive; this
implementation keeps that vowel-count guard. Original implementation
from the published inventory; behavior is pinned by the golden suite in
tests/test_latvian.py.

Chain (Analysis/Lv/LatvianAnalyzer.cs:47): StandardTokenizer ->
LowerCase -> StopFilter(Latvian) -> LatvianStemFilter.

Affix inventory (longest first; the palatalization un-doubling of the
full algorithm — ``ņ``->``n``, ``ļ``->``l`` at a stripped boundary — is
applied as the final normalization step):

``ajiem ajai ajam ajās iem ajā ais ai ei am ām ās as es os is ies
 iem im īm u s š a ā e ē i ī o ū``

Vectorization contract: the stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique) —
vocabulary cost, never per-token cost. ':'-namespaced field postings
pass through.
"""

from __future__ import annotations


# High-frequency core of the Latvian stop list shipped with the
# reference (Analysis/Lv/LatvianAnalyzer.cs DEFAULT_STOPWORD_FILE; tail
# omitted — the documented divergence shared by the other packs)
LATVIAN_STOP_WORDS: frozenset[str] = frozenset(
    """
    un ir es tu viņš viņa mēs jūs viņi tas tā šis šī kas ko kam par uz
    no ar pie pēc pirms starp pret bez dēļ gar caur ap ka lai jo bet
    vai arī kā kad kur kurš kura kuri kuras tikai vēl jau tad te šeit
    tur visi visas viss sava savu savas savs būt bija būs esmu esi
    nav nebija nebūs tiek tika tiks
    """.split()
)

_VOWELS = "aāeēiīouū"

_SUFFIXES: tuple[str, ...] = (
    "ajiem", "ajai", "ajam", "ajās", "ajā",
    "iem", "ais", "ies", "ām", "ās", "ai", "ei", "am", "as", "es",
    "os", "is", "im", "īm", "us",
    "u", "s", "š", "a", "ā", "e", "ē", "i", "ī", "o", "ū",
)

_PALATAL = {"ņ": "n", "ļ": "l", "ķ": "k", "ģ": "g"}


def _syllables(s: str) -> int:
    n = 0
    prev = False
    for ch in s:
        v = ch in _VOWELS
        if v and not prev:
            n += 1
        prev = v
    return n


def latvian_light_stem(term: str) -> str:
    """Stem one lowercase Latvian term (light rules above)."""
    if len(term) < 4 or _syllables(term) < 2:
        return term
    s = term
    for suf in _SUFFIXES:
        if s.endswith(suf) and len(s) - len(suf) >= 3:
            s = s[: -len(suf)]
            break
    if s and s[-1] in _PALATAL:
        s = s[:-1] + _PALATAL[s[-1]]
    return s
