"""Turkish normalizer + light stemmer + stop list — the TurkishAnalyzer
pack.

The reference's chain is Analysis/Tr/TurkishAnalyzer.cs:43
StandardTokenizer -> ApostropheFilter (drop apostrophe + suffix) ->
TurkishLowerCaseFilter (dotted/dotless I) -> StopFilter(Turkish) ->
SnowballFilter(TurkishStemmer). This pack implements the normalization
exactly and a LIGHT inflectional stemmer in the UniNE family (J. Savoy's
CLEF light-stemming lineage) instead of the full Snowball automaton —
the documented simplification shared by the da/el packs. Turkish is
agglutinative with four-way vowel harmony; the light rules strip the
most frequent case/number/possessive endings. Original implementation
from the published descriptions; behavior is pinned by the golden suite
in tests/test_turkish.py.

Steps:

1. normalization (TurkishLowerCaseFilter.cs): the engine's tokenizer has
   already Python-lowercased, which maps ``İ`` -> ``i`` + COMBINING DOT
   ABOVE (U+0307); the normalizer deletes U+0307 after ``i`` and maps a
   surviving ``I`` -> ``ı``. (The tokenizer splits on apostrophes, so
   ApostropheFilter's job — dropping ``'nin`` etc. — happens structurally:
   the suffix becomes its own token and is then stripped/stopped.)
2. ONE longest-match ending strip per layer, up to TWO layers (case
   ending after plural, e.g. ``evlerde`` -> ``evler`` -> ``ev``),
   provided >= 3 letters remain: plural ``lar/ler``; case/possessive
   ``dan/den/tan/ten/da/de/ta/te/a/e/ı/i/u/ü/ya/ye/nın/nin/nun/nün/
   ın/in/un/ün/sı/si/su/sü``.

Vectorization contract: the stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique) —
vocabulary cost, never per-token cost. ':'-namespaced field postings
pass through.
"""

from __future__ import annotations


# High-frequency core of the Turkish stop list shipped with the
# reference (Analysis/Tr/TurkishAnalyzer.cs DEFAULT_STOPWORD_FILE; tail
# omitted — the documented divergence shared by the other packs)
TURKISH_STOP_WORDS: frozenset[str] = frozenset(
    """
    ve bir bu da de o ki mi ne için ile olarak gibi daha çok en kadar
    sonra önce ancak ama fakat veya ya hem hiç her şey şu diye üzere
    değil olan olduğu olduğunu oldu olur olmak oldukça arasında
    tarafından göre dolayı rağmen karşı doğru yani ise eğer çünkü niçin
    neden nasıl nerede kim hangi bazı tüm bütün kendi onun onlar onları
    bunun bunlar bunu şunlar beni bana benim sen sana biz bize siz size
    var yok etti ediyor eden ederek
    """.split()
)

_PLURAL: tuple[str, ...] = ("lar", "ler")
_CASE: tuple[str, ...] = (
    "ndan", "nden", "dan", "den", "tan", "ten",
    "nın", "nin", "nun", "nün", "ın", "in", "un", "ün",
    "sı", "si", "su", "sü", "ya", "ye",
    "da", "de", "ta", "te",
    "ı", "i", "u", "ü", "a", "e",
)


def turkish_normalize(term: str) -> str:
    """Dotted/dotless I repair over Python-lowercased text."""
    if "̇" in term:
        term = term.replace("i̇", "i").replace("̇", "")
    if "I" in term:  # a non-lowercased capital dotless I reaching us raw
        term = term.replace("I", "ı")
    return term


def turkish_light_stem(term: str) -> str:
    """Normalize + stem one Turkish term (light rules above)."""
    s = turkish_normalize(term)
    if len(s) < 4:
        return s
    # layer 1: a case/possessive ending may sit on top of the plural
    for suf in _CASE:
        if s.endswith(suf) and len(s) - len(suf) >= 3:
            s = s[: -len(suf)]
            break
    for suf in _PLURAL:
        if s.endswith(suf) and len(s) - len(suf) >= 3:
            s = s[: -len(suf)]
            break
    return s
