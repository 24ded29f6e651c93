"""Bulgarian light stemmer + stop list — the BulgarianAnalyzer pack.

Implements a light Bulgarian stemmer from the PUBLISHED description:
P. Nakov, *BulStem: Design and evaluation of inflectional stemmer for
Bulgarian* (2003) and J. Savoy's light-stemming adaptation — the same
lineage as the reference's Analysis/Bg/BulgarianStemmer.cs (chain
Analysis/Bg/BulgarianAnalyzer.cs:55 StandardTokenizer -> LowerCase ->
StopFilter(Bulgarian) -> BulgarianStemFilter). Bulgarian is analytic
(no case) but carries definite ARTICLES as suffixes plus plural
markers; the light approach removes article, then plural, then a final
link vowel. Only Cyrillic-script terms are rewritten — Latin tokens in
a mixed corpus pass through. Original implementation from the published
descriptions; behavior is pinned by the golden suite in
tests/test_bulgarian.py.

Steps (words shorter than 4 letters pass through):

1. DEFINITE ARTICLE, longest match, >= 3 letters remaining:
   plural ``ите/те``; masculine ``ият/ият/ът/ят/ия``; feminine ``та``;
   neuter ``то``;
2. PLURAL marker, >= 3 letters remaining: ``ища/ове/еве/овци``; ``и``
   only when it follows a consonant (the -и plural);
3. final link vowel ``а/я/о/е``, >= 3 letters remaining;
4. the ``-ен-`` elision is NOT restored (full BulStem re-inserts the
   fleeting vowel; the light variant documented here does not).

Vectorization contract: the stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique) —
vocabulary cost, never per-token cost. ':'-namespaced field postings
pass through.
"""

from __future__ import annotations


# High-frequency core of the Bulgarian stop list shipped with the
# reference (Analysis/Bg/BulgarianAnalyzer.cs DEFAULT_STOPWORD_FILE;
# tail omitted — the documented divergence shared by the other packs)
BULGARIAN_STOP_WORDS: frozenset[str] = frozenset(
    """
    а аз ако ала бе без беше би бил била били било близо бъдат бъде бяха
    в вас ваш ваша вероятно вече взема ви вие винаги все всеки всички
    всичко всяка във въпреки върху г ги главен главна главно глас го
    година години годишен д да дали два двама двамата две двете ден
    днес дни до добра добре добро добър докато докога дори досега доста
    е едва един една и из или им има имат иска й каза как каква какво
    както какъв като кога когато което които кой който колко която къде
    където към ли м ме между мен ми мнозина мога могат може моля
    момента му н на над назад най направи напред например нас не него
    нея ни ние никой нито но нужда нужен обаче около освен особено от
    отгоре отново още пак по повече повечето под поне поради после
    почти прави пред преди през при пък първата първи първо с са само
    се сега си син скоро след сме според сред срещу сте съм със също т
    тази така такива такъв там твой те тези ти то това тогава този той
    толкова точно три трябва тук тъй тя тях у харесва ч че често чрез
    ще щом я
    """.split()
)

_CYR_RX_LO, _CYR_RX_HI = "Ѐ", "ӿ"

_ARTICLES: tuple[tuple[str, int], ...] = (
    ("ият", 3), ("ите", 3),
    ("ът", 2), ("ят", 2), ("та", 2), ("то", 2), ("те", 2), ("ия", 2),
)

_PLURALS: tuple[tuple[str, int], ...] = (
    ("овци", 4), ("ища", 3), ("ове", 3), ("еве", 3),
)

_VOWELS = "аъоуеияю"


def _is_cyrillic(term: str) -> bool:
    return any(_CYR_RX_LO <= ch <= _CYR_RX_HI for ch in term)


def bulgarian_light_stem(term: str) -> str:
    """Stem one lowercase Bulgarian term (light rules above); non-Cyrillic
    terms pass through."""
    if len(term) < 4 or not _is_cyrillic(term):
        return term
    s = term
    for suf, n in _ARTICLES:
        if s.endswith(suf) and len(s) - n >= 3:
            s = s[:-n]
            break
    for suf, n in _PLURALS:
        if s.endswith(suf) and len(s) - n >= 3:
            s = s[:-n]
            break
    else:
        if (
            len(s) >= 4 and s.endswith("и") and s[-2] not in _VOWELS
        ):
            s = s[:-1]
    if len(s) >= 4 and s[-1] in "аяое":
        s = s[:-1]
    return s
