"""Arabic light stemmer (light10) + stop list — the ArabicAnalyzer pack.

Implements the PUBLISHED light10 Arabic stemmer: L. Larkey, L. Ballesteros
& M. Connell, *Improving Stemming for Arabic Information Retrieval: Light
Stemming and Co-occurrence Analysis* (SIGIR 2002) and the expanded journal
version (2007) — the same algorithm behind the reference's
Analysis/Ar/ArabicStemmer.cs + ArabicNormalizer.cs chain
(Analysis/Ar/ArabicAnalyzer.cs:43 StandardTokenizer -> LowerCase ->
StopFilter(Arabic) -> ArabicNormalizationFilter -> ArabicStemFilter).
Original implementation from the published description; behavior is
pinned by the golden suite in tests/test_arabic.py.

Steps (applied only to words containing Arabic letters — Latin-script
tokens in a mixed corpus pass through unchanged):

1. normalization (Larkey §normalization / ArabicNormalizer.cs):
   remove tatweel (U+0640) and the harakat diacritics (U+064B–U+0652);
   hamza'd alefs ``آ أ إ`` -> bare alef ``ا``; final ``ى`` -> ``ي``;
   ``ة`` (ta marbuta) -> ``ه``;
2. strip the conjunction ``و`` (waw) when >= 3 letters remain;
3. strip ONE definite article from {``ال وال بال كال فال لل``}
   (longest match) when >= 2 letters remain;
4. strip the suffixes {``ها ان ات ون ين يه ية ه ة ي``} checked in that
   order, each stripped if it matches and >= 2 letters remain (light10
   strips them in listed order, so e.g. ``اتها`` loses ``ها`` then ``ات``).

Vectorization contract: the stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique) — vocabulary
cost, never per-token cost. ':'-namespaced field postings pass through.
"""

from __future__ import annotations


# High-frequency core of the Arabic stop list shipped with the reference
# (Analysis/Ar/ArabicAnalyzer.cs DEFAULT_STOPWORD_FILE; the long
# inflected-variant tail is omitted — the documented divergence shared by
# the other packs). Stopwords are matched BEFORE stemming, so both the
# hamza'd and bare spellings of the frequent function words appear.
ARABIC_STOP_WORDS: frozenset[str] = frozenset(
    """
    من في على و ان أن إن ما لا الى إلى التي الذي الذين هذا هذه ذلك تلك
    هو هي كان كانت يكون قد لم لن له لها لهم عن مع او أو اذا إذا كل بعد
    قبل عند حتى بين كما منذ ثم اي أي هنا هناك نحن هم انا أنا انت أنت
    لكن ليس غير بل اما إما لو عليه عليها فيه فيها منه منها الا إلا
    """.split()
)

_TATWEEL = "ـ"
_HARAKAT = set("ًٌٍَُِّْ")
_ALEF_MAP = {"آ": "ا", "أ": "ا", "إ": "ا"}

_ARTICLES = ("وال", "بال", "كال", "فال", "ال", "لل")
_SUFFIXES = ("ها", "ان", "ات", "ون", "ين", "يه", "ية", "ه", "ة", "ي")


def _has_arabic(s: str) -> bool:
    return any("؀" <= c <= "ۿ" for c in s)


def arabic_normalize(term: str) -> str:
    """Larkey normalization: drop tatweel + harakat, unify alef forms,
    final alef maqsura -> ya, ta marbuta -> ha."""
    out = []
    for c in term:
        if c == _TATWEEL or c in _HARAKAT:
            continue
        out.append(_ALEF_MAP.get(c, c))
    s = "".join(out)
    if s.endswith("ى"):  # ى -> ي
        s = s[:-1] + "ي"
    s = s.replace("ة", "ه")  # ة -> ه
    return s


def arabic_light_stem(term: str) -> str:
    """light10 stem of one lowercase term. Non-Arabic terms pass through."""
    if not _has_arabic(term):
        return term
    s = arabic_normalize(term)
    if len(s) >= 4 and s.startswith("و"):  # و conjunction
        s = s[1:]
    for art in _ARTICLES:
        if s.startswith(art) and len(s) - len(art) >= 2:
            s = s[len(art):]
            break
    for suf in _SUFFIXES:
        if s.endswith(suf) and len(s) - len(suf) >= 2:
            s = s[: -len(suf)]
    return s
