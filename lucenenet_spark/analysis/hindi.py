"""Hindi normalizer + light stemmer + stop list — the HindiAnalyzer pack.

Implements the PUBLISHED Hindi light stemmer: A. Ramanathan & D. Rao,
*A Lightweight Stemmer for Hindi* (EACL 2003 workshop) — the same
algorithm behind the reference's Analysis/Hi/HindiStemmer.cs — plus the
orthographic normalization of Analysis/Hi/HindiNormalizer.cs (chain
Analysis/Hi/HindiAnalyzer.cs:47 StandardTokenizer -> LowerCase ->
IndicNormalizationFilter -> HindiNormalizationFilter -> StopFilter ->
HindiStemFilter). Only Devanagari terms are rewritten; Latin tokens in
a mixed corpus pass through. Original implementation from the published
paper; behavior is pinned by the golden suite in tests/test_hindi.py.

Normalization (HindiNormalizer.cs's published equivalences, subset):
remove nukta (U+093C, and decompose the precomposed nukta consonants
क़/ख़/ग़/ज़/ड़/ढ़/फ़/य़ to their base letters), chandrabindu ``ँ`` ->
anusvara ``ं``, chandra-e/o vowels to plain e/o (matra and independent
forms).

Stemming (Ramanathan & Rao): strip the LONGEST of the paper's suffix
list — one of the ~65 gender/number/case endings built from the matras
``ा ि ी ु ू े ो`` + consonant combinations (``ों एं ियों ाओं ...``)
— provided at least one Devanagari letter precedes it. The paper's list
is reproduced from its Table 1 ordered longest-first.

Vectorization contract: normalize+stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique) —
vocabulary cost, never per-token cost. ':'-namespaced field postings
pass through.
"""

from __future__ import annotations


# High-frequency core of the Hindi stop list shipped with the reference
# (Analysis/Hi/HindiAnalyzer.cs DEFAULT_STOPWORD_FILE; tail omitted —
# the documented divergence shared by the other packs)
HINDI_STOP_WORDS: frozenset[str] = frozenset(
    """
    के का एक में की है यह और से हैं को पर इस होता कि जो कर मे गया करने
    किया लिये अपने ने बनी नहीं तो ही या एवं दिया हो इसका था द्वारा हुआ
    तक साथ करना वाले बाद लिए आप कुछ सकते किसी ये इसके सबसे इसमें थे दो
    होने वह वे करते बहुत कहा वर्ग कई करें होती अपनी उनके थी यदि हुई जा
    ना इसे कहते जब होते कोई हुए व न अभी जैसे सभी करता उनकी तरह उस आदि
    कुल एस रहा इसकी सकता रहे उनका इसी रखें अपना पे उसके
    """.split()
)

_DEV_LO, _DEV_HI = "ऀ", "ॿ"

# normalization: nukta forms -> base, chandrabindu -> anusvara,
# chandra vowels -> plain
_NORM_MAP = {
    "़": "",          # nukta (combining) — also covers the precomposed
    #                   U+0958-U+095F letters, which NFC keeps decomposed
    "ँ": "ं",          # chandrabindu -> anusvara
    "ॅ": "े", "ॉ": "ो",  # chandra matras -> plain
    "ऍ": "ए", "ऑ": "ओ",  # chandra independents -> plain
}
# precomposed nukta letters (U+0958-0x095F) -> base consonant, for input
# that arrives composed
for _cp, _base in zip(range(0x0958, 0x0960),
                      "कखगजडढफय"):
    _NORM_MAP[chr(_cp)] = _base
_NORM_TRANS = str.maketrans(_NORM_MAP)

# Ramanathan & Rao suffix list (Table 1), longest first. Composed of
# matras and ending consonant clusters; strings here are NFC sequences.
_SUFFIXES: tuple[str, ...] = (
    "ाएगी", "ाएगा", "ाओगी", "ाओगे", "एंगी", "ेंगी", "एंगे", "ेंगे",
    "ूंगी", "ूंगा", "ातीं", "नाओं", "नाएं", "ताओं", "ताएं", "ियाँ",
    "ियों", "ियां",
    "ाकर", "ाइए", "ाईं", "ाया", "ेगी", "ेगा", "ोगी", "ोगे", "ाने",
    "ाना", "ाते", "ाती", "ाता", "तीं", "ाओं", "ाएं", "ुओं", "ुएं",
    "ुआं",
    "कर", "ाओ", "िए", "ाई", "ाए", "ने", "नी", "ना", "ते", "ीं", "ती",
    "ता", "ाँ", "ां", "ों", "ें",
    "ो", "े", "ू", "ु", "ी", "ि", "ा",
)


def _is_devanagari(term: str) -> bool:
    return any(_DEV_LO <= ch <= _DEV_HI for ch in term)


def hindi_normalize(term: str) -> str:
    return term.translate(_NORM_TRANS)


def hindi_light_stem(term: str) -> str:
    """Normalize + stem one Hindi term (Ramanathan & Rao light rules);
    non-Devanagari terms pass through."""
    if not _is_devanagari(term):
        return term
    s = hindi_normalize(term)
    for suf in _SUFFIXES:
        if s.endswith(suf) and len(s) > len(suf) + 1:
            return s[: -len(suf)]
    return s
