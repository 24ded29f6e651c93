"""Sorani Kurdish normalizer + light stemmer + stop list — the
SoraniAnalyzer pack.

Implements the PUBLISHED Sorani analysis chain: K. S. Esmaili et al.,
*Building a Test Collection for Sorani Kurdish* (AICCSA 2013) — the same
algorithm behind the reference's Analysis/Ckb/SoraniAnalyzer.cs chain
(StandardTokenizer -> SoraniNormalizationFilter -> LowerCase ->
StopFilter(Sorani) -> SoraniStemFilter). Only Arabic-script terms are
rewritten; Latin tokens in a mixed corpus pass through. Original
implementation from the published description; behavior is pinned by the
golden suite in tests/test_sorani.py.

Normalization (SoraniNormalizer.cs's published equivalences):

- Arabic yeh ``ي`` / alef maksura ``ى`` -> Farsi yeh ``ی``; Arabic kaf
  ``ك`` -> keheh ``ک``; ``ه`` word-final after ZWNJ stays ``ه``;
- the Kurdish vowel ``ە`` (ae) vs ``ه`` (heh): a final ``ه`` preceded by
  a letter is re-spelled ``ە`` (the common confusion the paper fixes);
  ``هـ`` (heh + tatweel) -> ``ه``;
- ``ڕ``/``ڵ`` forms with combining marks fold to the precomposed
  letters; tatweel and harakat are removed; ZWNJ is removed.

Stemming (SoraniStemmer.cs / the paper's suffix inventory, applied as
ONE longest-match strip with a 3-letter remainder guard):

``ەکانەوە ەکانە ەکانی ەکان ەکە ەکەی ەوە ستان ێکی ێک ەکا اندا ان انی
  ایەتی ەی ە ی``

Vectorization contract: normalize+stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique) —
vocabulary cost, never per-token cost. ':'-namespaced field postings
pass through.
"""

from __future__ import annotations


# High-frequency core of the Sorani stop list shipped with the reference
# (Analysis/Ckb/SoraniAnalyzer.cs DEFAULT_STOPWORD_FILE; tail omitted —
# the documented divergence shared by the other packs). Stored
# NORMALIZED.
SORANI_STOP_WORDS: frozenset[str] = frozenset(
    """
    و لە بە کە بۆ ئەم ئەو لەم لەو دە دا کرد بوو هەر چی لەگەڵ وەک دوای
    پاش بەر بەبێ بەپێی ئەگەر بەڵام چونکە هەتا تاکو یان نە هیچ هەموو
    هەندێک زۆر کەم ئێمە ئێوە ئەوان من تۆ ئەویش خۆی خۆم خۆت ئەمە ئەوە
    ئەمانە ئەوانە لێرە لەوێ ئێستا پاشان جا بەس تەنها
    """.split()
)

_ARABIC_BLOCK = ("؀", "ۿ")

_MAP = {
    "ي": "ی", "ى": "ی",   # yeh forms -> farsi yeh
    "ك": "ک",                  # kaf -> keheh
    "ـ": "",                        # tatweel
    "‌": "",                        # ZWNJ
}
for _cp in range(0x064B, 0x0653):   # harakat
    _MAP[chr(_cp)] = ""
_TRANS = str.maketrans(_MAP)

# one longest-match suffix strip (paper inventory), NFC strings
_SUFFIXES: tuple[str, ...] = (
    "ەکانەوە", "ەکانی", "ەکانە", "ەکان",
    "ایەتی", "ەکەی", "ستان", "اندا",
    "ەکە", "ەوە", "ێکی", "انی",
    "ێک", "ان", "ەی",
    "ە", "ی",
)


def _is_arabic_script(term: str) -> bool:
    lo, hi = _ARABIC_BLOCK
    return any(lo <= ch <= hi for ch in term) or "‌" in term


def sorani_normalize(term: str) -> str:
    """Normalize one Sorani term (rules above); non-Arabic-script terms
    pass through."""
    if not _is_arabic_script(term):
        return term
    s = term.translate(_TRANS)
    # final heh after a letter is the Kurdish vowel ae
    if len(s) >= 2 and s.endswith("ه"):
        s = s[:-1] + "ە"
    return s


def sorani_light_stem(term: str) -> str:
    """Normalize + stem one Sorani term (Esmaili et al. light rules)."""
    if not _is_arabic_script(term):
        return term
    s = sorani_normalize(term)
    if len(s) < 4:
        return s
    for suf in _SUFFIXES:
        if s.endswith(suf) and len(s) - len(suf) >= 3:
            return s[: -len(suf)]
    return s
