"""Persian normalizer + stop list — the PersianAnalyzer pack.

The reference's PersianAnalyzer applies NO stemmer — its chain is
Analysis/Fa/PersianAnalyzer.cs:48 ArabicLetterTokenizer -> LowerCase ->
ArabicNormalizationFilter -> PersianNormalizationFilter ->
StopFilter(Persian). This pack mirrors that: normalization only, from
the published orthographic equivalences (the same ones
Analysis/Fa/PersianNormalizer.cs documents):

1. Arabic normalization first (shared with the Arabic pack): remove
   tatweel (U+0640) and harakat (U+064B-U+0652); hamza'd alefs -> bare
   alef;
2. Persian equivalences: Arabic yeh ``ي`` (U+064A) and alef maksura
   ``ى`` (U+0649) -> Farsi yeh ``ی`` (U+06CC); Arabic kaf ``ك``
   (U+0643) -> keheh ``ک`` (U+06A9); teh marbuta ``ة`` (U+0629) -> heh
   ``ه`` (U+0647); heh+hamza-above and heh-with-yeh-above ``ۀ``
   (U+06C0) -> heh;
3. zero-width non-joiner (U+200C), which Persian uses INSIDE compound
   words, is removed from the term (the reference's tokenizer treats it
   as a non-letter boundary; this engine's tokenizer has already split
   or kept the run, so normalization deletes any that survive).

Only Arabic-script terms are touched; Latin tokens in a mixed corpus
pass through. Behavior pinned by the golden suite in
tests/test_persian.py.

Stop matching note: the stop list is matched AFTER normalization here
(entries are stored normalized), whereas the reference normalizes before
its stop filter too — same observable behavior.

Vectorization contract: normalization applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique) —
vocabulary cost, never per-token cost. ':'-namespaced field postings
pass through.
"""

from __future__ import annotations


# High-frequency core of the Persian stop list shipped with the
# reference (Analysis/Fa/PersianAnalyzer.cs DEFAULT_STOPWORD_FILE; tail
# omitted — the documented divergence shared by the other packs).
# Entries are stored NORMALIZED and TOKENIZED: the reference file's
# ZWNJ compounds are stored as their split parts, because the
# tokenizer breaks at ZWNJ — a compound entry could never match.
PERSIAN_STOP_WORDS: frozenset[str] = frozenset(
    """
    و در به از که این را با های برای آن یک خود تا کرد بر هم نیز گفت
    می شود وی شد دارد ما اما یا شده باید هر آنها بود او دیگر دو مورد
    کند بین پیش است اگر همه نه هستند بی من دهد هزار نیست استفاده داد
    داشته راه داشت چه همچنین کردند داده بوده دارند همین میلیون سوی
    شوند بیشتر بسیار روی گرفته هایی تواند اول نام هیچ چند جدید بیش
    شدن کردن کنند نخستین
    """.split()
)

_ARABIC_BLOCK = ("؀", "ۿ")

_MAP = {
    "ـ": "",        # tatweel
    "ي": "ی",  # arabic yeh -> farsi yeh
    "ى": "ی",  # alef maksura -> farsi yeh
    "ك": "ک",  # arabic kaf -> keheh
    "ة": "ه",  # teh marbuta -> heh
    "ۀ": "ه",  # heh with yeh above -> heh
    "آ": "ا",  # alef madda -> alef
    "أ": "ا",  # alef hamza above -> alef
    "إ": "ا",  # alef hamza below -> alef
    "‌": "",        # zero-width non-joiner
}
# harakat U+064B..U+0652 removed
for _cp in range(0x064B, 0x0653):
    _MAP[chr(_cp)] = ""

_TRANS = str.maketrans(_MAP)


def _is_arabic_script(term: str) -> bool:
    lo, hi = _ARABIC_BLOCK
    return any(lo <= ch <= hi for ch in term) or "‌" in term


def persian_normalize(term: str) -> str:
    """Normalize one lowercase Persian term (rules above); terms with no
    Arabic-script letters pass through."""
    if not _is_arabic_script(term):
        return term
    return term.translate(_TRANS)
