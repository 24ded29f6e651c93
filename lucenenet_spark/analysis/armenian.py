"""Armenian light stemmer + stop list — the ArmenianAnalyzer pack.

The reference chain is Analysis/Hy/ArmenianAnalyzer.cs:40
StandardTokenizer -> LowerCase -> StopFilter(Armenian) ->
SnowballFilter(Armenian). Eastern Armenian marks number, case and the
definite article with stacking suffixes (գիրք "book", գիրքը "the book",
գրքեր "books", գրքերը "the books", գրքերի "of the books"). This pack
implements a LIGHT inflectional stemmer: ONE longest-match strip of the
frequent article + plural + case endings from the published Snowball
Armenian ending inventory, no derivational machinery — the documented
simplification relative to the full Snowball automaton. Only
Armenian-script terms are rewritten (the script guard the Greek/Sorani
packs use). Original implementation from the published inventory;
behavior is pinned by the golden suite in tests/test_armenian.py.

Vectorization contract: the stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique) —
vocabulary cost, never per-token cost. ':'-namespaced field postings
pass through.
"""

from __future__ import annotations


# High-frequency core of the Armenian stop list shipped with the
# reference (Analysis/Hy/ArmenianAnalyzer.cs DEFAULT_STOPWORD_FILE; tail
# omitted — the documented divergence shared by the other packs)
ARMENIAN_STOP_WORDS: frozenset[str] = frozenset(
    """
    եւ և ու որ է են էր էին եմ ես ենք եք չէ չեն այս այդ այն սա դա նա
    մենք դուք նրանք ես դու իմ քո իր մեր ձեր նրա նրանց ինչ ով որը որոնք
    երբ որտեղ ինչպես ինչու քանի այստեղ այնտեղ հետո առաջ մեջ վրա տակ
    մոտ հետ համար մասին միայն նաև էլ բայց կամ եթե թե որպես ըստ մինչև
    ամեն բոլոր շատ քիչ մի մեկ
    """.split()
)

# Armenian letters (the script guard): Ա-Ֆ uppercase, ա-ֆ lowercase + և
_ARMENIAN_LO, _ARMENIAN_HI = "Ա", "֏"

# article + plural + case endings, longest first (single strip)
_SUFFIXES: tuple[str, ...] = (
    "ներում", "ներով", "ների", "ները", "ներն", "ներ",
    "երում", "երով", "երի", "երը", "երն", "եր",
    "ությամբ", "ություն", "ության",
    "ում", "ով", "ան", "ին", "ից",
    "ը", "ն", "ի",
)


def _is_armenian(term: str) -> bool:
    return bool(term) and all(
        _ARMENIAN_LO <= ch <= _ARMENIAN_HI for ch in term
    )


def armenian_light_stem(term: str) -> str:
    """Stem one lowercase Armenian term (light rules above); non-Armenian
    scripts pass through untouched."""
    if len(term) < 4 or not _is_armenian(term):
        return term
    for suf in _SUFFIXES:
        if term.endswith(suf) and len(term) - len(suf) >= 3:
            return term[: -len(suf)]
    return term
