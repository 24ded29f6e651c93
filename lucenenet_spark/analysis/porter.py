"""Porter stemmer — M.F. Porter, "An algorithm for suffix stripping",
Program 14(3) 1980 (the published classic algorithm; the reference's
PorterStemFilter wraps the same algorithm,
src/Lucene.Net.Analysis.Common/Analysis/En/PorterStemFilter.cs +
PorterStemmer.cs).

Written from the published algorithm description. :func:`porter_stem` is
the ``english`` chain's term function, applied per UNIQUE term of a
dictionary-encoded batch (TermFilterAnalyzer.term_filter_unique), so the
per-word Python cost is amortized over term frequency — the indexing hot
path stays on the Arrow kernel and pays Python only per vocabulary entry
per segment.
"""

from __future__ import annotations


_VOWELS = frozenset("aeiou")


def _is_cons(w: str, i: int) -> bool:
    c = w[i]
    if c in _VOWELS:
        return False
    if c == "y":
        return True if i == 0 else not _is_cons(w, i - 1)
    return True


def _measure(stem: str) -> int:
    """m = number of VC sequences in [C](VC){m}[V]."""
    m = 0
    i, n = 0, len(stem)
    while i < n and _is_cons(stem, i):
        i += 1
    while i < n:
        while i < n and not _is_cons(stem, i):
            i += 1
        if i >= n:
            break
        m += 1
        while i < n and _is_cons(stem, i):
            i += 1
    return m


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _ends_double_cons(w: str) -> bool:
    return len(w) >= 2 and w[-1] == w[-2] and _is_cons(w, len(w) - 1)


def _cvc(w: str) -> bool:
    """*o: stem ends cvc where the final c is not w, x or y."""
    n = len(w)
    if n < 3:
        return False
    return (
        _is_cons(w, n - 3)
        and not _is_cons(w, n - 2)
        and _is_cons(w, n - 1)
        and w[-1] not in "wxy"
    )


_STEP2 = [
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"), ("anci", "ance"),
    ("izer", "ize"), ("abli", "able"), ("alli", "al"), ("entli", "ent"),
    ("eli", "e"), ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
    ("ator", "ate"), ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
    ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
]

_STEP3 = [
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
]

_STEP4 = [
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
    "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
]


def porter_stem(w: str) -> str:
    """Stem one lowercase English word. Other terms pass through
    unchanged: the stemmer is defined over lowercase English letters, and
    digit-bearing or non-Latin tokens must never be rewritten."""
    if len(w) <= 2 or not (w.isascii() and w.isalpha()):
        return w

    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]

    # step 1b
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    else:
        stripped = None
        if w.endswith("ed") and _has_vowel(w[:-2]):
            stripped = w[:-2]
        elif w.endswith("ing") and _has_vowel(w[:-3]):
            stripped = w[:-3]
        if stripped is not None:
            w = stripped
            if w.endswith(("at", "bl", "iz")):
                w = w + "e"
            elif _ends_double_cons(w) and w[-1] not in "lsz":
                w = w[:-1]
            elif _measure(w) == 1 and _cvc(w):
                w = w + "e"

    # step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"

    # step 2
    for suf, rep in _STEP2:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _measure(stem) > 0:
                w = stem + rep
            break

    # step 3
    for suf, rep in _STEP3:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _measure(stem) > 0:
                w = stem + rep
            break

    # step 4
    for suf in _STEP4:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if suf == "ion" and not stem.endswith(("s", "t")):
                continue
            if _measure(stem) > 1:
                w = stem
            break

    # step 5a
    if w.endswith("e"):
        stem = w[:-1]
        m = _measure(stem)
        if m > 1 or (m == 1 and not _cvc(stem)):
            w = stem

    # step 5b
    if _ends_double_cons(w) and w.endswith("l") and _measure(w) > 1:
        w = w[:-1]

    return w
