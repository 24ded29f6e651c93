"""Dutch stemmer + stop list — the DutchAnalyzer pack.

Original implementation of the PUBLISHED Snowball Dutch stemming algorithm
(M.F. Porter, snowballstem.org/algorithms/dutch/stemmer.html) — the same
algorithm the reference's DutchAnalyzer chain applies
(src/Lucene.Net.Analysis.Common/Analysis/Nl/DutchAnalyzer.cs:47, which
runs the tartarus Snowball DutchStemmer). Written from the algorithm
description, not from any implementation; behavior is pinned by the
golden suite in tests/test_dutch.py against the examples the published
spec defines.

Chain (Analysis/Nl/DutchAnalyzer.cs:47): StandardTokenizer -> LowerCase
-> StopFilter(Dutch) -> Snowball Dutch stemmer. The reference's
stem-override dictionary (DutchAnalyzer stemdict: the fiets/ei
exceptions) is omitted — documented divergence.

Algorithm summary (vowels = a e i o u y è):

- preprocess: fold umlauted/acute vowels to their base; mark consonantal
  ``y`` (word-initial or after a vowel) and ``i`` between vowels as
  markers so they never count as vowels; compute R1/R2 (region after the
  first non-vowel following a vowel; R1 forced to start at position >= 3);
- step 1: ``-heden -> -heid`` (R1); ``-en(e)`` deleted (R1, preceded by a
  non-vowel, not after ``gem``) + undouble kk/dd/tt; ``-s(e)`` deleted
  (R1, preceded by a non-vowel other than j);
- step 2: final ``-e`` deleted (R1, preceded by a non-vowel) + undouble,
  remembering ``e_found``;
- step 3a: ``-heid`` deleted (R2, not preceded by c), then a preceding
  ``-en`` treated as in step 1;
- step 3b: ``-end/-ing`` deleted (R2) with the ``-ig`` interaction;
  ``-ig`` (R2, not after e); ``-lijk`` (R2, then step 2 again);
  ``-baar`` (R2); ``-bar`` (R2, only if step 2 removed an e);
- step 4: undouble vowel in a final C-VV-D pattern (D a non-vowel other
  than the I marker): ``-CVVD -> -CVD``.

Vectorization contract: per UNIQUE term at dictionary-encode time
(StandardAnalyzer.term_filter_unique) — vocabulary cost, never per-token.
"""

from __future__ import annotations


# High-frequency core of the Snowball Dutch stop list (DutchAnalyzer.cs:58
# loads the full snowball dutch_stop.txt; conjugated zijn/hebben/worden
# forms beyond the core are omitted — the documented divergence shared by
# the other packs)
DUTCH_STOP_WORDS: frozenset[str] = frozenset(
    """
    aan al alles als altijd andere ben bij daar dan dat de der deze die
    dit doch doen door dus een eens en er ge geen geweest haar had heb
    hebben heeft hem het hier hij hoe hun iemand iets ik in is ja je kan
    kon kunnen maar me meer men met mij mijn moet na naar niet niets nog
    nu of om omdat onder ons ook op over reeds te tegen toch toen tot u
    uit uw van veel voor want waren was wat werd wezen wie wil worden
    wordt zal ze zelf zich zij zijn zo zonder zou
    """.split()
)

_FOLD = str.maketrans(
    {"ä": "a", "á": "a", "ë": "e", "é": "e", "ï": "i", "í": "i",
     "ö": "o", "ó": "o", "ü": "u", "ú": "u"}
)

_VOWELS = set("aeiouyè")


def _mark(s: str) -> list[str]:
    """Consonant markers: word-initial y, y after a vowel, and i between
    vowels become uppercase markers (never vowels afterwards)."""
    cs = list(s)
    n = len(cs)
    for i, c in enumerate(cs):
        if c == "y" and (i == 0 or cs[i - 1] in _VOWELS):
            cs[i] = "Y"
        elif (
            c == "i"
            and 0 < i < n - 1
            and cs[i - 1] in _VOWELS
            and cs[i + 1] in _VOWELS
        ):
            cs[i] = "I"
    return cs


def _regions(cs: list[str]) -> tuple[int, int]:
    """(r1, r2) start offsets; r1 >= 3 per the spec's adjustment."""

    def after_nonvowel_after_vowel(start: int) -> int:
        n = len(cs)
        i = start
        while i < n and cs[i] not in _VOWELS:
            i += 1
        while i < n and cs[i] in _VOWELS:
            i += 1
        return min(i + 1, n) if i < n else n

    r1 = after_nonvowel_after_vowel(0)
    r2 = after_nonvowel_after_vowel(r1)
    return max(r1, 3), r2


def _undouble(s: str) -> str:
    return s[:-1] if s.endswith(("kk", "dd", "tt")) else s


def dutch_stem(term: str) -> str:
    """Stem one lowercase Dutch term (published Snowball Dutch)."""
    if len(term) < 3:
        return term.translate(_FOLD)
    s = "".join(_mark(term.translate(_FOLD)))
    r1, r2 = _regions(list(s))

    def in_r1(suffix_len: int) -> bool:
        return len(s) - suffix_len >= r1

    def in_r2(suffix_len: int) -> bool:
        return len(s) - suffix_len >= r2

    # step 1
    if s.endswith("heden") and in_r1(5):
        s = s[:-5] + "heid"
    elif s.endswith("ene") and in_r1(3) and len(s) > 3 \
            and s[-4] not in _VOWELS and not s.endswith("gemene"):
        s = _undouble(s[:-3])
    elif s.endswith("en") and in_r1(2) and len(s) > 2 \
            and s[-3] not in _VOWELS and not s.endswith("gemen"):
        s = _undouble(s[:-2])
    elif s.endswith("se") and in_r1(2) and len(s) > 2 \
            and s[-3] not in _VOWELS and s[-3] != "j":
        s = s[:-2]
    elif s.endswith("s") and in_r1(1) and len(s) > 1 \
            and s[-2] not in _VOWELS and s[-2] != "j":
        s = s[:-1]

    # step 2
    e_found = False
    if s.endswith("e") and in_r1(1) and len(s) > 1 and s[-2] not in _VOWELS:
        e_found = True
        s = _undouble(s[:-1])

    # step 3a
    if s.endswith("heid") and in_r2(4) and (len(s) < 5 or s[-5] != "c"):
        s = s[:-4]
        if s.endswith("en") and in_r1(2) and len(s) > 2 \
                and s[-3] not in _VOWELS and not s.endswith("gemen"):
            s = _undouble(s[:-2])

    # step 3b
    if (s.endswith("end") or s.endswith("ing")) and in_r2(3):
        s = s[:-3]
        if s.endswith("ig") and in_r2(2) and (len(s) < 3 or s[-3] != "e"):
            s = s[:-2]
        else:
            s = _undouble(s)
    elif s.endswith("ig") and in_r2(2) and (len(s) < 3 or s[-3] != "e"):
        s = s[:-2]
    elif s.endswith("lijk") and in_r2(4):
        s = s[:-4]
        if s.endswith("e") and in_r1(1) and len(s) > 1 and s[-2] not in _VOWELS:
            s = _undouble(s[:-1])
    elif s.endswith("baar") and in_r2(4):
        s = s[:-4]
    elif s.endswith("bar") and in_r2(3) and e_found:
        s = s[:-3]

    # step 4: undouble vowel (CVVD -> CVD, D a non-vowel other than I)
    if len(s) >= 4:
        c, v1, v2, d = s[-4], s[-3], s[-2], s[-1]
        if (
            c not in _VOWELS
            and v1 == v2
            and v1 in "aeou"
            and d not in _VOWELS
            and d != "I"
        ):
            s = s[:-2] + s[-1]

    return s.lower()
