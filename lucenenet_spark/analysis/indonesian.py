"""Indonesian stemmer + stop list — the IndonesianAnalyzer pack.

Implements the PUBLISHED Tala stemmer in its light form: F. Z. Tala,
*A Study of Stemming Effects on Information Retrieval in Bahasa
Indonesia* (MSc thesis, Univ. of Amsterdam, 2003) — the algorithm behind
the reference's Analysis/Id/IndonesianStemmer.cs (chain:
Analysis/Id/IndonesianAnalyzer.cs:43 StandardTokenizer -> LowerCase ->
StopFilter(Indonesian) -> IndonesianStemFilter). Original implementation
from the published description; the reference's prefix-recoding rules
(meny+V -> s..., Tala §inflection recovery) are omitted — a documented
divergence; behavior is pinned by the golden suite in
tests/test_indonesian.py.

Steps, each applied only while the REMAINDER keeps >= 2 syllables
(counted as vowels — Tala's minimum-root condition):

1. inflectional particle: strip one of ``-kah -lah -tah -pun``;
2. inflectional possessive pronoun: strip one of ``-ku -mu -nya``;
3. ONE derivational prefix, longest match first:
   ``meng- meny- mem- men- peng- peny- pem- pen- ber- ter- per- me- pe-
   be- di- ke- se-``;
4. ONE derivational suffix: ``-kan -an -i``.

The syllable guard is what keeps roots intact: ``makanlah`` -> ``makan``
(the ``-an`` strip would leave one-vowel ``mak``), while ``perbaikan`` ->
``baikan`` -> ``baik``.

Vectorization contract: the stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique) — vocabulary
cost, never per-token cost. ':'-namespaced field postings pass through.
"""

from __future__ import annotations


# High-frequency core of the Tala/reference Indonesian stop list
# (Analysis/Id/IndonesianAnalyzer.cs DEFAULT_STOPWORD_FILE; the long tail
# is omitted — the documented divergence shared by the other packs)
INDONESIAN_STOP_WORDS: frozenset[str] = frozenset(
    """
    yang dan di ke dari ini itu dengan untuk pada adalah sebagai dalam
    tidak akan oleh juga telah ada mereka ia dia anda kami kita saya
    kamu bisa atau tetapi karena jika maka sudah belum harus dapat bagi
    tentang seperti antara setelah sebelum ketika saat namun yaitu para
    lebih sangat hanya masih lagi pun lah kah tak bahwa hingga sampai
    agar supaya yakni ialah demi serta sejak secara terhadap melalui
    """.split()
)

_PARTICLES = ("kah", "lah", "tah", "pun")
_POSSESSIVES = ("nya", "ku", "mu")
_PREFIXES = (
    "meng", "meny", "mem", "men", "peng", "peny", "pem", "pen",
    "ber", "ter", "per", "me", "pe", "be", "di", "ke", "se",
)
_SUFFIXES = ("kan", "an", "i")

_VOWELS = set("aeiou")


def _syllables(s: str) -> int:
    return sum(c in _VOWELS for c in s)


def indonesian_stem(term: str) -> str:
    """Tala-style stem of one lowercase term (light rules above)."""
    s = term
    for suf in _PARTICLES:
        if s.endswith(suf) and _syllables(s[: -len(suf)]) >= 2:
            s = s[: -len(suf)]
            break
    for suf in _POSSESSIVES:
        if s.endswith(suf) and _syllables(s[: -len(suf)]) >= 2:
            s = s[: -len(suf)]
            break
    for pre in _PREFIXES:
        if s.startswith(pre) and _syllables(s[len(pre):]) >= 2:
            s = s[len(pre):]
            break
    for suf in _SUFFIXES:
        if s.endswith(suf) and _syllables(s[: -len(suf)]) >= 2:
            s = s[: -len(suf)]
            break
    return s
