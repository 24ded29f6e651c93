"""Czech light stemmer + stop list — the CzechAnalyzer pack.

Implements the PUBLISHED light Czech stemmer: L. Dolamic & J. Savoy,
*Indexing and stemming approaches for the Czech language* (Information
Processing & Management, 2009) — the same algorithm behind the
reference's Analysis/Cz/CzechStemmer.cs (chain
Analysis/Cz/CzechAnalyzer.cs:60 StandardTokenizer -> LowerCase ->
StopFilter(Czech) -> CzechStemFilter). The light variant removes CASE
endings and the possessive suffixes only (no derivational stripping).
Original implementation from the published paper's rule description;
behavior is pinned by the golden suite in tests/test_czech.py.

Steps (applied to lowercase words; each stage strips at most once and
only while >= 3 letters would remain — the paper's minimum-stem guard):

1. remove CASE ending, longest match first: the 5-letter ``atech``;
   4-letter ``ětem/etem/atům``; 3-letter ``ech/ich/ích/ého/ěmi/emi/ému/
   ete/eti/iho/ího/ími/imu/ami/ovi/ými/ům``; 2-letter ``es/ém/ím/um/at/
   ám/os/us/ým/mi/ou``; final vowels ``a/e/i/o/u/ů/y/á/é/í/ý/ě``;
2. remove POSSESSIVE ``ov``/``in``/``ův`` when >= 3 letters remain;
3. palatalization normalization at the new boundary (the paper's
   substitutions): ``č``->``k``, ``ž``->``h``, ``š``->``s``, ``ť``->``t``,
   ``ď``->``d``, ``ň``->``n`` on the final letter — conflating e.g.
   ``matčin`` (possessive of matka) with ``matk-``.

Vectorization contract: the stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique) —
vocabulary cost, never per-token cost. ':'-namespaced field postings
pass through.
"""

from __future__ import annotations


# High-frequency core of the Czech stop list shipped with the reference
# (Analysis/Cz/CzechAnalyzer.cs DEFAULT_STOPWORD_FILE; tail omitted —
# the documented divergence shared by the other packs)
CZECH_STOP_WORDS: frozenset[str] = frozenset(
    """
    a aby ale ani ano asi až bez bude budem budeš by byl byla byli bylo
    být co což či další dnes do ho i jak jake jaký je jeho jej její
    jejich jen ještě ji jiné již jsem jsi jsme jsou jste k kam kde kdo
    když ke která které který kteří ku ma má mají máme mezi mi mít mně
    mnou můj může my na nad nám námi naši ne nebo není nés ní nic nich
    ním no nový o od ode on ona oni ono pak po pod podle pokud potom
    pouze pro proč proto protože první před přes při s se si sice své
    svůj svých ta tak také takže tato te tedy ten tento této tím tímto
    to tohle toho tomto tomu tu tuto ty tyto u už v vám vás vaše ve více
    však všechen vy z za zde ze že
    """.split()
)

_CASE_SUFFIXES: tuple[tuple[str, int], ...] = (
    ("atech", 5),
    ("ětem", 4), ("etem", 4), ("atům", 4),
    ("ech", 3), ("ich", 3), ("ích", 3), ("ého", 3), ("ěmi", 3),
    ("emi", 3), ("ému", 3), ("ete", 3), ("eti", 3), ("iho", 3),
    ("ího", 3), ("ími", 3), ("imu", 3), ("ami", 3), ("ovi", 3), ("ými", 3),
    ("ům", 2), ("es", 2), ("ém", 2), ("ím", 2), ("um", 2), ("at", 2),
    ("ám", 2), ("os", 2), ("us", 2), ("ým", 2), ("mi", 2), ("ou", 2),
    ("a", 1), ("e", 1), ("i", 1), ("o", 1), ("u", 1), ("ů", 1),
    ("y", 1), ("á", 1), ("é", 1), ("í", 1), ("ý", 1), ("ě", 1),
)

_PALATAL = {"č": "k", "ž": "h", "š": "s", "ť": "t", "ď": "d", "ň": "n"}


def czech_light_stem(term: str) -> str:
    """Stem one lowercase Czech term (Dolamic & Savoy light rules)."""
    if len(term) < 4:
        return term
    s = term
    for suf, n in _CASE_SUFFIXES:
        if s.endswith(suf) and len(s) - n >= 3:
            s = s[:-n]
            break
    for suf in ("ův", "ov", "in"):
        if s.endswith(suf) and len(s) - 2 >= 3:
            s = s[:-2]
            break
    if s and s[-1] in _PALATAL:
        s = s[:-1] + _PALATAL[s[-1]]
    return s
