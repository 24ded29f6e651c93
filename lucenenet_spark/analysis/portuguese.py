"""Portuguese light stemmer + stop list — the PortugueseAnalyzer pack.

Implements the UniNE-family Portuguese LIGHT stemmer: the plural-reduction
and feminine-normalization rule tables published in V. Orengo & C. Huyck,
*A Stemming Algorithm for the Portuguese Language* (SPIRE 2001, the RSLP
rules) as simplified by the Savoy light-stemming approach (ACM SAC 2006) —
the same sources behind the reference's default chain
(src/Lucene.Net.Analysis.Common/Analysis/Pt/PortugueseAnalyzer.cs:129
PortugueseLightStemFilter; stemmer spec Pt/PortugueseLightStemmer.cs).
Original implementation from the published rule tables; behavior is pinned
by the golden suite in tests/test_portuguese.py.

Chain (Analysis/Pt/PortugueseAnalyzer.cs:119-133): StandardTokenizer ->
LowerCase -> StopFilter(Portuguese) -> PortugueseLightStemFilter.

Steps (words shorter than 4 letters pass through unchanged):

1. plural reduction (Orengo Table 1 / PortugueseLightStemmer removeSuffix):
   ``-res/-ses/-les/-zes -> strip es`` ("flores" -> "flor"),
   ``-ns -> -m`` ("bons" -> "bom"), ``-eis -> -el`` ("papeis" -> "papel"),
   ``-ais -> -al`` ("animais" -> "animal"), ``-ois -> -ol``
   ("lencois" -> "lencol"), ``-is -> -il`` ("barris" -> "barril"),
   ``-oes/-aes -> -ao`` ("botoes" -> "botao"), adverb ``-mente`` strip,
   else final ``-s`` strip;
2. feminine normalization (Orengo Table 2 subset): ``-inha -> -inho``,
   ``-eira -> -eiro``, ``-osa -> -oso``, ``-ica -> -ico``,
   ``-ada -> -ado``, ``-ida -> -ido``, ``-ona -> -ao``;
3. strip ONE final theme vowel ``a``/``e``/``o`` on words longer than 4;
4. fold accented vowels + cedilla to their ASCII base.

Accent folding runs FIRST (the analysis chain sees lowercase unicode), so
the rule tables match both accented and pre-folded spellings.

Vectorization contract: the stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique) — vocabulary
cost, never per-token cost. ':'-namespaced field postings pass through.
"""

from __future__ import annotations


# High-frequency core of the Snowball Portuguese stop list (the reference
# loads snowball portuguese_stop.txt at PortugueseAnalyzer.cs:52; the
# ~150 conjugated ser/estar/ter/haver forms are omitted — the documented
# divergence shared by the es/fr packs)
PORTUGUESE_STOP_WORDS: frozenset[str] = frozenset(
    """
    a ao aos aquela aquelas aquele aqueles aquilo as até com como da das
    de dela delas dele deles depois do dos e ela elas ele eles em entre
    era essa essas esse esses esta estas este estes eu foi for isso isto
    já lhe lhes mais mas me mesmo meu meus minha minhas muito na nas não
    nem no nos nossa nossas nosso nossos num numa o os ou para pela pelas
    pelo pelos por qual quando que quem se sem seu seus só sua suas
    também te tem teu tu tua tuas um uma você vocês vos à às é são
    """.split()
)

_ACCENT_MAP = str.maketrans(
    {"à": "a", "á": "a", "â": "a", "ã": "a", "ä": "a",
     "ò": "o", "ó": "o", "ô": "o", "õ": "o", "ö": "o",
     "è": "e", "é": "e", "ê": "e", "ë": "e",
     "ù": "u", "ú": "u", "û": "u", "ü": "u",
     "ì": "i", "í": "i", "î": "i", "ï": "i",
     "ç": "c"}
)

_FEMININE = (
    ("inha", "inho"), ("eira", "eiro"), ("osa", "oso"), ("ica", "ico"),
    ("ada", "ado"), ("ida", "ido"), ("ona", "ao"),
)


def _plural(s: str) -> str:
    """Plural reduction (Orengo Table 1 rules, light subset)."""
    if len(s) > 4 and s.endswith("es") and s[-3] in "rslz":
        return s[:-2]
    if len(s) > 3 and s.endswith("ns"):
        return s[:-2] + "m"
    if len(s) > 4 and s.endswith("eis"):
        return s[:-2] + "l"
    if len(s) > 3 and s.endswith("ais"):
        return s[:-2] + "l"
    if len(s) > 3 and s.endswith("ois"):
        return s[:-2] + "l"
    if len(s) > 3 and s.endswith("is"):
        return s[:-1] + "l"
    if len(s) > 3 and (s.endswith("oes") or s.endswith("aes")):
        return s[:-3] + "ao"
    if len(s) > 6 and s.endswith("mente"):
        return s[:-5]
    if len(s) > 3 and s.endswith("s"):
        return s[:-1]
    return s


def _feminine(s: str) -> str:
    """Feminine normalization (Orengo Table 2 subset)."""
    if len(s) < 5 or not s.endswith("a"):
        return s
    for suf, rep in _FEMININE:
        if s.endswith(suf) and len(s) - len(suf) + len(rep) >= 3:
            return s[: -len(suf)] + rep
    return s


def portuguese_light_stem(term: str) -> str:
    """Stem one lowercase Portuguese term (light rules above)."""
    if len(term) < 4:
        return term
    s = term.translate(_ACCENT_MAP)
    s = _plural(s)
    s = _feminine(s)
    if len(s) > 4 and s[-1] in "aeo":
        s = s[:-1]
    return s
