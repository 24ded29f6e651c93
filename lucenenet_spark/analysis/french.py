"""French light stemmer + stop list — the FrenchAnalyzer pack.

Implements the "UniNE" light stemmer from the published algorithm in
Jacques Savoy, *Light Stemming Approaches for the French, Portuguese,
German and Hungarian Languages*, ACM SAC 2006 — the same algorithm the
reference's FrenchAnalyzer chain applies by default
(src/Lucene.Net.Analysis.Common/Analysis/Fr/FrenchAnalyzer.cs:206
FrenchLightStemFilter; the stemmer spec is
Analysis/Fr/FrenchLightStemmer.cs:69-350). Original implementation from
the algorithm description; behavior-pinned by the golden suite in
tests/test_french.py.

Chain (Analysis/Fr/FrenchAnalyzer.cs:187-212): StandardTokenizer ->
Elision -> LowerCase -> StopFilter(French) -> FrenchLightStemFilter.
Divergence note: the reference's ElisionFilter strips "l'" from "l'avion"
inside one UAX#29 token; our tokenizer already splits on the apostrophe,
so elision is realized by including the article tokens (l, d, qu, ...)
in the stop set (FRENCH_STOP_WORDS).

The algorithm: strip plural/gender suffixes (x, s, aux->al), rewrite a
fixed table of derivational suffixes to canonical verb/noun bases
(issement/issant -> ir, ateur/atrice -> er, cateur -> quer, ...), then a
normalization pass (accent removal, duplicate-letter collapse, final
ie/r/e trimming) — all gated on minimum lengths so short words pass
through unchanged.

Vectorization contract: the stem applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique), so Python
cost is per vocabulary entry per Arrow batch, not per token — the same
amortization as the Porter stemmer (analysis/porter.py). Terms containing
':' are namespaced field postings and are never stemmed here (the
encode-time hook applies chains to text-field suffixes itself).
"""

from __future__ import annotations


# The reference FrenchAnalyzer stop list (FrenchAnalyzer.cs:62-85 —
# public Snowball-project stopword data), plus the elision articles
# (FrenchAnalyzer.cs:100 DEFAULT_ARTICLES) that the reference strips with
# an ElisionFilter before tokens reach the stop filter: our tokenizer
# already splits "l'avion" into ("l", "avion"), so dropping the stray
# article token IS the elision (same divergence note as EnglishAnalyzer's
# possessive handling). Articles not already stopwords: m, t, quoiqu,
# lorsqu, puisqu.
FRENCH_STOP_WORDS: frozenset[str] = frozenset(
    """
    a afin ai ainsi après attendu au aujourd auquel aussi autre autres aux
    auxquelles auxquels avait avant avec avoir c car ce ceci cela celle
    celles celui cependant certain certaine certaines certains ces cet
    cette ceux chez ci combien comme comment concernant contre d dans de
    debout dedans dehors delà depuis derrière des désormais desquelles
    desquels dessous dessus devant devers devra divers diverse diverses
    doit donc dont du duquel durant dès elle elles en entre environ est et
    etc etre eu eux excepté hormis hors hélas hui il ils j je jusqu jusque
    l la laquelle le lequel les lesquelles lesquels leur leurs lorsque lui
    là ma mais malgré me merci mes mien mienne miennes miens moi moins mon
    moyennant même mêmes n ne ni non nos notre nous néanmoins nôtre nôtres
    on ont ou outre où par parmi partant pas passé pendant plein plus
    plusieurs pour pourquoi proche près puisque qu quand que quel quelle
    quelles quels qui quoi quoique revoici revoilà s sa sans sauf se selon
    seront ses si sien sienne siennes siens sinon soi soit son sont sous
    suivant sur ta te tes tien tienne tiennes tiens toi ton tous tout
    toute toutes tu un une va vers voici voilà vos votre vous vu vôtre
    vôtres y à ça ès été être ô
    m t quoiqu lorsqu puisqu
    """.split()
)

_ACCENT_MAP = str.maketrans(
    {"à": "a", "á": "a", "â": "a", "ô": "o", "è": "e", "é": "e", "ê": "e",
     "ù": "u", "û": "u", "î": "i", "ç": "c"}
)


def _norm(s: list[str]) -> str:
    """The normalization pass: accents -> ASCII base and duplicate-letter
    runs collapsed (len > 4 gate), then final ie / r / e / e / doubled
    letter trimming (each step re-gated on len > 4)."""
    if len(s) > 4:
        s = list("".join(s).translate(_ACCENT_MAP))
        out = [s[0]]
        for ch in s[1:]:
            if ch == out[-1] and ch.isalpha():
                continue
            out.append(ch)
        s = out
    if len(s) > 4 and s[-2] == "i" and s[-1] == "e":
        s = s[:-2]
    if len(s) > 4:
        if s[-1] == "r":
            s = s[:-1]
        if s[-1] == "e":
            s = s[:-1]
        if s[-1] == "e":
            s = s[:-1]
        if len(s) >= 2 and s[-1] == s[-2] and s[-1].isalpha():
            s = s[:-1]
    return "".join(s)


def _ends(s: list[str], suf: str) -> bool:
    return len(s) >= len(suf) and s[len(s) - len(suf):] == list(suf)


def french_light_stem(term: str) -> str:  # noqa: PLR0911, PLR0912
    """Stem one lowercase French term (UniNE light stemmer, Savoy 2006)."""
    s = list(term)
    # plural / gender endings
    if len(s) > 5 and s[-1] == "x":
        if s[-3] == "a" and s[-2] == "u" and s[-4] != "e":
            s[-2] = "l"  # chevaux -> cheval (but not -eaux)
        s = s[:-1]
    if len(s) > 3 and s[-1] == "x":
        s = s[:-1]
    if len(s) > 3 and s[-1] == "s":
        s = s[:-1]
    # derivational suffix table (longest/most-specific first; the order and
    # length gates are the published algorithm's)
    if len(s) > 9 and _ends(s, "issement"):
        s = s[:-6]
        s[-1] = "r"  # -issement -> -ir
        return _norm(s)
    if len(s) > 8 and _ends(s, "issant"):
        s = s[:-4]
        s[-1] = "r"  # -issant -> -ir
        return _norm(s)
    if len(s) > 6 and _ends(s, "ement"):
        s = s[:-4]  # -ement -> -e
        if len(s) > 3 and _ends(s, "ive"):
            s = s[:-1]
            s[-1] = "f"  # -ivement -> -if
        return _norm(s)
    if len(s) > 11 and _ends(s, "ficatrice"):
        s = s[:-5]
        s[-2] = "e"
        s[-1] = "r"  # -ficatrice -> -fier
        return _norm(s)
    if len(s) > 10 and _ends(s, "ficateur"):
        s = s[:-4]
        s[-2] = "e"
        s[-1] = "r"  # -ficateur -> -fier
        return _norm(s)
    if len(s) > 9 and _ends(s, "catrice"):
        s = s[:-3]
        s[-4] = "q"
        s[-3] = "u"
        s[-2] = "e"  # -catrice -> -quer (final char already 'r')
        return _norm(s)
    if len(s) > 8 and _ends(s, "cateur"):
        s = s[:-2]
        s[-4] = "q"
        s[-3] = "u"
        s[-2] = "e"
        s[-1] = "r"  # -cateur -> -quer
        return _norm(s)
    if len(s) > 8 and _ends(s, "atrice"):
        s = s[:-4]
        s[-2] = "e"
        s[-1] = "r"  # -atrice -> -er
        return _norm(s)
    if len(s) > 7 and _ends(s, "ateur"):
        s = s[:-3]
        s[-2] = "e"
        s[-1] = "r"  # -ateur -> -er
        return _norm(s)
    if len(s) > 6 and _ends(s, "trice"):
        s = s[:-1]
        s[-3] = "e"
        s[-2] = "u"
        s[-1] = "r"  # -trice -> -teur, then falls through
    if len(s) > 5 and _ends(s, "ième"):
        return _norm(s[:-4])
    if len(s) > 7 and _ends(s, "teuse"):
        s = s[:-2]
        s[-1] = "r"  # -teuse -> -ter
        return _norm(s)
    if len(s) > 6 and _ends(s, "teur"):
        s = s[:-1]
        s[-1] = "r"  # -teur -> -ter
        return _norm(s)
    if len(s) > 5 and _ends(s, "euse"):
        return _norm(s[:-2])  # -euse -> -eu
    if len(s) > 8 and _ends(s, "ère"):
        s = s[:-1]
        s[-2] = "e"  # -ère -> -er
        return _norm(s)
    if len(s) > 7 and _ends(s, "ive"):
        s = s[:-1]
        s[-1] = "f"  # -ive -> -if
        return _norm(s)
    if len(s) > 4 and (_ends(s, "folle") or _ends(s, "molle")):
        s = s[:-2]
        s[-1] = "u"  # folle/molle -> fou/mou
        return _norm(s)
    if len(s) > 9 and _ends(s, "nnelle"):
        return _norm(s[:-5])
    if len(s) > 9 and _ends(s, "nnel"):
        return _norm(s[:-3])
    if len(s) > 4 and _ends(s, "ète"):
        s = s[:-1]
        s[-2] = "e"  # -ète -> -et, falls through
    if len(s) > 8 and _ends(s, "ique"):
        s = s[:-4]  # falls through
    if len(s) > 8 and _ends(s, "esse"):
        return _norm(s[:-3])
    if len(s) > 7 and _ends(s, "inage"):
        return _norm(s[:-3])
    if len(s) > 9 and _ends(s, "isation"):
        s = s[:-7]
        if len(s) > 5 and _ends(s, "ual"):
            s[-2] = "e"  # -ualisation -> -uel
        return _norm(s)
    if len(s) > 9 and _ends(s, "isateur"):
        return _norm(s[:-7])
    if len(s) > 8 and _ends(s, "ation"):
        return _norm(s[:-5])
    if len(s) > 8 and _ends(s, "ition"):
        return _norm(s[:-5])
    return _norm(s)
