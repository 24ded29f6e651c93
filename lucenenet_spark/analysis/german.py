"""German light stemmer + normalization + stop list — the GermanAnalyzer
pack.

Mirrors the reference GermanAnalyzer chain (
src/Lucene.Net.Analysis.Common/Analysis/De/GermanAnalyzer.cs:171-180):
StandardTokenizer -> LowerCase -> StopFilter(German) ->
GermanNormalizationFilter -> GermanLightStemFilter. Both filters are
original implementations of published algorithms:

- normalization (De/GermanNormalizationFilter.cs:44-130): the 3-state
  FSM folding umlauts (a-umlaut -> a, ...), expanding eszett -> ss, and
  deleting 'e' in the ae/oe/ue digraphs unless preceded by q/i/y/e
  (so "mueller" and the umlaut spelling merge, "quelle" survives);
- stem (De/GermanLightStemmer.cs:65-175): the "UniNE" German light
  stemmer from Jacques Savoy, *Light Stemming Approaches for the French,
  Portuguese, German and Hungarian Languages*, ACM SAC 2006 — accent
  fold, then the two plural/declension suffix steps.

Vectorization contract: both run per UNIQUE term at dictionary-encode
time (term_filter_unique) — vocabulary cost, never per-token cost.
"""

from __future__ import annotations


# GermanAnalyzer.cs:62-75 (public Snowball-project stopword data)
GERMAN_STOP_WORDS: frozenset[str] = frozenset(
    """
    einer eine eines einem einen der die das dass daß du er sie es was
    wer wie wir und oder ohne mit am im in aus auf ist sein war wird ihr
    ihre ihres als für von dich dir mich mir mein kein durch wegen
    """.split()
)

_ST_ENDING = frozenset("bdfghklmnt")


def german_normalize(term: str) -> str:
    """GermanNormalizationFilter FSM (states N/V/U): umlaut folding,
    eszett expansion, digraph-e deletion after a/o/u (U state)."""
    s = list(term)
    state = "N"
    i = 0
    while i < len(s):
        c = s[i]
        if c in ("a", "o"):
            state = "U"
        elif c == "u":
            state = "U" if state == "N" else "V"
        elif c == "e":
            if state == "U":
                del s[i]
                state = "V"
                continue  # re-examine the char shifted into position i
            state = "V"
        elif c in ("i", "q", "y"):
            state = "V"
        elif c == "ä":
            s[i] = "a"
            state = "V"
        elif c == "ö":
            s[i] = "o"
            state = "V"
        elif c == "ü":
            s[i] = "u"
            state = "V"
        elif c == "ß":
            s[i] = "s"
            s.insert(i + 1, "s")
            i += 1
            state = "N"
        else:
            state = "N"
        i += 1
    return "".join(s)


def german_light_stem(term: str) -> str:
    """UniNE German light stemmer (GermanLightStemmer.cs:65-175):
    accent fold, then two sequential suffix steps."""
    s = list(term)
    for i, c in enumerate(s):
        if c in "äàáâ":
            s[i] = "a"
        elif c in "öòóô":
            s[i] = "o"
        elif c in "ïìíî":
            s[i] = "i"
        elif c in "üùúû":
            s[i] = "u"
    # step 1: -ern / -e[mnrs] / -e / -[bdfghklmnt]s
    n = len(s)
    if n > 5 and s[-3:] == ["e", "r", "n"]:
        s = s[:-3]
    elif n > 4 and s[-2] == "e" and s[-1] in ("m", "n", "r", "s"):
        s = s[:-2]
    elif n > 3 and s[-1] == "e":
        s = s[:-1]
    elif n > 3 and s[-1] == "s" and s[-2] in _ST_ENDING:
        s = s[:-1]
    # step 2: -est / -e[rn] / -[bdfghklmnt]st
    n = len(s)
    if n > 5 and s[-3:] == ["e", "s", "t"]:
        s = s[:-3]
    elif n > 4 and s[-2] == "e" and s[-1] in ("r", "n"):
        s = s[:-2]
    elif n > 4 and s[-2] == "s" and s[-1] == "t" and s[-3] in _ST_ENDING:
        s = s[:-2]
    return "".join(s)


def german_term(term: str) -> str:
    """The full post-stop filter slot: normalization then light stem."""
    return german_light_stem(german_normalize(term))
