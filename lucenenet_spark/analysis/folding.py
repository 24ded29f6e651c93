"""ASCIIFoldingFilter analogue
(reference: src/Lucene.Net.Analysis.Common/Analysis/Miscellaneous/
ASCIIFoldingFilter.cs — a ~2000-case hand-written mapping table).

This implementation derives the same folds for the overwhelming majority
of the table from Unicode NFKD compatibility decomposition (accents,
ligatures, fullwidth forms) with combining marks stripped, plus a small
supplement for letters Unicode does not decompose (ß, æ, ø, þ, ...).
Characters with no ASCII fold pass through unchanged — exactly the
reference's behavior for unmapped codepoints, so Cyrillic/Han/etc. terms
are preserved rather than destroyed.

Vectorization contract: folding applies per UNIQUE term at
dictionary-encode time (StandardAnalyzer.term_filter_unique), so Python
cost is per vocabulary entry per Arrow batch, not per token — the same
amortization as the Porter stemmer (analysis/porter.py). Terms containing
':' are keyword-field postings ("<field>:<value>") and are never folded.
"""

from __future__ import annotations

import unicodedata
from functools import lru_cache


# Folds in the reference's table that NFKD cannot derive (these letters
# have no canonical/compatibility decomposition). Lowercase only: the
# chain lowercases before folding.
_SUPPLEMENT = {
    "ß": "ss",  # LATIN SMALL LETTER SHARP S
    "æ": "ae",
    "œ": "oe",
    "ø": "o",
    "đ": "d",
    "ð": "d",
    "þ": "th",
    "ł": "l",
    "ħ": "h",
    "ı": "i",  # dotless i
    "ĳ": "ij",
    "ŋ": "n",
    "ŧ": "t",
}


@lru_cache(maxsize=65536)
def _fold_char(ch: str) -> str:
    if ch.isascii():
        return ch
    sup = _SUPPLEMENT.get(ch)
    if sup is not None:
        return sup
    d = unicodedata.normalize("NFKD", ch)
    stripped = "".join(c for c in d if not unicodedata.combining(c))
    if stripped and stripped.isascii():
        # NFKD of a lowercased char can surface uppercase compatibility
        # forms (e.g. ſ -> s is fine, but ʳ -> r, ℅ -> c/o); keep the
        # chain's lowercase invariant
        return stripped.lower()
    return ch


def fold(term: str) -> str:
    """Fold one term to its ASCII base form (unmapped chars preserved)."""
    if term.isascii():
        return term
    return "".join(_fold_char(c) for c in term)
