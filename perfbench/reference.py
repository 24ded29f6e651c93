"""Independent BM25 reference for the benchmark's correctness checks.

A numpy re-statement of Lucene 4.8 ``BM25Similarity`` (k1=1.2, b=0.75) that
shares no code with ``lucenenet_spark``: its own tokenizer, its own copy of
the 33 English stop words, its own SmallFloat byte315 norm codec. A fault in
the engine's ``scoring/bm25.py`` or ``scoring/smallfloat.py`` therefore shows
up as a mismatch instead of being reproduced on both sides.

Scoring, all in IEEE single precision unless noted:

- ``norm = byte315(1 / float32(sqrt(doclen)))``, doclen = non-stop tokens;
- ``avgdl = float32(sum_ttf / float64(maxdoc))``;
- ``cache[i] = k1 * ((1 - b) + b * NORM_TABLE[i] / avgdl)``;
- ``idf = float32(ln(1 + (maxdoc - df + 0.5) / (df + 0.5)))`` (float64 inside);
- ``score = (idf * (k1 + 1)) * tf / (tf + cache[norm])``;
- a phrase scores like one pseudo-term: idf is the float32 sum of its terms'
  idfs, tf the count of exact matches on positions that keep stop-word gaps;
- a multi-term query sums its float32 clause scores in float64 and casts to
  float32 once;
- top-k orders by score descending, then docid ascending.

Collection statistics follow liveDocs semantics: every document ever added
counts in maxdoc, df and sum_ttf until the collection is compacted, while
only live documents can be returned.
"""

from __future__ import annotations

import re

import numpy as np

STOP_WORDS = frozenset(
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with".split()
)

# The generated corpus is lower-case ASCII words and digits separated by
# spaces, so maximal [a-z0-9] runs are exactly its tokens.
_TOKEN_RE = re.compile(r"[a-z0-9]+")

K1 = np.float32(1.2)
B = np.float32(0.75)


def analyze(text: str) -> tuple[list[str], list[int]]:
    """Tokens that survive the stop filter, with their positions counted
    before stop-word removal (so stop words leave gaps)."""
    toks = _TOKEN_RE.findall(text.lower())
    kept = [(t, i) for i, t in enumerate(toks) if t not in STOP_WORDS]
    return [t for t, _ in kept], [i for _, i in kept]


def byte315(f: np.ndarray) -> np.ndarray:
    """SmallFloat.floatToByte315: 3 mantissa bits, zero exponent 15."""
    bits = np.asarray(f, dtype=np.float32).view(np.int32).astype(np.int64)
    small = bits >> 21
    base = (63 - 15) << 3
    out = small - base
    out = np.where(small <= base, np.where(bits <= 0, 0, 1), out)
    out = np.where(small >= base + 0x100, 255, out)
    return out.astype(np.int64)


def _byte315_decode(b: np.ndarray) -> np.ndarray:
    bits = ((np.asarray(b, dtype=np.int64) & 0xFF) << 21) + ((63 - 15) << 24)
    f = bits.astype(np.int32).view(np.float32).copy()
    f[np.asarray(b) == 0] = np.float32(0.0)
    return f


with np.errstate(divide="ignore"):
    _DEC = _byte315_decode(np.arange(256))
    NORM_TABLE = (np.float32(1.0) / (_DEC * _DEC)).astype(np.float32)


def norm_byte(doclen: np.ndarray) -> np.ndarray:
    with np.errstate(divide="ignore"):
        inv = np.float32(1.0) / np.sqrt(np.asarray(doclen, dtype=np.float64)).astype(np.float32)
    return byte315(inv.astype(np.float32))


def idf(df: int, maxdoc: int) -> np.float32:
    return np.float32(np.log(1.0 + (maxdoc - df + 0.5) / (df + 0.5)))


class Collection:
    """Every document ever added (several versions of a url may be among
    them), its analyzed tokens, and whether it is live."""

    def __init__(self):
        self.urls: list[str] = []
        self.live: list[bool] = []
        self._tokens: list[list[str]] = []
        self._positions: list[list[int]] = []
        self._index = None

    def add(self, url: str, text: str) -> None:
        toks, pos = analyze(text)
        self.urls.append(url)
        self.live.append(True)
        self._tokens.append(toks)
        self._positions.append(pos)
        self._index = None

    def delete_urls(self, urls) -> None:
        gone = set(urls)
        self.live = [lv and u not in gone for u, lv in zip(self.urls, self.live)]

    def compact(self) -> "Collection":
        """The collection with deleted documents merged away."""
        out = Collection()
        for i, lv in enumerate(self.live):
            if lv:
                out.urls.append(self.urls[i])
                out.live.append(True)
                out._tokens.append(self._tokens[i])
                out._positions.append(self._positions[i])
        return out

    def document(self, d: int) -> tuple[list[str], list[int]]:
        """Analyzed tokens and positions of document ``d``."""
        return self._tokens[d], self._positions[d]

    # ------------------------------------------------------------------ #
    def _build(self):
        """Occurrence arrays sorted by (term, doc, position)."""
        lens = np.array([len(t) for t in self._tokens], dtype=np.int64)
        flat = [t for toks in self._tokens for t in toks]
        vocab, term_ids = np.unique(np.array(flat, dtype=object).astype(str), return_inverse=True)
        doc = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
        pos = np.array([p for ps in self._positions for p in ps], dtype=np.int64)
        order = np.lexsort((pos, doc, term_ids))
        tid, doc, pos = term_ids[order], doc[order], pos[order]
        starts = np.searchsorted(tid, np.arange(len(vocab) + 1))
        self._index = (
            {t: i for i, t in enumerate(vocab.tolist())}, starts, doc, pos, lens, tid
        )

    def _ix(self):
        if self._index is None:
            self._build()
        return self._index

    @property
    def maxdoc(self) -> int:
        return len(self.urls)

    @property
    def doclens(self) -> np.ndarray:
        return self._ix()[4]

    @property
    def sum_ttf(self) -> int:
        return int(self.doclens.sum())

    def vocabulary(self) -> list[str]:
        return list(self._ix()[0])

    def postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(doc indexes, positions) of every occurrence, sorted."""
        tmap, starts, doc, pos = self._ix()[:4]
        i = tmap.get(term)
        if i is None:
            return np.zeros(0, np.int64), np.zeros(0, np.int64)
        return doc[starts[i]:starts[i + 1]], pos[starts[i]:starts[i + 1]]

    def df(self, term: str) -> int:
        return len(np.unique(self.postings(term)[0]))

    def sum_df(self) -> int:
        _, _, doc, _, _, tid = self._ix()
        return len(np.unique(tid * np.int64(self.maxdoc) + doc))

    # ------------------------------------------------------------------ #
    def _cache(self) -> np.ndarray:
        avgdl = np.float32(self.sum_ttf / float(self.maxdoc))
        one = np.float32(1.0)
        return (K1 * ((one - B) + B * NORM_TABLE / avgdl)).astype(np.float32)

    def _term_scores(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        docs, _ = self.postings(term)
        if len(docs) == 0:
            return docs, np.zeros(0, np.float32)
        u, tf = np.unique(docs, return_counts=True)
        w = (idf(len(u), self.maxdoc) * (K1 + np.float32(1.0))).astype(np.float32)
        return u, self._bm25(w, tf, u)

    def _bm25(self, w: np.float32, tf: np.ndarray, docs: np.ndarray) -> np.ndarray:
        f = tf.astype(np.float32)
        nb = norm_byte(self.doclens[docs])
        return ((w * f) / (f + self._cache()[nb])).astype(np.float32)

    def _phrase_scores(self, a: str, b: str) -> tuple[np.ndarray, np.ndarray]:
        da, pa = self.postings(a)
        db, pb = self.postings(b)
        M = np.int64(1) << 32
        hit = np.isin(da * M + pa + 1, db * M + pb)
        if not hit.any():
            return np.zeros(0, np.int64), np.zeros(0, np.float32)
        u, freq = np.unique(da[hit], return_counts=True)
        # the phrase idf accumulates in single precision, term by term
        s = np.float32(0.0)
        for t in (a, b):
            s = np.float32(s + idf(self.df(t), self.maxdoc))
        w = (s * (K1 + np.float32(1.0))).astype(np.float32)
        return u, self._bm25(w, freq, u)

    def scores(self, shape: str, terms: list[str]) -> dict[int, np.float32]:
        """doc index -> float32 score over ALL documents (live or not)."""
        if shape == "phrase":
            u, s = self._phrase_scores(*terms)
            return dict(zip(u.tolist(), s))
        per = [self._term_scores(t) for t in terms]
        if shape == "and":
            common = set(per[0][0].tolist())
            for u, _ in per[1:]:
                common &= set(u.tolist())
        else:
            common = set().union(*(set(u.tolist()) for u, _ in per))
        acc: dict[int, float] = {d: 0.0 for d in common}
        for u, s in per:
            for d, v in zip(u.tolist(), s.tolist()):
                if d in acc:
                    acc[d] += float(v)
        return {d: np.float32(v) for d, v in acc.items()}

    def topk(self, shape: str, terms: list[str], k: int, docid_of: dict[str, int]):
        """[(docid, float32 score)] of the live top-k; ``docid_of`` maps a
        live document's url to the engine's docid (labelling only)."""
        rows = [
            (docid_of[self.urls[d]], s)
            for d, s in self.scores(shape, terms).items()
            if self.live[d]
        ]
        rows.sort(key=lambda r: (-float(r[1]), r[0]))
        return rows[:k]
