"""BM25 scoring kernel — float32-exact replica of the reference scoring math.

Reference parity map (src/Lucene.Net/Search/Similarities/BM25Similarity.cs):
- defaults k1=1.2, b=0.75            (:59-63)
- idf = ln(1 + (N - df + 0.5)/(df + 0.5))            (:67-70)
- avgdl = float32(sumTotalTermFreq / float64(maxDoc)) (:91-102)
- 256-float cache[i] = k1*((1-b) + b*NORM_TABLE[i]/avgdl) (:226-232)
- score = weight*(k1+1) * freq / (freq + cache[normByte]) (:254, 259-264),
  weight = idf (boosts default to 1)

All arithmetic is carried out in numpy float32 so that scores are
bit-identical to the reference's C# float math (§4.4 of SURVEY.md).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .smallfloat import NORM_TABLE


@dataclass(frozen=True)
class CollectionStats:
    """Collection-level statistics for one indexed field.

    maxdoc: total docs in the index (reference uses MaxDoc, not numDocs).
    sum_ttf: sum of total term frequency == sum of field lengths.
    """

    maxdoc: int
    sum_ttf: int

    @property
    def avgdl(self) -> np.float32:
        if self.sum_ttf <= 0:
            return np.float32(1.0)
        return np.float32(self.sum_ttf / float(self.maxdoc))


class BM25:
    def __init__(self, k1: float = 1.2, b: float = 0.75):
        self.k1 = np.float32(k1)
        self.b = np.float32(b)

    def idf(self, df: np.ndarray | int, maxdoc: int) -> np.ndarray:
        """float32 ln(1 + (N - df + 0.5)/(df + 0.5)); inner math in float64
        like the reference (doubles in, (float) cast out)."""
        dfa = np.atleast_1d(np.asarray(df, dtype=np.float64))
        n = float(maxdoc)
        return np.log1p((n - dfa + 0.5) / (dfa + 0.5)).astype(np.float32)

    def norm_cache(self, avgdl: np.float32) -> np.ndarray:
        """The 256-entry cache: k1*((1-b) + b*NORM_TABLE[i]/avgdl), float32."""
        one = np.float32(1.0)
        return (
            self.k1 * ((one - self.b) + self.b * NORM_TABLE / np.float32(avgdl))
        ).astype(np.float32)

    def score(
        self,
        freq: np.ndarray,
        norm_byte: np.ndarray,
        idf: np.ndarray | np.float32,
        cache: np.ndarray,
    ) -> np.ndarray:
        """Per-(doc,term) float32 BM25 score.

        freq: term frequencies (any int dtype), norm_byte: uint8 norm bytes,
        idf: scalar or aligned array, cache: from :meth:`norm_cache`.
        """
        f = np.asarray(freq, dtype=np.float32)
        weight_value = (np.asarray(idf, dtype=np.float32) * (self.k1 + np.float32(1.0))).astype(
            np.float32
        )
        norm = cache[np.asarray(norm_byte, dtype=np.int64) & 0xFF]
        return (weight_value * f / (f + norm)).astype(np.float32)
