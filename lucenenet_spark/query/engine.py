"""Distributed query engine — the IndexSearcher of the engine.

Physical translation of the Query AST to DataFrame compositions
(SURVEY.md §2.3): every scorer in the reference becomes a join/groupBy shape
over per-term scored DataFrames:

- TermScorer (TermScorer.cs:63-69)        -> posting-block filter (Parquet
  min/max seek on the term-sorted table) + vectorized decode/score kernel
- ConjunctionScorer leapfrog (:69-117)    -> inner joins on docid
- DisjunctionSumScorer (:26,50)           -> unionAll + groupBy(docid).sum
- MinShouldMatchSumScorer (:38-107)       -> same union + count(clause) >= mm
- ReqExclScorer (:29)                     -> left_anti join
- ReqOptSumScorer (:30)                   -> left_outer join + coalesce
- BooleanScorer bucket table (:61,134)    -> native hash aggregation
- MultiTermQuery rewrites (:65,95)        -> termstats-dictionary scan ->
  constant-score semi-join (CONSTANT_SCORE_AUTO analogue)
- TopScoreDocCollector (:63-72)           -> orderBy(score desc, docid asc)
  .limit(k) = Spark's distributed TakeOrderedAndProject; HitQueue tie-break
  preserved by the float32 score cast before ordering

Scoring precision contract (SURVEY.md §4.4): per-term scores are computed in
numpy float32 in the exact reference op order ``(idf*(k1+1) * freq) / (freq +
cache[norm])``; cross-clause accumulation is float64 summed then cast to
float32 once (DisjunctionSumScorer convention, see scoring/oracle.py).

Every query kernel shares one decode/score path of three private helpers:

- :func:`_decode_blocks` — the one posting-block decode (``first_docid`` +
  cumsum(``docid_deltas``), flat per-block ``positions`` split by ``freqs``);
- :class:`_BM25Scorer` — the one per-entry BM25 score, float32 on quantized
  norm bytes or ``exact_int`` double micro-units, owning the per-field norm
  cache / avgdl and the boost placement; a keyword field (norms omitted,
  tf 1) scores boost*idf through it too;
- :func:`_flat_keys` — the one ``row * 2^33 + position`` flat-key builder of
  the phrase and span kernels.

The five non-BM25 similarities of :meth:`Searcher.similarity_score_df` are
one table, :data:`_SIMILARITIES`, of per-term ``fn(tf, doclen)`` factories;
:class:`_MicroScorer` floors ``fn`` to micro units and runs it through the
same :func:`_term_kernel`.

Two executors run the same per-shape kernels (:func:`_term_kernel`,
:func:`_position_kernel`, :func:`_phrase_kernel`), generators over an
iterator of pandas posting batches:

- Spark: the kernel runs inside ``mapInPandas`` over the pushdown-pruned
  postings scan; docid joins, unions and the top-k are Spark plans.
- driver seek (:meth:`Searcher._seek`): for a term, phrase or boolean of
  those whose terms hold at most ``_SEEK_MAX_ENTRIES`` posting entries,
  pyarrow reads only those terms' posting blocks from every generation
  (footer min/max statistics skip the other files and row groups), the
  kernel runs on the driver and pandas composes the clauses — the
  reference's single-process term-dictionary seek, with no Spark job.
"""

from __future__ import annotations

import fnmatch
import math
from dataclasses import dataclass
from functools import cached_property, reduce

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.builder import (
    BLOCK_SIZE,
    DOCMAP_SCHEMA,
    POSTINGS_SCHEMA,
    STATS_SCHEMA,
    TERMSTATS_SCHEMA,
)
from ..index.storage import IndexStorage, arrow_schema
from ..scoring.bm25 import BM25
from .ast import (
    BooleanQuery,
    CachingWrapperFilter,
    ConstantScoreQuery,
    DuplicateFilter,
    DisjunctionMaxQuery,
    FilteredQuery,
    FuzzyQuery,
    MatchAllDocsQuery,
    MultiPhraseQuery,
    NumericRangeQuery,
    Occur,
    PhraseQuery,
    PrefixQuery,
    Query,
    RegexpQuery,
    SpanFirstQuery,
    SpanNearQuery,
    SpanNotQuery,
    SpanMultiTermWrapper,
    SpanOrQuery,
    TermQuery,
    TermRangeQuery,
    TermsFilter,
    WildcardQuery,
    rewrite,
)

_EMPTY_SCHEMA = "docid long, score double"
# The driver seek answers a seekable query whose terms' df sum to at most
# this many posting entries; larger ones run on Spark. Measured at local[2]
# on a 400,000-page synthetic corpus (table in CHANGES.md), the seek's
# process-tree CPU per single-term query stayed below the Spark path's at
# every df up to the largest, 241,646; the bound is that df rounded down.
_SEEK_MAX_ENTRIES = 200_000
# enumerated span matches (the _span_kernel emit_spans mode): per-doc
# parallel (start, end) arrays plus the norm columns the outer anchor needs
_SPANS_SCHEMA = (
    "docid long, starts array<long>, ends array<long>, norm_byte long, doclen long"
)


def _skey(field: str, term: str) -> str:
    """Storage key of a (field, term) pair: text terms are stored bare,
    keyword-field terms under the "<field>:<value>" namespace (the
    FieldInfos.cs per-field separation realized as a term-key prefix —
    one term-sorted postings table serves every field)."""
    return term if field == "text" else f"{field}:{term}"


def _collect_terms(q: Query, out: set[str]) -> None:
    if isinstance(q, TermQuery):
        out.add(_skey(q.field, q.term))
    elif isinstance(q, PhraseQuery):
        fld = getattr(q, "field", "text")
        out.update(_skey(fld, t) for t in q.terms)
    elif isinstance(q, MultiPhraseQuery):
        for slot in q.slots:
            out.update(slot)
    elif isinstance(q, SpanNearQuery):
        fld = getattr(q, "field", "text")
        out.update(_skey(fld, t) for t in q.member_terms())
    elif isinstance(q, SpanOrQuery):
        fld = getattr(q, "field", "text")
        out.update(_skey(fld, t) for t in q.terms)
    elif isinstance(q, SpanFirstQuery):
        out.add(_skey(getattr(q, "field", "text"), q.term))
    elif isinstance(q, SpanNotQuery):
        fld = getattr(q, "field", "text")
        out.add(_skey(fld, q.include))
        out.add(_skey(fld, q.exclude))
    elif isinstance(q, FilteredQuery):
        _collect_terms(q.query, out)
        _collect_terms(q.filter, out)
    elif isinstance(q, BooleanQuery):
        for c in q.clauses:
            _collect_terms(c.query, out)
    elif isinstance(q, (ConstantScoreQuery,)):
        _collect_terms(q.query, out)
    elif isinstance(q, CachingWrapperFilter):
        _collect_terms(q.filter, out)
    elif isinstance(q, TermsFilter):
        for f, t in q.terms:
            out.add(_skey(f, t))
    elif isinstance(q, DisjunctionMaxQuery):
        for d in q.disjuncts:
            _collect_terms(d, out)


def _df_bounded(q: Query) -> bool:
    """Whether |matches(q)| is bounded above by the sum of the dfs of the
    terms :func:`_collect_terms` reports for it.

    join_scores' broadcast guard estimates the from-side match set by that
    df sum; the estimate is only an upper bound when every path to a match
    goes through a collected term. A term-free clause in a DISJUNCTIVE
    position — MatchAll, a pure numeric range, a filter-only shape, or a
    multi-term rewrite whose expansion is not in the estimate — can match
    far more docs than the df sum, so those shapes must take the shuffle
    join. Conjunctive positions only need ONE bounded clause (the
    intersection is no larger than its smallest side)."""
    if isinstance(
        q,
        (
            TermQuery, PhraseQuery, MultiPhraseQuery, SpanNearQuery,
            SpanOrQuery, SpanFirstQuery, SpanNotQuery, TermsFilter,
        ),
    ):
        return True
    if isinstance(q, ConstantScoreQuery):
        return _df_bounded(q.query)
    if isinstance(q, CachingWrapperFilter):
        return _df_bounded(q.filter)
    if isinstance(q, FilteredQuery):
        return _df_bounded(q.query) or _df_bounded(q.filter)
    if isinstance(q, BooleanQuery):
        must = [c.query for c in q.clauses if c.occur is Occur.MUST]
        if must:
            return any(_df_bounded(c) for c in must)
        should = [c.query for c in q.clauses if c.occur is Occur.SHOULD]
        return bool(should) and all(_df_bounded(c) for c in should)
    if isinstance(q, DisjunctionMaxQuery):
        return all(_df_bounded(d) for d in q.disjuncts)
    # MatchAll, NumericRange, TermRange/Prefix/Wildcard/Regexp/Fuzzy (their
    # expansions are not in the df estimate), DuplicateFilter, unknown types
    return False


def _seekable(q: Query) -> bool:
    """Whether the driver seek can answer ``q`` (a rewritten query): a
    term, a phrase, or a BooleanQuery whose clauses all are. Its postings
    are then exactly the blocks of the terms :func:`_collect_terms`
    reports."""
    if isinstance(q, (TermQuery, PhraseQuery)):
        return True
    return isinstance(q, BooleanQuery) and all(_seekable(c.query) for c in q.clauses)


def _idf(maxdoc: int, df) -> float:
    """Reference idf formula in pure double (BM25Similarity.cs:67-70
    without the final float32 cast) — glibc ``log``, the same libm DuckDB
    calls, so oracle idf is bit-identical."""
    return math.log(1.0 + (maxdoc - df + 0.5) / (df + 0.5))


def _idf_per_entry(dfs: pd.Series, lens: np.ndarray, maxdoc: int) -> np.ndarray:
    """Double idf of every posting entry of a batch whose blocks carry a
    joined ``df`` column (the scored multi-term rewrites): libm log once
    per UNIQUE df (numpy's vectorized log may differ from the SQL oracle's
    ln by 1 ulp), repeated over each block's ``lens`` entries."""
    dfs = dfs.to_numpy(np.int64)
    uniq = np.unique(dfs)
    idf_u = np.array([_idf(maxdoc, int(d)) for d in uniq])
    return np.repeat(idf_u[np.searchsorted(uniq, dfs)], lens)


def _decode_blocks(batches, *cols: str):
    """The one posting-block decode (Lucene41PostingsReader.RefillDocs,
    Lucene41PostingsReader.cs:385-404). For every non-empty batch of
    posting-block rows yields ``(pdf, docids, lens, flat)``:

    - ``docids``: ``first_docid`` + cumsum(``docid_deltas``) per block,
      concatenated;
    - ``lens``: entries per block, to repeat block-level columns (``df``,
      ``term``) per entry;
    - ``flat[c]``: each column of ``cols`` concatenated as int64. The flat
      per-block ``positions`` come back split into one array per entry by
      ``freqs`` (freq == the entry's position count), so they need
      ``"freqs"`` in ``cols`` too.

    Callers project only the columns they read before the scan."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        lens = pdf["docid_deltas"].map(len).to_numpy(np.int64)
        deltas = np.concatenate(
            [np.asarray(d, dtype=np.int64) for d in pdf["docid_deltas"]]
        )
        # one cumsum over the batch; each block subtracts the running sum
        # before its first entry and adds its first_docid
        cs = np.cumsum(deltas)
        before = np.concatenate(([0], cs))[np.cumsum(lens) - lens]
        docids = np.repeat(pdf["first_docid"].to_numpy(np.int64) - before, lens) + cs
        flat = {
            c: np.concatenate([np.asarray(x, dtype=np.int64) for x in pdf[c]])
            for c in cols
        }
        if "positions" in flat:
            flat["positions"] = np.split(
                flat["positions"], np.cumsum(flat["freqs"])[:-1]
            )
        yield pdf, docids, lens, flat


# flat-key row stride: > 2 * max position, so rows never overlap
_ROW_KEY = np.int64(1) << 33


def _flat_keys(col: pd.Series):
    """The one flat-key builder of the positional kernels: a column of
    per-row sorted position arrays -> ``(keys, rows)`` with key = row *
    2^33 + position. Rows are batch-ordered and positions ascending, so
    the keys are globally sorted and one searchsorted answers a per-row
    question for the whole batch. ``None`` (a left-join miss) counts as
    no positions."""
    lens = np.array([0 if v is None else len(v) for v in col], dtype=np.int64)
    vals = (
        np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in col if x is not None]
        )
        if lens.sum()
        else np.array([], dtype=np.int64)
    )
    rows = np.repeat(np.arange(len(col), dtype=np.int64), lens)
    return rows * _ROW_KEY + vals, rows


class _BM25Scorer:
    """The one per-entry BM25 scorer (BM25DocScorer.Score,
    BM25Similarity.cs:259-264) behind every query kernel. Built on the
    driver from the Searcher's scoring mode, the field (its norm cache and
    exact avgdl), the term stats and the boost; shipped to the executors
    inside the kernel closures.

    - float32 (``"lucene"``): ``(w*f)/(f+cache[nb & 0xFF])`` on quantized
      norm bytes, ``w = idf*(k1+1)``; the boost multiplies that float32
      score afterwards.
    - ``exact_int``: ``floor((w*f)/(f+k1*((1-b)+(b*dl)/avgdl))*1e6+0.5)``
      on exact doclens, the boost folded into ``w`` as a double multiply
      so the integers stay reproducible.

    - keyword field (neither ``"text"`` nor an extra text field,
      StringField.cs:43): norms are omitted and tf is 1, so BM25 reduces
      to ``idf`` and every entry scores boost*idf —
      ``floor(idf*boost*1e6 + 0.5)`` (the SQL oracle's op order) or
      ``float32(idf)*float32(boost)``.

    ``sts`` lists the term stats of the (pseudo-)term: a phrase or span
    scores with the sum of its members' idfs. ``sts=None`` leaves the
    weight to the caller, which passes per-entry :meth:`weight` values
    (the scored multi-term rewrite, whose float32 weight also folds the
    boost in: ``fold_boost``)."""

    def __init__(
        self, s: "Searcher", field: str, sts, boost: float = 1.0,
        fold_boost: bool = False,
    ):
        self.exact = s.scoring == "exact_int"
        self.k1, self.b = s.k1d, s.bd
        self.keyword = field != "text" and field not in s.text_fields
        if not self.keyword:
            text = field == "text"
            self.cache = s.cache if text else s.field_cache[field]
            self.avgdl = s.avgdl_exact if text else s.field_avgdl_exact[field]
        self.boost, self.fold_boost = float(boost), fold_boost
        self.w = None
        if sts is not None:
            self.w = self.weight(
                np.float32(sum(float(st.idf) for st in sts)),
                sum(_idf(s.maxdoc, st.df) for st in sts),
            )

    def weight(self, idf, idf_exact):
        """``idf*(k1+1)`` in the mode's precision (scalar or per entry);
        boost*idf for a keyword field."""
        if self.keyword:
            if self.exact:
                return idf_exact * self.boost
            return np.float32(idf) * np.float32(self.boost)
        if self.exact:
            return idf_exact * (self.k1 + 1.0) * self.boost
        w = np.float32(idf) * (np.float32(self.k1) + np.float32(1.0))
        return w * np.float32(self.boost) if self.fold_boost else w

    def __call__(self, freq, norm, w=None) -> np.ndarray:
        """Per-entry scores as float64 (holding the float32 value, or the
        integer micro-units). ``norm`` is the entry's norm byte (float32)
        or exact doclen (exact_int); ``w`` overrides the driver weight."""
        w = self.w if w is None else w
        if self.keyword:
            s = np.floor(w * 1e6 + 0.5) if self.exact else w
            return np.broadcast_to(s, np.shape(freq)).astype(np.float64)
        if self.exact:
            f = np.asarray(freq, dtype=np.float64)
            dl = np.asarray(norm, dtype=np.float64)
            denom = f + self.k1 * ((1.0 - self.b) + (self.b * dl) / self.avgdl)
            return np.floor((w * f) / denom * 1e6 + 0.5)
        f = np.asarray(freq, dtype=np.float32)
        nb = np.asarray(norm, dtype=np.int64) & 0xFF
        s = ((w * f) / (f + self.cache[nb])).astype(np.float32)
        if self.boost != 1.0 and not self.fold_boost:
            s = (np.float32(self.boost) * s).astype(np.float32)
        return s.astype(np.float64)


def _score_hits(scorer: _BM25Scorer, pdf: pd.DataFrame, hit, freq) -> pd.DataFrame:
    """(docid, score) of the matching rows ``hit`` of a positional batch,
    ``freq`` per hit row, scored on the anchor slot's norm column."""
    norm = pdf["doclen" if scorer.exact else "norm_byte"].to_numpy(np.int64)
    return pd.DataFrame(
        {"docid": pdf["docid"].to_numpy(np.int64)[hit], "score": scorer(freq, norm[hit])}
    )


def _sloppy_freq(rows, match_len, n: int, hit, exact: bool) -> np.ndarray:
    """Per-row sum over a batch's matches of sloppyFreq = 1/(1+matchLength)
    (BM25Similarity.cs:74), for the ``hit`` rows. exact_int sums integer
    micro-unit factors (bit-reproducible in any engine); float32 mode sums
    float64 in anchor order and the scorer casts once (the engine-wide
    double-accumulate convention, see scoring/oracle.py)."""
    m = match_len.astype(np.float64)
    if exact:
        sf = np.floor(1e6 / (1.0 + m) + 0.5)
        return np.bincount(rows, weights=sf, minlength=n)[hit] / 1e6
    return np.bincount(rows, weights=1.0 / (1.0 + m), minlength=n)[hit]


# ---------------- non-BM25 similarities ------------------------------------ #
# Each factory maps (searcher, a term's TermStat, mu, jm_lambda) to that
# term's per-entry ``fn(tf, doclen)`` in double precision.
def _classic(s: "Searcher", st: TermStat, mu: float, lam: float):
    """TF-IDF / DefaultSimilarity (Similarities/TFIDFSimilarity.cs:33,
    DefaultSimilarity.cs:30): ``sqrt(tf) * idf^2 / sqrt(dl)`` with ``idf =
    1 + ln(maxdoc / (df + 1))``."""
    idf = 1.0 + math.log(s.maxdoc / (st.df + 1.0))
    w = idf * idf
    return lambda tf, dl: np.sqrt(tf) * w / np.sqrt(dl)


def _lm_dirichlet(s: "Searcher", st: TermStat, mu: float, lam: float):
    """LMDirichletSimilarity.cs:48: ``ln(1 + tf/(mu*p)) + ln(mu/(dl+mu))``
    with collection model ``p = ttf/sum_ttf``, clamped at 0 as
    LMDirichletSimilarity.cs:77 does (``score > 0 ? score : 0``): a common
    term in a long document otherwise adds a negative score."""
    mup = mu * (st.ttf / float(s.sum_ttf))
    return lambda tf, dl: np.maximum(np.log(1.0 + tf / mup) + np.log(mu / (dl + mu)), 0.0)


def _lm_jelinek_mercer(s: "Searcher", st: TermStat, mu: float, lam: float):
    """LMJelinekMercerSimilarity.cs:40: ``ln(1 + ((1-lambda)*tf/dl) /
    (lambda*p))``, ``p = ttf/sum_ttf``."""
    lp = lam * (st.ttf / float(s.sum_ttf))
    return lambda tf, dl: np.log(1.0 + ((1.0 - lam) * tf / dl) / lp)


def _ib_ll_d2(s: "Searcher", st: TermStat, mu: float, lam: float):
    """IBSimilarity.cs:113 with DistributionLL.cs + LambdaDF.cs +
    NormalizationH2.cs (c=1): lambda = (df+1)/(N+1), tfn = tf*log2(1 +
    avgdl/dl), score = -ln(lambda/(tfn+lambda))."""
    lam_df = (st.df + 1.0) / (float(s.maxdoc) + 1.0)
    avgdl = s.avgdl_exact

    def fn(tf, dl):
        tfn = tf * np.log2(1.0 + avgdl / dl)
        return -np.log(lam_df / (tfn + lam_df))
    return fn


def _dfr_ine_b2(s: "Searcher", st: TermStat, mu: float, lam: float):
    """DFRSimilarity.cs:121 with BasicModelIne.cs + AfterEffectB.cs +
    NormalizationH2.cs (c=1): tfn = tf*log2(1 + avgdl/dl); ne = N*(1 -
    ((N-1)/N)^F); score = tfn * log2((N+1)/(ne+0.5)) * (F+2)/((df+1)*(tfn+1)).
    The reference's intermediate float32 casts are dropped — this runs on
    the integer-exact double contract like the others."""
    N = float(s.maxdoc)
    Fq = float(st.ttf)
    ne = N * (1.0 - math.pow((N - 1.0) / N, Fq))
    bw = math.log2((N + 1.0) / (ne + 0.5))
    gnum = Fq + 2.0  # AfterEffectB: (F+1), F = ttf+1
    gdf = float(st.df + 1)
    avgdl = s.avgdl_exact

    def fn(tf, dl):
        tfn = tf * np.log2(1.0 + avgdl / dl)
        return (tfn * bw) * (gnum / (gdf * (tfn + 1.0)))
    return fn


_SIMILARITIES = {
    "classic": _classic,
    "lm_dirichlet": _lm_dirichlet,
    "lm_jelinek_mercer": _lm_jelinek_mercer,
    "ib_ll_d2": _ib_ll_d2,
    "dfr_ine_b2": _dfr_ine_b2,
}


class _MicroScorer:
    """The per-entry scorer of a non-BM25 similarity, always integer-exact:
    ``w`` is the term's ``fn(tf, doclen)`` from :data:`_SIMILARITIES` and
    every entry floors to micro units ``floor(fn*1e6 + 0.5)``. It plugs
    into :func:`_term_kernel` where a :class:`_BM25Scorer` does
    (``exact`` makes the kernel read exact doclens)."""

    exact = True

    def __init__(self, fn):
        self.w = fn

    def __call__(self, freq, norm, w=None) -> np.ndarray:
        tf = np.asarray(freq, dtype=np.float64)
        return np.floor(self.w(tf, np.asarray(norm, dtype=np.float64)) * 1e6 + 0.5)


# ---------------- per-shape kernels (both executors) ----------------------- #
def _term_kernel(batches, scorer: _BM25Scorer, maxdoc: int):
    """Posting blocks -> (docid, score float64-holding-float32-value): the
    one decode fused with the one per-entry scorer — the vectorized
    Lucene41PostingsReader.RefillDocs + BM25DocScorer.Score. Reads
    ``norm_bytes`` in float32 mode and ``doclens`` in exact_int mode. A
    scorer without term stats (the scored multi-term rewrite) weighs each
    entry by the idf of its block's joined ``df``."""
    norm = "doclens" if scorer.exact else "norm_bytes"
    for pdf, docids, lens, flat in _decode_blocks(batches, "freqs", norm):
        w = None
        if scorer.w is None:
            idf = _idf_per_entry(pdf["df"], lens, maxdoc)
            w = scorer.weight(idf, idf)
        yield pd.DataFrame({"docid": docids, "score": scorer(flat["freqs"], flat[norm], w)})


def _docid_kernel(batches):
    """Posting blocks -> the docids alone (deduped per batch): the match
    set of a constant-score query."""
    for _, docids, _, _ in _decode_blocks(batches):
        yield pd.DataFrame({"docid": np.unique(docids)})


def _position_kernel(batches, need_norms: bool):
    """Posting blocks -> (docid, [norm_byte, doclen,] positions) for the
    positional queries; ``need_norms`` adds the anchor slot's scoring
    columns."""
    norms = ["norm_bytes", "doclens"] if need_norms else []
    for _, docids, _, flat in _decode_blocks(batches, "freqs", *norms, "positions"):
        res = {"docid": docids}
        if need_norms:
            res["norm_byte"] = flat["norm_bytes"]
            res["doclen"] = flat["doclens"]
        res["positions"] = flat["positions"]
        yield pd.DataFrame(res)


def _phrase_kernel(batches, nterms: int, slop: int, scorer: _BM25Scorer):
    """Position intersection + pseudo-term BM25 score of PhraseQuery and
    MultiPhraseQuery (ExactPhraseScorer.cs:26-99): each batch row carries
    one sorted position array per slot (pos_0..pos_{n-1}) plus docid/
    norm_byte/doclen; slot i must have a position p0+i (within ±slop).
    The ``scorer`` carries the field's norm cache / avgdl — a phrase on an
    extra text field carries that FIELD'S doclens in its postings.

    Fully vectorized across the batch (the chunked style of
    ExactPhraseScorer.cs:26-99): matches are found with searchsorted on
    the :func:`_flat_keys` of each slot. No per-row or per-position Python
    loops; every row is scored on its own, so batch boundaries and row
    order never change a score.

    slop==0 needs position p0+i present in term i's list (freq = match
    count, slop factor 1). slop>0 follows the reference's
    SloppyPhraseScorer (SloppyPhraseScorer.cs PhraseFreq, matchLength =
    adjusted-window size, match iff matchLength <= slop) with damped freq
    contributions 1/(1+matchLength) (BM25Similarity.cs:74 SloppyFreq): per
    anchor a0 (slot-0 adjusted position), each slot contributes its
    NEAREST adjusted position (tie -> earlier), matchLength = max - min
    over the chosen adjusted positions incl. the anchor. Enumeration is
    anchor-based — one candidate combination per slot-0 position — a
    deterministic convention; the reference's own PhraseQueue enumeration
    is likewise order-dependent and approximate (see the
    SloppyPhraseScorer.cs PhraseFreq doc comment)."""
    BIG = np.int64(1) << 40  # poison distance; masked by `match`

    for pdf in batches:
        if len(pdf) == 0:
            continue
        base_keys, base_rows = _flat_keys(pdf["pos_0"])
        match = np.ones(len(base_keys), dtype=bool)
        maxc = np.zeros(len(base_keys), dtype=np.int64)
        minc = np.zeros(len(base_keys), dtype=np.int64)
        for i in range(1, nterms):
            keys_i, _ = _flat_keys(pdf[f"pos_{i}"])
            if slop == 0:
                cand = base_keys + i
                idx = np.searchsorted(keys_i, cand)
                np.minimum(idx, max(len(keys_i) - 1, 0), out=idx)
                found = (
                    keys_i[idx] == cand
                    if len(keys_i)
                    else np.zeros(len(cand), dtype=bool)
                )
            else:
                # nearest adjusted position per anchor (adj = pos-i;
                # composite keys keep rows separated, so a cross-row
                # neighbor's distance always exceeds `slop`)
                adj = keys_i - i
                n_i = len(adj)
                if n_i == 0:
                    match[:] = False
                    break
                idxr = np.searchsorted(adj, base_keys, "left")
                right = adj[np.minimum(idxr, n_i - 1)]
                dr = np.where(idxr < n_i, right - base_keys, BIG)
                left = adj[np.maximum(idxr - 1, 0)]
                dl_ = np.where(idxr > 0, base_keys - left, BIG)
                found = np.minimum(dl_, dr) <= slop
                c = np.where(dl_ <= dr, -dl_, dr)  # tie -> earlier
                np.maximum(maxc, c, out=maxc)
                np.minimum(minc, c, out=minc)
            match &= found
        if slop > 0:
            matchlen = maxc - minc
            match &= matchlen <= slop
        counts = np.bincount(base_rows[match], minlength=len(pdf)).astype(np.int64)
        hit = counts > 0
        if not hit.any():
            continue
        if slop == 0:
            # exact phrase: slop factor 1 per match, freq = count
            f = counts[hit].astype(np.float64)
        else:
            f = _sloppy_freq(
                base_rows[match], matchlen[match], len(pdf), hit, scorer.exact
            )
        yield _score_hits(scorer, pdf, hit, f)


def _hits(frames) -> pd.Series:
    """Kernel output frames -> one score Series indexed by docid."""
    frames = [f for f in frames if len(f)]
    if not frames:
        return pd.Series([], index=pd.Index([], dtype=np.int64), dtype=np.float64)
    df = pd.concat(frames, ignore_index=True)
    return pd.Series(df["score"].to_numpy(np.float64), index=df["docid"].to_numpy(np.int64))


def _topk_with_rank(scored: DataFrame, k: int) -> DataFrame:
    """Distributed top-k with the HitQueue tie-break (score desc, docid asc
    — HitQueue.cs:77-87) plus a rank column: TakeOrderedAndProject for the
    cut, then a k-row window for numbering. Shared by every collector-style
    entry point so a tie-break change can never diverge between paths."""
    from pyspark.sql import Window

    top = scored.orderBy(F.desc("score"), F.asc("docid")).limit(k)
    return top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("score"), F.asc("docid"))),
    )


@dataclass
class TermStat:
    df: int
    ttf: int
    idf: np.float32
    max_ub: np.float32


class Searcher:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        k1: float = 1.2,
        b: float = 0.75,
        scoring: str = "lucene",
    ):
        """``scoring``:

        - ``"lucene"`` (default): float32 BM25 on quantized norm bytes —
          rank-identical to the reference (SURVEY.md §4.4).
        - ``"exact_int"``: double-precision BM25 on exact doc lengths,
          scaled to integer micro-units ``floor(score*1e6 + 0.5)``. Every
          arithmetic step is IEEE-754 double with a fixed op order, so an
          external SQL engine (the DuckDB oracle) reproduces the integers
          bit-for-bit and aggregation order can never flip a rank. Used by
          the driver correctness gate (__spark_entry__.py).
        """
        if scoring not in ("lucene", "exact_int"):
            raise ValueError(scoring)
        self.spark = spark
        self.index_dir = index_dir
        # composite index = base + committed delta generations (the
        # BaseCompositeReader over segments_N commit points; docids are
        # already globally offset at build time, so composition is a union)
        dirs = [index_dir, *IndexStorage(index_dir).delta_dirs()]
        self.is_composite = len(dirs) > 1
        stores = [IndexStorage(d) for d in dirs]
        self._stores = stores
        posts = [st.read_stage(spark, "postings", POSTINGS_SCHEMA) for st in stores]
        self.postings = reduce(lambda a, b: a.unionAll(b), posts)
        # docmap widened by the doc-values columns recorded at build time
        # (dv_ddl in the stage meta); the base's DDL binds all generations —
        # they are built with the same config by construction
        from ..index.builder import widen_ddl

        self.dv_ddl = stores[0].commit_meta("docmap").get("dv_ddl", "")
        dm_schema = widen_ddl(DOCMAP_SCHEMA, self.dv_ddl)
        dms = [st.read_stage(spark, "docmap", dm_schema) for st in stores]
        self.docmap = reduce(lambda a, b: a.unionAll(b), dms)
        tss = [st.read_stage(spark, "termstats", TERMSTATS_SCHEMA).select("term", "df", "ttf", "max_ub") for st in stores]
        ts = reduce(lambda a, b: a.unionAll(b), tss)
        if self.is_composite:
            # collection statistics are re-derived over the composite —
            # exactly what IndexSearcher does over a composite reader
            ts = ts.groupBy("term").agg(
                F.sum("df").alias("df"),
                F.sum("ttf").alias("ttf"),
                F.max("max_ub").alias("max_ub"),
            )
        self.termstats = ts
        maxdoc = sum_ttf = 0
        for st in stores:
            srow = st.read_local("stats", STATS_SCHEMA, ["maxdoc", "sum_ttf"])
            maxdoc += sum(srow.column("maxdoc").to_pylist())
            sum_ttf += sum(srow.column("sum_ttf").to_pylist())
        self.maxdoc = maxdoc
        self.sum_ttf = sum_ttf
        # liveDocs (Lucene40LiveDocsFormat.cs:64 analogue): tombstoned docs
        # are anti-joined out of every match set and the docmap; collection
        # stats (maxdoc/avgdl/df) deliberately STILL count them until a
        # compaction physically removes them — reference semantics. The
        # driver seek reads the same ops (listed once, here) on first use.
        from ..index.deletes import read_tombstones, tombstone_ops

        self._tombstone_ops = tombstone_ops(index_dir)
        self.tombstones = read_tombstones(spark, index_dir, self._tombstone_ops)
        self.docmap = self._live(self.docmap)
        self.has_positions = all(
            st.commit_meta("postings").get("index_positions", True) for st in stores
        )
        # index-time sort (IndexConfig.sort_field): docid order == sort-key
        # order, recorded in the stats meta config. Only honored when the
        # composite is the sorted base alone — a delta generation appends
        # docids past the base and breaks global monotonicity.
        cfg_meta = stores[0].commit_meta("stats").get("config") or {}
        self.sort_field = (
            cfg_meta.get("sort_field") if not self.is_composite else None
        )
        # extra analyzed fields (TextField.cs:38 / FieldInfos per-field
        # norms): per-field sum_ttf sums EXACTLY across generations (each
        # stats meta records its own field_stats), per-field avgdl derives
        # from the composite maxdoc like the main avgdl does
        self.text_fields = tuple(cfg_meta.get("text_fields") or ())
        self._field_sum_ttf: dict[str, int] = {}
        for st_ in stores:
            for fname, v in (
                st_.commit_meta("stats").get("field_stats") or {}
            ).items():
                self._field_sum_ttf[fname] = (
                    self._field_sum_ttf.get(fname, 0) + int(v["sum_ttf"])
                )
        # query-side analysis chain == the chain the index was built with
        # (recorded in the stats meta; default chain for older indexes)
        self._analyzer_meta = stores[0].commit_meta("stats").get("analyzer") or {}
        self.analyzer = self._chain(self._analyzer_meta.get("name", "standard"))
        #: lang code -> chain name for lang-routed indexes (the build's
        #: IndexConfig.lang_chains); analyzer_for_lang picks the chain
        self.lang_routes: dict[str, str] = dict(self._analyzer_meta.get("lang_routes") or {})
        # avgdl over the composite, float32 exactly as BM25Similarity.cs:91-102
        self.avgdl = np.float32(sum_ttf / float(maxdoc)) if maxdoc and sum_ttf > 0 else np.float32(1.0)
        # double-precision avgdl for exact_int mode (no float32 rounding)
        self.avgdl_exact = self.sum_ttf / float(self.maxdoc) if self.maxdoc else 1.0
        self.bm25 = BM25(k1, b)
        self.cache = self.bm25.norm_cache(self.avgdl)
        # per-extra-text-field norm caches / exact avgdls
        self.field_cache: dict = {}
        self.field_avgdl_exact: dict[str, float] = {}
        for fname in self.text_fields:
            s_ttf = self._field_sum_ttf.get(fname, 0)
            f_avgdl = (
                np.float32(s_ttf / self.maxdoc)
                if self.maxdoc and s_ttf > 0 else np.float32(1.0)
            )
            self.field_cache[fname] = self.bm25.norm_cache(f_avgdl)
            self.field_avgdl_exact[fname] = (
                s_ttf / float(self.maxdoc) if self.maxdoc and s_ttf > 0 else 1.0
            )
        self.k1 = np.float32(k1)
        self.k1d = float(k1)
        self.bd = float(b)
        self.scoring = scoring
        # constant score for filter-ish queries (MatchAll/ConstantScore/
        # MultiTerm): 1.0, or its micro-unit representation in exact_int
        self.const_score = 1_000_000.0 if scoring == "exact_int" else 1.0
        # CachingWrapperFilter: persisted docid-set DataFrames keyed by the
        # wrapped filter's canonical (frozen dataclass) repr
        self._filter_cache: dict[str, DataFrame] = {}
        # the UNPRUNED postings view: cached filter sets must be built
        # against this, never against a temporarily block-pruned
        # self.postings (FilteredQuery sort-field prune / index-sort probe)
        self._base_postings = self.postings

    def parse(
        self,
        s: str,
        default_operator: str = "OR",
        lang: str | None = None,
        dialect: str = "classic",
    ):
        """Parse a query string with THIS index's configuration: the chain
        the index was built with (or the routed chain for ``lang`` on a
        lang-routed index) analyzes the terms, and the index's declared
        text_fields get the per-field-analyzer treatment (quoted values on
        them parse to per-field phrases). The QueryParser-with-the-right-
        Analyzer convenience the reference constructs manually.
        ``dialect="complex_phrase"`` selects the ComplexPhraseQueryParser
        grammar (in-phrase wildcards/fuzzies/groups -> span trees);
        ``dialect="surround"`` the Surround proximity language (nW/nN
        distance operators -> span trees, Surround/Parser/QueryParser.jj);
        ``dialect="simple"`` the never-throwing SimpleQueryParser grammar
        (SimpleQueryParser.cs:46); ``dialect="xml"`` the XML element
        registry (Xml/CoreParser.cs:38)."""
        from .parser import parse_query

        analyzer = self.analyzer_for_lang(lang) if lang else self.analyzer
        if dialect == "xml":
            from .xmlparser import parse_xml_query

            return parse_xml_query(
                s, analyzer=analyzer,
                text_fields=frozenset(self.text_fields),
            )
        if dialect == "surround":
            from .surround import parse_surround

            return parse_surround(s, analyzer=analyzer)
        if dialect == "simple":
            from .simple import parse_simple

            return parse_simple(s, analyzer=analyzer,
                                default_operator=default_operator)
        return parse_query(
            s, analyzer=analyzer, default_operator=default_operator,
            text_fields=frozenset(self.text_fields), dialect=dialect,
        )

    def analyzer_for_lang(self, lang: str):
        """The analysis chain for one language of a lang-routed index
        (IndexConfig.lang_chains): query text targeting documents of that
        language must be analyzed with the SAME chain the build used for
        them — the per-document PerFieldAnalyzerWrapper contract. Unrouted
        languages use the index's default chain."""
        name = self.lang_routes.get(lang)
        return self.analyzer if name is None else self._chain(name)

    def _chain(self, name: str):
        """The analysis chain ``name`` with the stop filter, token-length
        cap and tokenizer the index was built with (stats commit meta)."""
        from ..analysis.analyzer import ENGLISH_STOP_WORDS, analyzer_for

        am = self._analyzer_meta
        return analyzer_for(
            name,
            stop_words=(
                ENGLISH_STOP_WORDS if am.get("stop_filter", True) else frozenset()
            ),
            max_token_length=am.get("max_token_length", 255),
            ascii_only=am.get("ascii_tokens", False),
        )

    # ---------------- term statistics (Weight creation) ----------------- #
    def term_stats(self, terms: list[str]) -> dict[str, TermStat]:
        """Pull TermStatistics for the query's terms — the
        CreateNormalizedWeight stats fetch (IndexSearcher.cs:703-715). A
        driver-side read of each generation's term-sorted termstats, whose
        Parquet footers skip every row group that cannot hold the terms;
        df and ttf sum exactly over the generations, max_ub takes the max.
        No Spark job runs."""
        if not terms:
            return {}
        # an OR of equalities, not isin: pyarrow prunes row groups by their
        # min/max statistics only for the former
        keys = reduce(lambda a, b: a | b, [pc.field("term") == t for t in sorted(set(terms))])
        acc: dict[str, tuple] = {}
        for st in self._stores:
            tab = st.read_local("termstats", TERMSTATS_SCHEMA, ["term", "df", "ttf", "max_ub"], keys)
            for t, df, ttf, ub in zip(*(c.to_pylist() for c in tab.columns)):
                if t in acc:
                    df0, ttf0, ub0 = acc[t]
                    df, ttf, ub = df0 + df, ttf0 + ttf, max(ub0, ub)
                acc[t] = (df, ttf, ub)
        # idf recomputed from the COMPOSITE df (BM25Similarity.cs:67-70:
        # double log, one float cast) — the stored per-generation idf is
        # stale the moment a delta lands
        return {
            t: TermStat(df, ttf, np.float32(_idf(self.maxdoc, df)), np.float32(ub))
            for t, (df, ttf, ub) in acc.items()
        }

    # ---------------- decode + score kernel ----------------------------- #
    def _decode_score(self, blocks: DataFrame, scorer: _BM25Scorer) -> DataFrame:
        """Posting blocks -> (docid, score): :func:`_term_kernel` on the
        executors, over a scan of only the columns it reads."""
        norm = "doclens" if scorer.exact else "norm_bytes"
        maxdoc = self.maxdoc
        cols = ["first_docid", "docid_deltas", "freqs", norm]
        return blocks.select(*cols, *(["df"] if scorer.w is None else [])).mapInPandas(
            lambda it: _term_kernel(it, scorer, maxdoc), schema=_EMPTY_SCHEMA
        )

    def _decode_docids(self, blocks: DataFrame) -> DataFrame:
        """Posting blocks -> the docids alone: :func:`_docid_kernel`."""
        return blocks.select("first_docid", "docid_deltas").mapInPandas(
            _docid_kernel, schema="docid long"
        )

    def _decode_positions(self, blocks: DataFrame, need_norms: bool = True) -> DataFrame:
        """Posting blocks -> (docid, [norm_byte, doclen,] positions):
        :func:`_position_kernel`. ``need_norms=False`` prunes the
        norm_bytes / doclens array columns out of the Parquet scan entirely
        — a non-anchor slot of a phrase/span only contributes positions,
        and the scoring columns ride the anchor slot's scan."""
        norms = ["norm_bytes", "doclens"] if need_norms else []
        schema = "docid long, positions array<int>"
        if need_norms:
            schema = "docid long, norm_byte int, doclen int, positions array<int>"
        cols = blocks.select("first_docid", "docid_deltas", "freqs", *norms, "positions")
        return cols.mapInPandas(lambda it: _position_kernel(it, need_norms), schema=schema)

    def _slot(self, keys: list[str], i: int) -> DataFrame:
        """Slot ``i`` of a positional join: docid + ``pos_i``, the sorted
        positions of ``keys``. Several keys merge into one deduped position
        stream per doc — MultiPhraseQuery's UnionDocsAndPositionsEnum, the
        SpanOrQuery.cs:36-58 union (two alternatives at one position count
        a single match site). Slot 0 also carries norm_byte/doclen for the
        scorer."""
        term = F.col("term")
        blocks = self.postings.filter(
            term == keys[0] if len(keys) == 1 else term.isin(keys)
        )
        dec = self._decode_positions(blocks, need_norms=(i == 0))
        if len(keys) == 1:
            norms = [F.col("norm_byte"), F.col("doclen")] if i == 0 else []
            return dec.select("docid", F.col("positions").alias(f"pos_{i}"), *norms)
        aggs = [
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("positions")))
            ).alias(f"pos_{i}")
        ]
        if i == 0:
            aggs += [
                F.first("norm_byte").alias("norm_byte"),
                F.first("doclen").alias("doclen"),
            ]
        return dec.groupBy("docid").agg(*aggs)

    # ---------------- per-query-type scoring ----------------------------- #
    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame([], _EMPTY_SCHEMA)

    def _score_term(self, q: TermQuery, stats: dict[str, TermStat]) -> DataFrame:
        """TermQuery on any field: a pushdown-pruned seek of the (namespaced)
        key's blocks through :func:`_term_kernel`; the scorer knows a
        keyword field's norms-omitted boost*idf."""
        key = _skey(q.field, q.term)
        st = stats.get(key)
        if st is None:
            return self._empty()
        blocks = self.postings.filter(F.col("term") == key)
        return self._decode_score(blocks, _BM25Scorer(self, q.field, [st], q.boost))

    def _expand_terms(self, q: Query) -> DataFrame:
        """Term-dictionary scan for MultiTermQuery shapes — returns a
        DataFrame of matching terms (never collected: scales to huge
        vocabularies; the constant-score path semi-joins it). Field-aware:
        a non-text ``field`` rewrites the scan into the "<field>:" key
        namespace; text-field scans exclude namespaced keys (a text term
        can never contain ':')."""
        t = F.col("term")
        field = getattr(q, "field", "text")
        pfx = "" if field == "text" else field + ":"
        if isinstance(q, PrefixQuery):
            cond = t.startswith(pfx + q.prefix)
        elif isinstance(q, WildcardQuery):
            import re as _re

            rx = fnmatch.translate(q.pattern).replace("(?s:", "(?:")
            cond = t.rlike("^" + _re.escape(pfx) + rx if pfx else "^" + rx)
        elif isinstance(q, RegexpQuery):
            import re as _re

            cond = t.rlike(f"^{_re.escape(pfx)}(?:{q.pattern})$" if pfx else f"^(?:{q.pattern})$")
        elif isinstance(q, FuzzyQuery):
            key = pfx + q.term
            cond = F.levenshtein(t, F.lit(key)) <= q.max_edits
            if q.prefix_length or pfx:
                cond = cond & t.startswith(key[: len(pfx) + q.prefix_length])
            cond = cond & (
                F.abs(F.length(t) - F.lit(len(key))) <= q.max_edits
            )
        elif isinstance(q, TermRangeQuery):
            cond = F.lit(True)
            if q.lower is not None:
                lo = pfx + q.lower
                cond = cond & (t >= lo if q.include_lower else t > lo)
            if q.upper is not None:
                hi = pfx + q.upper
                cond = cond & (t <= hi if q.include_upper else t < hi)
            if pfx:
                cond = cond & t.startswith(pfx)
        else:
            raise TypeError(q)
        if not pfx:
            cond = cond & ~t.contains(":")  # text scans never match keyword keys
        return self.termstats.filter(cond).select("term")

    def _score_multiterm(self, q: Query) -> DataFrame:
        """CONSTANT_SCORE_AUTO rewrite (MultiTermQuery.cs:95): matching docs
        get constant score boost. Distributed end-to-end: expanded terms are
        semi-joined against postings (broadcast — the term list is small
        relative to postings), docids decoded, deduplicated."""
        terms = self._expand_terms(q)
        blocks = self.postings.join(F.broadcast(terms), "term", "left_semi")
        docs = self._decode_docids(blocks).distinct()
        boost = float(np.float32(getattr(q, "boost", 1.0))) * self.const_score
        return docs.withColumn("score", F.lit(boost).cast("double"))

    def _score_phrase(self, q: PhraseQuery, stats: dict[str, TermStat]) -> DataFrame:
        """ExactPhraseScorer / SloppyPhraseScorer (ExactPhraseScorer.cs:26-99)
        as a join of positional postings + a vectorized position-intersection
        kernel; scored like a pseudo-term with freq = phrase occurrences and
        idf = sum of constituent idfs. ``q.field`` may name an extra text
        field: each slot seeks the namespaced "<field>:<term>" postings and
        scoring uses the field's own norms/avgdl."""
        plan = self._phrase_plan(q, stats)
        if plan is None:
            return self._empty()
        keys, scorer = plan
        per_term = [self._slot([k], i) for i, k in enumerate(keys)]
        joined = reduce(lambda a, b: a.join(b, "docid", "inner"), per_term)
        return self._positions_kernel(joined, len(keys), q.slop, scorer)

    def _phrase_plan(self, q: PhraseQuery, stats: dict[str, TermStat]):
        """(slot term keys, scorer) of a phrase, or None when one of its
        terms is not in the index (it can never match)."""
        fld = getattr(q, "field", "text")
        keys = [_skey(fld, t) for t in q.terms]
        if any(k not in stats for k in keys):
            return None
        if not self.has_positions:
            raise ValueError(
                "phrase queries need an index built with index_positions=True"
            )
        return keys, _BM25Scorer(self, fld, [stats[k] for k in keys], q.boost)

    def _positions_kernel(
        self, joined: DataFrame, nterms: int, slop: int, scorer: _BM25Scorer
    ) -> DataFrame:
        """:func:`_phrase_kernel` on the executors, behind PhraseQuery AND
        MultiPhraseQuery: ``joined`` carries pos_0..pos_{n-1} plus
        docid/norm_byte/doclen."""
        return joined.mapInPandas(
            lambda it: _phrase_kernel(it, nterms, slop, scorer), schema=_EMPTY_SCHEMA
        )

    def _score_multiphrase(self, q: MultiPhraseQuery, stats: dict[str, TermStat]) -> DataFrame:
        """MultiPhraseQuery (MultiPhraseQuery.cs:72): per slot, the position
        lists of ALL alternative terms are unioned per doc (the reference's
        UnionDocsAndPositionsEnum), then the ordinary phrase kernel runs on
        the merged streams. idf = sum over every member term present in the
        index — exactly how the reference builds the weight from all terms'
        stats. A slot with no indexed alternative can never match."""
        if not self.has_positions:
            raise ValueError(
                "phrase queries need an index built with index_positions=True"
            )
        slots: list[list[str]] = []
        for slot in q.slots:
            alts = [t for t in slot if t in stats]
            if not alts:
                return self._empty()
            slots.append(alts)
        per_slot = [self._slot(alts, i) for i, alts in enumerate(slots)]
        joined = reduce(lambda a, b: a.join(b, "docid", "inner"), per_slot)
        scorer = _BM25Scorer(
            self, "text", [stats[t] for slot in slots for t in slot], q.boost
        )
        return self._positions_kernel(joined, len(slots), q.slop, scorer)

    def _score_span_near(self, q: SpanNearQuery, stats: dict[str, TermStat]) -> DataFrame:
        """Spans module proximity scorer (SpanNearQuery.cs:38-66).

        Physical plan is the phrase shape — per-term positional postings
        joined on docid, then one vectorized kernel — but the match rule is
        the span algebra, not slot offsets:

        - ordered (NearSpansOrdered.cs:42-89): clause spans in order,
          non-overlapping, total window width - n <= slop. For unit term
          spans the greedy chain p_i = min{pos in P_i : pos >= p_{i-1}+1}
          minimizes p_{n-1} for a given anchor p_0, so anchored-existence
          under the greedy chain is exact (choosing any later p_i can only
          grow the window).
        - unordered (NearSpansUnordered.cs:36-60): two clauses within a
          joint window, order-free, overlap allowed: |p_1 - p_0| <= slop+1.
          n>2 unordered needs the reference's SpansCell queue and is
          declared out of scope.
        - a SpanOr clause (synonym union, SpanOrQuery.cs:36-58) becomes a
          merged deduped position stream per doc — the multiphrase
          slot-union — before the same kernel runs; the greedy-chain
          exactness argument is unchanged (the union stream is sorted).

        freq/idf conventions match this engine's SloppyPhraseScorer (see
        SpanNearQuery dataclass docstring for the documented sloppyFreq
        divergence).

        Nested SpanNearQuery clauses (r4, SpanNearQuery.cs composable
        clause trees): a nested clause is recursively ENUMERATED first —
        its own join + kernel run in span-emission mode, producing per-doc
        (start, end) arrays of its matches — and the outer ordered chain
        then walks variable-length spans: next clause's first span with
        start >= current end (DocSpansOrdered non-overlap), match iff
        (last end - anchor start) - sum(chosen lengths) <= slop (the gap
        sum, NearSpansOrdered.cs matchWidth), freq contribution
        sloppyFreq(last end - anchor start). For all-unit clauses this is
        arithmetically the flat rule — same scores bit-for-bit."""
        if not self.has_positions:
            raise ValueError(
                "span queries need an index built with index_positions=True"
            )
        fld = getattr(q, "field", "text")
        built = self._span_join(q, stats, fld)
        if built is None:
            return self._empty()
        joined, kinds, member_keys = built
        scorer = _BM25Scorer(self, fld, [stats[t] for t in member_keys], q.boost)
        return self._span_kernel(joined, kinds, q.slop, q.in_order, scorer)

    def _span_join(
        self, q: SpanNearQuery, stats: dict[str, TermStat], fld: str
    ) -> "tuple[DataFrame, list[str], list[str]] | None":
        """Build the per-clause docid join for a span query: clause i
        contributes ``pos_i`` (sorted unit-span positions) for term/union
        clauses, or ``start_i``/``end_i`` (enumerated match spans) for a
        nested SpanNearQuery clause. Returns (joined, kinds, member term
        keys) — None when some clause has no indexed member (it can never
        match). Clause 0 additionally carries norm_byte/doclen."""
        clauses = q.clauses_norm()
        member_keys: list[str] = []
        per_slot = []
        kinds: list[str] = []
        for i, c in enumerate(clauses):
            if isinstance(c, SpanNearQuery):
                # a span tree is single-field (SpanNearQuery.cs:56 rejects
                # mixed-field clauses); a nested clause carrying a DIFFERENT
                # field would otherwise be silently searched against the
                # outer field's postings — refuse loudly instead
                if getattr(c, "field", fld) != fld:
                    raise ValueError(
                        f"nested SpanNearQuery clause field {c.field!r} differs "
                        f"from the outer query's field {fld!r}; span clause "
                        "trees are single-field (set the same field on every "
                        "level)"
                    )
                sub = self._span_join(c, stats, fld)
                if sub is None:
                    return None
                sub_joined, sub_kinds, sub_members = sub
                member_keys.extend(sub_members)
                spans = self._span_kernel(
                    sub_joined, sub_kinds, c.slop, c.in_order, None
                )
                cols = [
                    F.col("docid"),
                    F.col("starts").alias(f"start_{i}"),
                    F.col("ends").alias(f"end_{i}"),
                ]
                if i == 0:
                    cols += [F.col("norm_byte"), F.col("doclen")]
                per_slot.append(spans.select(*cols))
                kinds.append("span")
                continue
            if isinstance(c, SpanMultiTermWrapper):
                # SpanMultiTermQueryWrapper.cs:44 — expand the wrapped MTQ
                # against the term dictionary into a position-union clause
                # (the reference's SpanRewriteMethod -> SpanOr over the
                # matching terms), capped like BooleanQuery.maxClauseCount
                mtq = c.query
                if getattr(mtq, "field", "text") != fld:
                    raise ValueError(
                        f"span multi-term clause field "
                        f"{getattr(mtq, 'field', 'text')!r} differs from the "
                        f"outer query's field {fld!r}; span clause trees are "
                        "single-field"
                    )
                rows = self._expand_terms(mtq).limit(1025).collect()
                alts = sorted(r["term"] for r in rows)
                if len(alts) > 1024:
                    raise ValueError(
                        "span multi-term expansion exceeded 1024 terms "
                        "(BooleanQuery.maxClauseCount analogue — tighten "
                        "the pattern)"
                    )
                if not alts:
                    return None
                missing = [t for t in alts if t not in stats]
                if missing:
                    stats.update(self.term_stats(missing))
                alts = [t for t in alts if t in stats]
                if not alts:
                    return None
            else:
                # a union clause's missing members just contribute no
                # spans; a clause with NO indexed member can never match
                # (SpanOrQuery.cs)
                alts = [_skey(fld, t) for t in c if _skey(fld, t) in stats]
                if not alts:
                    return None
            member_keys.extend(alts)
            per_slot.append(self._slot(alts, i))
            kinds.append("unit")
        joined = reduce(lambda a, b: a.join(b, "docid", "inner"), per_slot)
        return joined, kinds, member_keys

    def _span_kernel(
        self,
        joined: DataFrame,
        kinds: "list[str]",
        slop: int,
        in_order: bool,
        scorer: "_BM25Scorer | None",
    ) -> DataFrame:
        """Vectorized span matcher on :func:`_flat_keys` — the same
        batch-flattening trick as ``_positions_kernel`` (a chain that
        escapes its row overshoots the window bound ``slop + nterms - 1 <<
        2^33`` and can never false-positive). The ``scorer`` carries the
        field's norm cache / avgdl — spans on an extra text field carry
        that FIELD'S doclens in their namespaced postings (same contract as
        the phrase kernel).

        ``kinds[i]`` says whether clause i is a ``unit`` term/union clause
        (column ``pos_i``, span [p, p+1)) or an enumerated nested ``span``
        clause (columns ``start_i``/``end_i``). The ordered chain walks
        (start, end) pairs — next clause's first span with start >=
        current end — and applies the NearSpansOrdered gap-sum rule
        (covering window minus chosen span lengths <= slop); for all-unit
        clauses the arithmetic reduces exactly to the flat
        slop + n - 1 window rule, so flat queries score bit-identically.

        ``scorer=None`` returns the enumerated matches themselves (docid,
        starts, ends arrays, sorted and deduped per doc) instead of scores
        — the recursion step for nested clauses."""
        emit_spans = scorer is None
        nterms = len(kinds)
        slop64 = np.int64(slop)

        def span_score(batches):
            M = _ROW_KEY

            def flat_spans(pdf, i):
                """Clause i as parallel (start_key, end_key, rows)."""
                if kinds[i] == "unit":
                    keys, rows = _flat_keys(pdf[f"pos_{i}"])
                    return keys, keys + 1, rows
                s_keys, rows = _flat_keys(pdf[f"start_{i}"])
                e_keys, _ = _flat_keys(pdf[f"end_{i}"])
                return s_keys, e_keys, rows

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                base_keys, end0_keys, base_rows = flat_spans(pdf, 0)
                match = np.ones(len(base_keys), dtype=bool)
                if in_order:
                    cur_end = end0_keys.copy()
                    sum_len = end0_keys - base_keys
                    for i in range(1, nterms):
                        s_i, e_i, _ = flat_spans(pdf, i)
                        idx = np.searchsorted(s_i, cur_end, "left")
                        match &= idx < len(s_i)
                        if not len(s_i):
                            cur_end = cur_end + M  # no spans: poison the chain
                            continue
                        np.minimum(idx, len(s_i) - 1, out=idx)
                        sum_len = sum_len + (e_i[idx] - s_i[idx])
                        cur_end = e_i[idx]
                    # NearSpansOrdered matchWidth: the gaps between chosen
                    # spans = covering window - sum of chosen lengths
                    match &= (cur_end - base_keys - sum_len) <= slop64
                    # SpanScorer matchLength = End - Start: the covering
                    # window of the greedy chain in positions
                    mlen = cur_end - base_keys
                    span_starts, span_ends = base_keys, cur_end
                else:
                    # unordered n-clause window (NearSpansUnordered.cs:36
                    # SpansCell queue, re-expressed anchor-based): per
                    # anchor span, every other clause contributes its span
                    # with the NEAREST start (tie -> earlier); the joint
                    # window is [min start, max end] over the chosen spans
                    # incl. the anchor, and Lucene's slop rule is applied
                    # directly: matchLength - totalLength <= slop, where
                    # totalLength = sum of chosen span lengths (SpansCell
                    # length bookkeeping). For all-unit clauses this
                    # reduces EXACTLY to the old range <= slop + n - 1
                    # window rule (r5 generalization to variable-length
                    # nested clause spans; nearest-per-clause remains the
                    # documented enumeration convention, exact for n=2).
                    BIG = np.int64(1) << 40
                    GUARD = M >> 1  # cross-row bleed guard (pos < 2^32)
                    s_min = base_keys.copy()
                    e_max = end0_keys.copy()
                    total = end0_keys - base_keys
                    for i in range(1, nterms):
                        s_i, e_i, _ = flat_spans(pdf, i)
                        n_i = len(s_i)
                        if n_i == 0:
                            match[:] = False
                            break
                        idxr = np.searchsorted(s_i, base_keys, "left")
                        ir = np.minimum(idxr, n_i - 1)
                        dr = np.where(idxr < n_i, s_i[ir] - base_keys, BIG)
                        il = np.maximum(idxr - 1, 0)
                        dl_ = np.where(idxr > 0, base_keys - s_i[il], BIG)
                        match &= np.minimum(dl_, dr) <= GUARD
                        pick = np.where(dl_ <= dr, il, ir)
                        cs, ce = s_i[pick], e_i[pick]
                        np.minimum(s_min, cs, out=s_min)
                        np.maximum(e_max, ce, out=e_max)
                        total = total + (ce - cs)
                    rng = e_max - s_min
                    match &= (rng - total) <= slop64
                    mlen = rng  # max(end) - min(start): SpanScorer length
                    span_starts, span_ends = s_min, e_max
                if emit_spans:
                    # enumeration mode: return the matched spans themselves
                    # (per-doc arrays sorted by (start, end), identical
                    # covering spans from different anchors deduped — one
                    # match site, the SpanOr position-dedup convention)
                    m_rows = base_rows[match]
                    if not len(m_rows):
                        continue
                    s_pos = (span_starts - base_rows * M)[match]
                    e_pos = (span_ends - base_rows * M)[match]
                    order = np.lexsort((e_pos, s_pos, m_rows))
                    m_rows, s_pos, e_pos = m_rows[order], s_pos[order], e_pos[order]
                    keep = np.ones(len(m_rows), dtype=bool)
                    keep[1:] = (
                        (m_rows[1:] != m_rows[:-1])
                        | (s_pos[1:] != s_pos[:-1])
                        | (e_pos[1:] != e_pos[:-1])
                    )
                    m_rows, s_pos, e_pos = m_rows[keep], s_pos[keep], e_pos[keep]
                    cnts = np.bincount(m_rows, minlength=len(pdf))
                    hit = cnts > 0
                    cuts = np.cumsum(cnts)[:-1]
                    starts_l = np.split(s_pos, cuts)
                    ends_l = np.split(e_pos, cuts)
                    yield pd.DataFrame(
                        {
                            "docid": pdf["docid"].to_numpy(np.int64)[hit],
                            "starts": [a for a, h in zip(starts_l, hit) if h],
                            "ends": [a for a, h in zip(ends_l, hit) if h],
                            "norm_byte": pdf["norm_byte"].to_numpy(np.int64)[hit],
                            "doclen": pdf["doclen"].to_numpy(np.int64)[hit],
                        }
                    )
                    continue
                counts = np.bincount(base_rows[match], minlength=len(pdf)).astype(np.int64)
                hit = counts > 0
                if not hit.any():
                    continue
                # SpanScorer.cs SetFreqCurrentDoc: freq += sloppyFreq(
                # matchLength) per enumerated span
                f = _sloppy_freq(
                    base_rows[match], mlen[match], len(pdf), hit, scorer.exact
                )
                yield _score_hits(scorer, pdf, hit, f)

        return joined.mapInPandas(
            span_score, schema=_SPANS_SCHEMA if emit_spans else _EMPTY_SCHEMA
        )

    def _score_span_first(self, q: SpanFirstQuery, stats: dict[str, TermStat]) -> DataFrame:
        """SpanFirstQuery.cs:33-49: a unit term span at 0-based position p
        has end() == p+1 and matches when p+1 <= end (token among the first
        ``end`` positions); tf is the count of qualifying positions — one
        vectorized ``position < end`` mask + bincount. ``field`` seeks the
        namespaced postings and scores with that field's norms/avgdl."""
        fld = getattr(q, "field", "text")
        key = _skey(fld, q.term)
        if key not in stats:
            return self._empty()
        if not self.has_positions:
            raise ValueError(
                "span queries need an index built with index_positions=True"
            )
        blocks = self.postings.filter(F.col("term") == key)
        joined = self._decode_positions(blocks).select(
            "docid", "positions", "norm_byte", "doclen"
        )
        scorer = _BM25Scorer(self, fld, [stats[key]], q.boost)
        end = int(q.end)

        def first_score(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                keys, rows = _flat_keys(pdf["positions"])
                mask = keys - rows * _ROW_KEY < end
                freqs = np.bincount(rows[mask], minlength=len(pdf)).astype(np.int64)
                hit = freqs > 0
                if hit.any():
                    # every unit term span has matchLength = End - Start = 1,
                    # so SpanScorer's sloppyFreq contributes 1/(1+1) per
                    # match (exact halves: no float drift)
                    yield _score_hits(scorer, pdf, hit, freqs[hit] * 0.5)

        return joined.mapInPandas(first_score, schema=_EMPTY_SCHEMA)

    def _score_span_not(self, q: SpanNotQuery, stats: dict[str, TermStat]) -> DataFrame:
        """SpanNotQuery.cs:38-61: include-term positions with no exclude
        occurrence in [p-pre, p+post]. Plan: include positional postings
        LEFT-joined to the exclude term's (docs without the exclude keep
        every position), then one flat-key kernel — per include position a
        single lo/hi searchsorted pair decides survival."""
        fld = getattr(q, "field", "text")
        ikey, ekey = _skey(fld, q.include), _skey(fld, q.exclude)
        if ikey not in stats:
            return self._empty()
        if not self.has_positions:
            raise ValueError(
                "span queries need an index built with index_positions=True"
            )
        inc = self._decode_positions(
            self.postings.filter(F.col("term") == ikey)
        ).select("docid", F.col("positions").alias("pos_inc"), "norm_byte", "doclen")
        if ekey in stats:
            exc = self._decode_positions(
                self.postings.filter(F.col("term") == ekey), need_norms=False
            ).select("docid", F.col("positions").alias("pos_exc"))
            joined = inc.join(exc, "docid", "left_outer")
        else:
            joined = inc.withColumn("pos_exc", F.lit(None).cast("array<long>"))
        scorer = _BM25Scorer(self, fld, [stats[ikey]], q.boost)
        pre, post = np.int64(q.pre), np.int64(q.post)

        def not_score(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                inc_keys, inc_rows = _flat_keys(pdf["pos_inc"])
                exc_keys, _ = _flat_keys(pdf["pos_exc"])
                lo = np.searchsorted(exc_keys, inc_keys - pre, "left")
                hi = np.searchsorted(exc_keys, inc_keys + post, "right")
                survive = hi == lo  # no exclude span overlaps the window
                freqs = np.bincount(inc_rows[survive], minlength=len(pdf)).astype(np.int64)
                hit = freqs > 0
                if hit.any():
                    # surviving unit spans contribute sloppyFreq(1) = 1/2
                    # each (SpanScorer.cs SetFreqCurrentDoc; exact halves)
                    yield _score_hits(scorer, pdf, hit, freqs[hit] * 0.5)

        return joined.mapInPandas(not_score, schema=_EMPTY_SCHEMA)

    def _docid_bounds_for_filter(self, f: Query) -> tuple | None:
        """For a NumericRangeQuery on the index's sort field, the docid
        interval [min, max] of the filter's match set — ONE tiny agg over
        the docmap with the range pushed into its Parquet scan. None when
        the index is unsorted / the filter doesn't target the sort field;
        (None, None) when the range matches nothing."""
        if isinstance(f, CachingWrapperFilter):
            f = f.filter  # bounds come from the wrapped filter's shape
        if (
            self.sort_field is None
            or not isinstance(f, NumericRangeQuery)
            or f.column != self.sort_field
        ):
            return None
        row = (
            self._filter_docids(f, {})
            .agg(F.min("docid").alias("lo"), F.max("docid").alias("hi"))
            .collect()[0]
        )
        if row["lo"] is None:
            return (None, None)
        return (int(row["lo"]), int(row["hi"]))

    def _filter_docids(self, q: Query, stats: dict[str, TermStat]) -> DataFrame:
        """A filter's match set as a docid-only DataFrame (no scores) —
        the Filter/DocIdSet side of FilteredQuery.cs:41. NumericRangeQuery
        compiles to a docmap Parquet predicate (pushdown does the skipping
        the reference's trie terms did); anything else reuses its scorer
        and drops the score."""
        if isinstance(q, CachingWrapperFilter):
            key = repr(q.filter)
            cached = self._filter_cache.get(key)
            if cached is None:
                # persist (not cache): memory-and-disk, so a huge DocIdSet
                # spills instead of evicting executor memory — the
                # distributed analogue of the reference's per-segment
                # FixedBitSet (CachingWrapperFilter.cs:152 DocIdSet cache).
                # Build against the UNPRUNED postings: if this first
                # materialization happens while self.postings is swapped to
                # a block-pruned view, the cached set would be silently
                # incomplete for every later (wider) reuse.
                saved = self.postings
                self.postings = self._base_postings
                try:
                    cached = self._filter_docids(q.filter, stats).persist()
                finally:
                    self.postings = saved
                self._filter_cache[key] = cached
            return cached
        if isinstance(q, TermsFilter):
            # union of the (field, term) posting docid sets via the
            # existing boolean machinery (scores computed then dropped —
            # keyword tf==1 scoring is a single idf constant per term)
            union = BooleanQuery.build(
                should=[TermQuery(t, field=f) for f, t in q.terms]
            )
            return self._score(rewrite(union), stats).select("docid")
        if isinstance(q, DuplicateFilter):
            from pyspark.sql import Window

            order = F.asc("docid") if q.keep == "first" else F.desc("docid")
            w = Window.partitionBy(q.column).orderBy(order)
            return (
                self.docmap.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select("docid")
            )
        if isinstance(q, NumericRangeQuery):
            c = F.col(q.column)
            cond = F.lit(True)
            if q.lower is not None:
                cond = cond & (c >= q.lower if q.include_lower else c > q.lower)
            if q.upper is not None:
                cond = cond & (c <= q.upper if q.include_upper else c < q.upper)
            return self.docmap.filter(cond).select("docid")
        return self._score(q, stats).select("docid")

    def _score_multiterm_scored(self, q: Query) -> DataFrame:
        """SCORING_BOOLEAN_QUERY_REWRITE / TopTermsRewrite
        (MultiTermQuery.cs:65, TopTermsRewrite.cs): the expanded terms are
        scored as a BM25 disjunction instead of constant-score. Stays
        distributed end-to-end: expanded terms (with their df) broadcast-
        join INTO the posting blocks, the decode kernel computes idf per
        block row from the joined df column, and a hash agg sums per doc —
        no driver-side term collection. ``top_terms_scoring`` caps the
        expansion at q.max_expansions terms first (fuzzy: fewest edits
        first — the reference's closest-boost-first; ties by df desc then
        term asc), which bounds the scan for huge expansions."""
        terms = self._expand_terms(q)
        ts = self.termstats.join(F.broadcast(terms), "term", "left_semi").select("term", "df")
        if getattr(q, "rewrite_method", "") == "top_terms_scoring":
            n = int(getattr(q, "max_expansions", 50))
            if isinstance(q, FuzzyQuery):
                key = _skey(q.field, q.term) if q.field != "text" else q.term
                order = [
                    F.levenshtein(F.col("term"), F.lit(key)).asc(),
                    F.desc("df"),
                    F.asc("term"),
                ]
            else:
                order = [F.desc("df"), F.asc("term")]
            ts = ts.orderBy(*order).limit(n)
        blocks = self.postings.join(F.broadcast(ts), "term")
        # an extra ANALYZED field scores with the FIELD'S norms/avgdl (its
        # namespaced postings carry the field's doclens), a keyword field
        # boost*idf per match; a doc matching several expanded terms sums
        scorer = _BM25Scorer(
            self, getattr(q, "field", "text"), None,
            float(getattr(q, "boost", 1.0)), fold_boost=True,
        )
        scored = self._decode_score(blocks, scorer)
        return scored.groupBy("docid").agg(F.sum("score").alias("score"))

    # ---------------- boolean composition -------------------------------- #
    def _score(self, q: Query, stats: dict[str, TermStat]) -> DataFrame:
        if isinstance(q, TermQuery):
            return self._score_term(q, stats)
        if isinstance(q, PhraseQuery):
            return self._score_phrase(q, stats)
        if isinstance(q, MatchAllDocsQuery):
            return self.docmap.select(
                "docid",
                F.lit(float(np.float32(q.boost)) * self.const_score)
                .cast("double").alias("score"),
            )
        if isinstance(q, ConstantScoreQuery):
            inner = self._score(q.query, stats)
            return inner.select(
                "docid",
                F.lit(float(np.float32(q.boost)) * self.const_score)
                .cast("double").alias("score"),
            )
        if isinstance(q, CachingWrapperFilter):
            # as a top-level query a cached filter is constant-score
            # (the reference wraps it in ConstantScoreQuery for this use)
            return self._filter_docids(q, stats).select(
                "docid", F.lit(self.const_score).cast("double").alias("score")
            )
        if isinstance(q, MultiPhraseQuery):
            return self._score_multiphrase(q, stats)
        if isinstance(q, SpanNearQuery):
            return self._score_span_near(q, stats)
        if isinstance(q, SpanOrQuery):
            return self._score(rewrite(q), stats)
        if isinstance(q, SpanFirstQuery):
            return self._score_span_first(q, stats)
        if isinstance(q, SpanNotQuery):
            return self._score_span_not(q, stats)
        if isinstance(q, FilteredQuery):
            bounds = self._docid_bounds_for_filter(q.filter)
            if bounds is not None:
                lo, hi = bounds
                if lo is None:  # empty filter range: nothing can match
                    return self._empty()
                # sorted index: the range's matches occupy ONE contiguous
                # docid interval, so posting BLOCKS outside [lo, hi] are
                # pruned by their skip metadata BEFORE scoring — the
                # first/last_docid predicates push into the Parquet footer
                # scan (the SortingMergePolicy early-termination payoff).
                # The exact semi-join below still applies, so pruning is
                # purely an optimization.
                saved = self.postings
                self.postings = saved.filter(
                    (F.col("last_docid") >= int(lo))
                    & (F.col("first_docid") <= int(hi))
                )
                try:
                    scored = self._score(q.query, stats)
                finally:
                    self.postings = saved
            else:
                scored = self._score(q.query, stats)
            fdocs = self._filter_docids(q.filter, stats)
            res = scored.join(fdocs, "docid", "left_semi")
            if q.boost != 1.0:
                res = res.withColumn("score", F.col("score") * F.lit(float(q.boost)))
            return res
        if isinstance(q, NumericRangeQuery):
            return self._filter_docids(q, stats).withColumn(
                "score",
                F.lit(float(np.float32(q.boost)) * self.const_score).cast("double"),
            )
        if isinstance(q, (PrefixQuery, WildcardQuery, RegexpQuery, FuzzyQuery, TermRangeQuery)):
            if getattr(q, "rewrite_method", "constant_score") != "constant_score":
                return self._score_multiterm_scored(q)
            return self._score_multiterm(q)
        if isinstance(q, DisjunctionMaxQuery):
            scored = [
                self._score(d, stats).withColumn("clause", F.lit(i))
                for i, d in enumerate(q.disjuncts)
            ]
            u = reduce(lambda a, b: a.unionAll(b), scored)
            tie = float(q.tie_breaker)
            return u.groupBy("docid").agg(
                (F.max("score") + F.lit(tie) * (F.sum("score") - F.max("score"))).alias("score")
            )
        if isinstance(q, BooleanQuery):
            return self._score_boolean(q, stats)
        raise TypeError(f"unsupported query: {q!r}")

    def _score_boolean(self, q: BooleanQuery, stats: dict[str, TermStat]) -> DataFrame:
        must, should, must_not = q.parts()
        msm = q.minimum_should_match

        must_df = None
        if must:
            # rarest-first join order = the cost-sorted leapfrog
            # (ConjunctionScorer.cs:40-60): we KNOW each term's exact df, so
            # join the smallest match set first; non-term clauses (unknown
            # cost) go last. A clause with df below the broadcast threshold
            # gets an explicit broadcast hint — the n-docid probe side of a
            # conjunction is the classic broadcast-join case.
            def cost(q: Query) -> int:
                if isinstance(q, TermQuery):
                    st = stats.get(_skey(q.field, q.term))
                    return st.df if st else 0
                return 1 << 60

            order = sorted(range(len(must)), key=lambda i: cost(must[i]))
            dfs = []
            for i in order:
                d = self._score(must[i], stats).withColumnRenamed("score", f"ms_{i}")
                if cost(must[i]) <= 1_000_000:
                    d = F.broadcast(d)
                dfs.append(d)
            must_df = reduce(lambda a, b: a.join(b, "docid", "inner"), dfs)
            must_sum = reduce(
                lambda a, b: a + b, [F.col(f"ms_{i}") for i in range(len(must))]
            )
            must_df = must_df.select("docid", must_sum.alias("must_score"))

        should_df = None
        if should:
            scored = [
                self._score(s, stats).withColumn("clause", F.lit(i))
                for i, s in enumerate(should)
            ]
            u = reduce(lambda a, b: a.unionAll(b), scored)
            should_df = u.groupBy("docid").agg(
                F.sum("score").alias("should_score"),
                F.count_distinct("clause").alias("should_cnt"),
            )
            if msm > 0:
                should_df = should_df.filter(F.col("should_cnt") >= msm)

        if must_df is not None and should_df is not None:
            # ReqOptSumScorer: required drives, optional adds when aligned;
            # with msm>0 the optional side becomes required-count-filtered
            join_type = "inner" if msm > 0 else "left_outer"
            res = must_df.join(should_df, "docid", join_type).select(
                "docid",
                (F.col("must_score") + F.coalesce(F.col("should_score"), F.lit(0.0))).alias(
                    "score"
                ),
            )
        elif must_df is not None:
            res = must_df.withColumnRenamed("must_score", "score")
        elif should_df is not None:
            res = should_df.select("docid", F.col("should_score").alias("score"))
        else:
            return self._empty()

        for mn in must_not:
            excl = self._score(mn, stats).select("docid")
            res = res.join(excl, "docid", "left_anti")  # ReqExclScorer
        if q.boost != 1.0:
            # group boost: "(a OR b)^2" — scales the combined clause score
            res = res.withColumn(
                "score", F.col("score") * F.lit(float(np.float32(q.boost)))
            )
        return res

    # ---------------- block-max WAND pruning ------------------------------ #
    def _wand_shape(self, q: Query) -> list[str] | None:
        """Queries the block-max pruned path supports: a single TermQuery or
        a pure-SHOULD BooleanQuery with minimum_should_match <= 1 over
        TermQuery clauses (the classic WAND shape). Returns the term list,
        or None if the shape (or scoring mode) doesn't qualify."""
        if self.scoring != "lucene":
            return None  # block_max_ub bounds the quantized-norm score only
        if self.tombstones is not None:
            # a deleted doc in the theta pre-pass would set an unachievable
            # threshold (over-pruning) — fall back until compaction applies
            # the tombstones physically
            return None
        if self.is_composite:
            # stored block_max_ub was computed with each generation's OWN
            # avgdl; under the composite avgdl it is no longer a valid upper
            # bound — fall back to the unpruned path (a compaction job
            # restores WAND eligibility)
            return None
        if isinstance(q, TermQuery) and q.boost == 1.0 and q.field == "text":
            return [q.term]
        if (
            isinstance(q, BooleanQuery)
            and q.minimum_should_match <= 1
            and q.boost == 1.0  # group boost: WAND sums raw term scores
        ):
            must, should, must_not = q.parts()
            if must or must_not:
                return None
            if all(
                isinstance(s, TermQuery) and s.boost == 1.0 and s.field == "text"
                for s in should
            ):
                return [s.term for s in should]
        return None

    def _wand_theta(self, terms: list[str], stats: dict[str, TermStat], k: int):
        """Cheap pre-pass: fully score only the top-``ceil(k/block)`` blocks
        of each term (ranked by block_max_ub — the best-impact blocks) and
        take the k-th best partial score. Partial sums are LOWER bounds of
        true scores, so theta is achievable and pruning against it is safe.
        Everything collected is O(k) rows."""
        m = max(1, -(-k // BLOCK_SIZE))
        scored = []
        for t in terms:
            st = stats.get(t)
            if st is None:
                continue
            blocks = (
                self.postings.filter(F.col("term") == t)
                .orderBy(F.desc("block_max_ub"))
                .limit(m)
            )
            scored.append(self._decode_score(blocks, _BM25Scorer(self, "text", [st])))
        if not scored:
            return None
        u = reduce(lambda a, b: a.unionAll(b), scored)
        agg = u.groupBy("docid").agg(F.sum("score").alias("score"))
        rows = agg.orderBy(F.desc("score"), F.asc("docid")).limit(k).collect()
        if len(rows) < k:
            return None  # fewer than k candidates — pruning could drop hits
        return np.float32(rows[-1]["score"])

    def _search_wand(self, terms: list[str], stats: dict[str, TermStat], k: int) -> DataFrame:
        """Block-max WAND as a set operation (SURVEY.md §4.2 — absent in the
        reference, required by the north rule): drop every posting block
        whose upper bound ``ub_t(block) + Σ_{s≠t} global_max_s`` cannot
        reach theta. A doc whose term-t block is pruned can still surface
        via another term, but its (understated) score is then provably
        < theta <= k-th true score, so the top-k is EXACTLY the unpruned
        result (asserted by tests/test_wand.py). Bounds are padded a ulp so
        float rounding can only under-prune, never over-prune."""
        theta = self._wand_theta(terms, stats, k)
        live = [t for t in terms if t in stats]
        # per-term global max score: idf*(k1+1) * max over index of
        # tf/(tf+cache[norm]) — float64 with upward padding
        gmax = {
            t: float(stats[t].idf) * (float(self.k1) + 1.0) * float(stats[t].max_ub)
            for t in live
        }
        scored = []
        for t in live:
            st = stats[t]
            blocks = self.postings.filter(F.col("term") == t)
            if theta is not None:
                w_t = float(st.idf) * (float(self.k1) + 1.0)
                rest = sum(gmax[s] for s in live if s != t)
                # keep block iff w_t*ub + rest >= theta (with safety margin)
                bound = F.col("block_max_ub").cast("double") * F.lit(w_t) + F.lit(rest)
                blocks = blocks.filter(bound >= F.lit(float(theta) * (1.0 - 1e-6)))
            scored.append(self._decode_score(blocks, _BM25Scorer(self, "text", [st])))
        if not scored:
            return self._empty().select(
                "docid", F.col("score").cast("float").alias("score")
            )
        u = reduce(lambda a, b: a.unionAll(b), scored)
        agg = u.groupBy("docid").agg(F.sum("score").alias("score"))
        return agg.select("docid", F.col("score").cast("float").alias("score"))

    def _live(self, df: DataFrame) -> DataFrame:
        """Anti-join tombstoned docs out of a docid-keyed frame (liveDocs)."""
        if self.tombstones is None:
            return df
        return df.join(F.broadcast(self.tombstones), "docid", "left_anti")

    # ---------------- driver seek ----------------------------------------- #
    def _seeks(self, q: Query, stats: dict[str, TermStat]) -> bool:
        """The executor rule: the driver seek answers a seekable (rewritten)
        query whose terms hold at most ``_SEEK_MAX_ENTRIES`` posting
        entries; every other query runs on Spark."""
        if not _seekable(q):
            return False
        terms: set[str] = set()
        _collect_terms(q, terms)
        return sum(stats[t].df for t in terms if t in stats) <= _SEEK_MAX_ENTRIES

    def _seek_blocks(self, key: str, cols: list[str], docid: int | None = None) -> list[pd.DataFrame]:
        """The posting blocks of one term key in every generation, read
        with pyarrow, as one pandas batch for a kernel; ``docid`` keeps
        only the blocks whose docid range holds it."""
        cond = pc.field("term") == key
        if docid is not None:
            cond = cond & (pc.field("first_docid") <= docid) & (pc.field("last_docid") >= docid)
        cols = ["first_docid", "docid_deltas", *cols]
        tabs = [st.read_local("postings", POSTINGS_SCHEMA, cols, cond) for st in self._stores]
        return [pa.concat_tables(tabs).to_pandas()]

    def _seek(self, q: Query, stats: dict[str, TermStat]) -> pd.Series:
        """The scored matches of a seekable query, on the driver: float64
        scores indexed by docid, the values :meth:`_score` yields before
        liveDocs and the final cast. Terms and phrases run the executors'
        kernels on :meth:`_seek_blocks`; a BooleanQuery composes its
        clauses as :meth:`_score_boolean` does — must clauses intersect and
        sum in clause order, should clauses sum per docid and count toward
        minimum_should_match, must_not clauses drop their docids, and the
        group boost multiplies the double sum."""
        if isinstance(q, TermQuery):
            key = _skey(q.field, q.term)
            st = stats.get(key)
            if st is None:
                return _hits([])
            scorer = _BM25Scorer(self, q.field, [st], q.boost)
            norm = "doclens" if scorer.exact else "norm_bytes"
            return _hits(_term_kernel(self._seek_blocks(key, ["freqs", norm]), scorer, self.maxdoc))
        if isinstance(q, PhraseQuery):
            plan = self._phrase_plan(q, stats)
            if plan is None:
                return _hits([])
            keys, scorer = plan
            slots = []
            for i, key in enumerate(keys):
                norms = ["norm_bytes", "doclens"] if i == 0 else []
                blocks = self._seek_blocks(key, ["freqs", *norms, "positions"])
                dec = pd.concat(list(_position_kernel(blocks, i == 0)))
                slots.append(dec.rename(columns={"positions": f"pos_{i}"}))
            joined = reduce(lambda a, b: a.merge(b, on="docid"), slots)
            return _hits(_phrase_kernel([joined], len(keys), q.slop, scorer))
        must, should, must_not = q.parts()
        msm = q.minimum_should_match
        res = None
        if must:
            # aligned adds keep the docids every clause holds
            res = reduce(lambda a, b: a + b, [self._seek(m, stats) for m in must]).dropna()
        if should:
            per_doc = pd.concat([self._seek(c, stats) for c in should]).groupby(level=0)
            should_score = per_doc.sum()
            if msm > 0:
                should_score = should_score[per_doc.size() >= msm]
            if res is None:
                res = should_score
            elif msm > 0:
                res = (res + should_score).dropna()
            else:
                res = res + should_score.reindex(res.index, fill_value=0.0)
        if res is None:
            return _hits([])
        for mn in must_not:
            res = res[~res.index.isin(self._seek(mn, stats).index)]
        if q.boost != 1.0:
            res = res * float(np.float32(q.boost))
        return res

    @cached_property
    def _dead(self) -> np.ndarray:
        """The tombstoned docids, sorted: the driver seek's liveDocs, read
        on first use from the delete ops listed at open."""
        from ..index.deletes import tombstone_docids

        return tombstone_docids(self._tombstone_ops)

    def _seek_topk(self, q: Query, stats: dict[str, TermStat], k: int) -> pd.DataFrame:
        """(docid, score, rank) of the top-k of a seekable query: the live
        matches of :meth:`_seek`, cast once to float32 (or the exact_int
        long), cut with the HitQueue tie-break (score desc, docid asc)."""
        hits = self._seek(q, stats)
        docid = hits.index.to_numpy(np.int64)
        live = ~np.isin(docid, self._dead)
        cast = np.int64 if self.scoring == "exact_int" else np.float32
        docid, score = docid[live], hits.to_numpy()[live].astype(cast)
        top = np.lexsort((docid, -score))[:k]
        return pd.DataFrame({
            "docid": docid[top], "score": score[top],
            "rank": np.arange(1, len(top) + 1, dtype=np.int32),
        })

    def _local_df(self, hits: pd.DataFrame, batch: bool = False) -> DataFrame:
        """Driver-side hits as a DataFrame over a local relation, with the
        column types of the Spark path's result: collecting it runs no
        Spark job. ``batch`` adds the leading ``query_id`` column."""
        ddl = f"docid long, score {'long' if self.scoring == 'exact_int' else 'float'}, rank int"
        if batch:
            ddl = "query_id string, " + ddl
        schema = arrow_schema(ddl)
        table = pa.Table.from_pandas(hits[schema.names], schema, preserve_index=False)
        return self.spark.createDataFrame(table, ddl)

    # ---------------- public API ----------------------------------------- #
    def score_df(self, q: Query) -> DataFrame:
        """Full scored match set as (docid, score float32-in-float column)."""
        q = rewrite(q)
        return self._score_df(q, self._query_stats(q))

    def _query_stats(self, q: Query) -> dict[str, TermStat]:
        """Term stats of every term a rewritten query reads."""
        terms: set[str] = set()
        _collect_terms(q, terms)
        return self.term_stats(sorted(terms))

    def _score_df(self, q: Query, stats: dict[str, TermStat]) -> DataFrame:
        scored = self._live(self._score(q, stats))
        if self.scoring == "exact_int":
            # integer micro-units: sums of exact small ints held in doubles
            # are exact, so the final long cast is lossless
            return scored.select("docid", F.col("score").cast("long").alias("score"))
        return scored.select("docid", F.col("score").cast("float").alias("score"))

    def similarity_score_df(
        self, terms: list[str], similarity: str = "classic",
        mu: float = 2000.0, jm_lambda: float = 0.7,
    ) -> DataFrame:
        """Pluggable-similarity disjunction scorer over the SAME postings
        the BM25 path reads — the Similarity extension point
        (Search/Similarities/Similarity.cs:55) with the published formulas
        of :data:`_SIMILARITIES`: ``mu`` (default 2000, as the reference)
        for ``"lm_dirichlet"``, ``jm_lambda`` (default 0.7, the reference's
        long-query recommendation) for ``"lm_jelinek_mercer"``. Each term's postings
        run through :func:`_term_kernel` with a :class:`_MicroScorer`.

        Integer-exact contract (the exact_int convention): each per-term
        per-doc contribution floors to micro units BEFORE summation, so
        cross-engine comparison is integer arithmetic; classic's coord(q,d)
        = matched/|q| (BooleanWeight.Coord) is applied as ``(sum * matched)
        DIV |q|`` — a rational floor both engines compute identically.
        Classic omits queryNorm — it is constant per query, so ranks are
        unchanged (the reference itself calls it "not relevant to
        ranking", TFIDFSimilarity.cs queryNorm doc) — the documented
        divergence."""
        factory = _SIMILARITIES.get(similarity)
        if factory is None:
            raise ValueError(f"unknown similarity {similarity!r}")
        stats = self.term_stats(terms)
        parts = [
            self._decode_score(
                self.postings.filter(F.col("term") == t),
                _MicroScorer(factory(self, stats[t], mu, jm_lambda)),
            )
            for t in terms
            if t in stats
        ]
        if not parts:
            return self.spark.createDataFrame([], "docid long, score long")
        u = reduce(lambda a, b: a.unionAll(b), parts)
        agg = u.groupBy("docid").agg(
            F.sum("score").alias("ssum"), F.count(F.lit(1)).alias("matched")
        )
        score = F.col("ssum")
        if similarity == "classic":
            score = F.floor(score * F.col("matched") / F.lit(len(terms)))
        return self._live(agg.select("docid", score.cast("long").alias("score")))

    def auto_stop_terms(self, max_doc_freq_frac: float = 0.4) -> set[str]:
        """QueryAutoStopWordAnalyzer analogue (Analysis/Query/
        QueryAutoStopWordAnalyzer.cs:48): terms whose document frequency
        exceeds ``max_doc_freq_frac * maxdoc`` become QUERY-TIME
        stopwords, derived from the index's own term statistics — one
        vocabulary-bounded termstats scan, which is exactly what the
        reference does at analyzer construction. Namespaced keyword /
        extra-field postings are excluded (only text-field terms stop).
        Callers drop these terms from parsed queries before scoring."""
        thr = float(max_doc_freq_frac) * float(self.maxdoc)
        rows = (
            self.termstats.filter(F.col("df") > thr)
            .filter(~F.col("term").contains(":"))
            .select("term")
            .collect()
        )
        return {r["term"] for r in rows}

    def search(self, q: Query, k: int = 10, wand: bool = False) -> DataFrame:
        """Top-k: (docid, score, rank). Tie-break score desc then docid asc
        (HitQueue.cs:77-87).

        Executor: a TermQuery, PhraseQuery, or BooleanQuery of those (any
        nesting, must/should/must_not, minimum_should_match, boosts) whose
        terms hold at most ``_SEEK_MAX_ENTRIES`` posting entries is
        answered on the driver — a pyarrow seek of those terms' posting
        blocks through the same decode/score kernels — and the result is
        a local DataFrame whose ``collect`` runs no Spark job. Every other
        query runs on Spark (distributed TakeOrderedAndProject). Both
        return identical rows and schema.

        ``wand=True`` is a pruning hint for the Spark path: block-max WAND
        for term/disjunction shapes in "lucene" scoring mode, skipping
        posting blocks that provably cannot reach the top-k threshold. A
        query the driver answers ignores it; the top-k is identical
        either way."""
        q = rewrite(q)
        stats = self._query_stats(q)
        if self._seeks(q, stats):
            return self._local_df(self._seek_topk(q, stats, k))
        if wand:
            terms = self._wand_shape(q)
            if terms is not None:
                return _topk_with_rank(self._search_wand(terms, stats, k), k)
        return _topk_with_rank(self._score_df(q, stats), k)

    def search_batch(self, queries: dict[str, Query], k: int = 10) -> DataFrame:
        """Top-k for many queries: (query_id, docid, score, rank), rank
        numbered within each query_id. Term stats for the whole batch
        resolve in one driver-side lookup. Each query takes the executor
        :meth:`search` would give it: the driver-answered ones concatenate
        into ONE local table (no Spark job), and only the queries that
        need Spark union onto it as their own branches, each cutting its
        top-k with TakeOrderedAndProject (no shuffle, exactly
        :meth:`search`'s physical shape). Per-query results are identical
        to :meth:`search` (same scoring paths, same HitQueue tie-break)."""
        rewritten = {qid: rewrite(q) for qid, q in queries.items()}
        all_terms: set[str] = set()
        for rq in rewritten.values():
            _collect_terms(rq, all_terms)
        stats = self.term_stats(sorted(all_terms))
        seek, parts = [], []
        for qid, rq in rewritten.items():
            if self._seeks(rq, stats):
                seek.append(self._seek_topk(rq, stats, k).assign(query_id=qid))
                continue
            parts.append(
                _topk_with_rank(self._score_df(rq, stats), k).select(
                    F.lit(qid).alias("query_id"), "docid", "score", "rank"
                )
            )
        if seek or not parts:
            cols = ["query_id", "docid", "score", "rank"]
            local = pd.concat(seek) if seek else pd.DataFrame(columns=cols)
            parts.insert(0, self._local_df(local, batch=True))
        return reduce(lambda a, b: a.unionAll(b), parts)

    def search_after(self, q: Query, after_score: float, after_docid: int, k: int = 10) -> DataFrame:
        """Pagination cursor (IndexSearcher.cs:236-254 SearchAfter)."""
        s = after_score if self.scoring == "exact_int" else np.float32(after_score)
        scored = self.score_df(q)
        nxt = scored.filter(
            (F.col("score") < float(s))
            | ((F.col("score") == float(s)) & (F.col("docid") > after_docid))
        )
        return nxt.orderBy(F.desc("score"), F.asc("docid")).limit(k)

    def count(self, q: Query) -> int:
        """TotalHitCountCollector.cs analogue."""
        return self.score_df(q).count()

    def join_scores(
        self,
        from_query: Query,
        keys: DataFrame,
        key_col: str,
        score_mode: str = "total",
        broadcast_threshold: int = 2_000_000,
    ) -> DataFrame:
        """Query-time score-carrying join — JoinUtil.CreateJoinQuery
        analogue (Lucene.Net.Join/JoinUtil.cs:41-86 with
        TermsIncludingScoreQuery.cs): score the "from" side, carry each
        hit's score across the join field, and aggregate per join value
        with the reference's ScoreMode (Total / Max / Min / Avg;
        JoinUtil's None mode is the n_from count column, always emitted).

        ``keys`` is a (docid, <key_col>) mapping — a doc-values column or
        an external mapping table. A query-sized from match set is
        BROADCAST into the mapping join, which is the faithful analogue of
        the reference's design (TermsIncludingScoreQuery materializes the
        entire from-side terms+scores structure in memory) — but GUARDED:
        the match set is bounded above by the sum of the query terms' dfs
        (one termstats lookup), and a from side estimated past
        ``broadcast_threshold`` rows — or any shape with a term-free
        clause in a disjunctive position (MatchAll, pure ranges, MTQ
        rewrites), whose match set the df sum does NOT bound; see
        :func:`_df_bounded` — falls back to a
        shuffle join instead of OOMing executors with the broadcast. The
        only other shuffle is the aggregation over DISTINCT join values."""
        aggs = {
            "total": F.sum("score"),
            "max": F.max("score"),
            "min": F.min("score"),
            "avg": F.avg("score"),
        }
        if score_mode not in aggs:
            raise ValueError(f"unknown ScoreMode {score_mode!r}")
        scored = self.score_df(from_query)
        rewritten = rewrite(from_query)
        terms: set[str] = set()
        _collect_terms(rewritten, terms)
        stats = self.term_stats(sorted(terms)) if terms else {}
        est = sum(st.df for st in stats.values())
        # the df-sum is an upper bound ONLY when every match path goes
        # through a collected term; a term-free clause in a disjunctive
        # position (MatchAll / pure range / MTQ expansion) voids the bound
        small = (
            bool(terms)
            and est <= int(broadcast_threshold)
            and _df_bounded(rewritten)
        )
        joined = keys.select(F.col("docid"), F.col(key_col)).join(
            F.broadcast(scored) if small else scored, "docid", "inner"
        )
        return joined.groupBy(key_col).agg(
            aggs[score_mode].alias("score"),
            F.count(F.lit(1)).alias("n_from"),
        )

    def rescore(self, topk: DataFrame, q: Query, weight: float = 1.0) -> DataFrame:
        """QueryRescorer (QueryRescorer.cs): re-rank an existing (tiny)
        top-k with a second query; combined score = first + weight*second.
        The top-k side is broadcast — the second query only ever scores the
        k candidate docids."""
        second = self.score_df(q).withColumnRenamed("score", "score2")
        joined = F.broadcast(topk.select("docid", "score")).join(
            second, "docid", "left_outer"
        )
        combined = joined.select(
            "docid",
            (
                F.col("score") + F.lit(float(weight)) * F.coalesce(F.col("score2"), F.lit(0.0))
            ).alias("score"),
        )
        from pyspark.sql import Window

        return combined.orderBy(F.desc("score"), F.asc("docid")).withColumn(
            "rank", F.row_number().over(Window.orderBy(F.desc("score"), F.asc("docid")))
        )

    def search_sorted(self, q: Query, sort_cols: list, k: int = 10) -> DataFrame:
        """TopFieldCollector / Sort (TopFieldCollector.cs:37, Sort.cs): top-k
        by arbitrary docmap columns instead of relevance; ``sort_cols`` are
        Spark Column expressions (e.g. [F.asc("url")])."""
        matched = self.score_df(q).select("docid", "score")
        enriched = matched.join(self.docmap, "docid")
        return enriched.orderBy(*sort_cols).limit(k)

    def search_by_index_sort(
        self,
        q: Query,
        k: int = 10,
        descending: bool = False,
        after_docid: int | None = None,
    ) -> DataFrame:
        """EarlyTerminatingSortingCollector analogue
        (Lucene.Net.Misc/Index/Sorter/EarlyTerminatingSortingCollector.cs:49):
        top-k ordered by the INDEX SORT FIELD, collecting only a docid
        PREFIX (ascending) / SUFFIX (descending) of the sorted index
        instead of the full match set — docid order == sort-key order, so
        the first k matches in docid order ARE the global top-k.

        Iterative-deepening probe: score the query with posting blocks
        pruned to the probe's [lo, hi] docid interval (first/last_docid
        skip metadata -> Parquet footer pruning, so a probe reads a tiny
        slice of a 10^12-doc index), count matches, and widen 8x until >= k
        or the whole index is covered. A match-rich query (the common
        sorted-browse shape: "newest pages containing <term>") terminates
        on the first probe having read ~fixed thousands of docids
        regardless of corpus size. Worst case (selective query) is
        O(log n) probes and degrades to the full scan's cost.

        Exactness at the probe boundary: ascending needs no care — a
        boundary tie group's in-probe members have the SMALLEST docids of
        the group, and the docid-asc tie-break prefers exactly those.
        Descending is the mirror EXCEPT the tie-break still prefers small
        docids, which sit OUTSIDE the suffix probe — so only matches whose
        sort key is STRICTLY past the boundary value count toward k, and
        ties at the boundary force a widen. Result-identical to the full
        search_sorted plan (tests/test_index_sort.py).

        ``after_docid`` (ascending only) is SearchAfter over the index
        sort (IndexSearcher.SearchAfter with a Sort — IndexSearcher.cs:467):
        because ascending order IS docid order, the cursor docid fully
        identifies the resume position, and page N+1 probes the interval
        starting at after_docid + 1 — deep pagination costs the same tiny
        probe as page one, not a re-scan of N pages.

        Returns (docid, score, <sort_field>) ordered by
        (sort_field asc|desc, docid asc), limit k."""
        if self.sort_field is None:
            raise ValueError("search_by_index_sort requires a sort_field index")
        if after_docid is not None and descending:
            # descending order is not monotone in docid inside a tie group,
            # so a bare docid cursor cannot encode the resume position
            raise ValueError("after_docid pagination is ascending-only")
        field = self.sort_field
        if not hasattr(self, "_docid_bound"):
            self._docid_bound = int(
                self.docmap.agg(F.max("docid")).collect()[0][0] or 0
            ) + 1
        n = self._docid_bound
        order = [
            F.desc(field) if descending else F.asc(field),
            F.asc("docid"),
        ]
        base = 0 if after_docid is None else after_docid + 1
        p = max(4096, 64 * k)
        while True:
            lo, hi = (
                (max(0, n - p), n - 1)
                if descending
                else (base, min(base + p, n) - 1)
            )
            pruned = self.postings.filter(
                (F.col("last_docid") >= lo) & (F.col("first_docid") <= hi)
            )
            saved = self.postings
            self.postings = pruned
            try:
                m = self.score_df(q).select("docid", "score")
            finally:
                self.postings = saved
            m = m.filter((F.col("docid") >= lo) & (F.col("docid") <= hi))
            dm = self.docmap.filter(
                (F.col("docid") >= lo) & (F.col("docid") <= hi)
            ).select("docid", field)
            enriched = m.join(dm, "docid")
            # "covers all" = the probe reaches the end of the pageable
            # interval: [base, n) ascending, [0, n) descending
            covers_all = lo == (0 if descending else base) and hi >= n - 1
            if descending and not covers_all:
                # boundary value: the sort key at the probe's lowest docid
                # (whether or not it matches) — ties with it may extend
                # below the probe and the docid-asc tie-break would pick
                # those, so they don't count yet
                # (after a delete-compaction docid lo itself may be gone —
                # the first PRESENT docid's key is a safe stand-in: docs
                # below the probe are <= it in sort order)
                brow = dm.orderBy(F.asc("docid")).limit(1).collect()
                if brow:
                    enriched = enriched.filter(F.col(field) > brow[0][field])
            if covers_all or enriched.count() >= k:
                return enriched.orderBy(*order).limit(k)
            p *= 8

    def group_search(
        self,
        q: Query,
        group_expr,
        n_groups: int = 10,
        docs_per_group: int = 3,
    ) -> DataFrame:
        """Two-pass grouped search (GroupingSearch.cs:38 driving
        TermFirstPassGroupingCollector / AbstractSecondPassGroupingCollector
        — Grouping/GroupingSearch.cs, Grouping/Term/*.cs): top ``n_groups``
        groups ranked by their best document's relevance (ties by group
        value asc), then the top ``docs_per_group`` docs within each
        selected group (score desc, docid asc).

        ``group_expr`` is a docmap column name or a Spark Column over
        docmap columns (e.g. an hour bucket of a doc-values timestamp).

        Physical plan: ONE shuffle — the match set joins the docmap for
        the group value, a single window partitioned by group computes
        within-group ranks, and the reference's two passes collapse into
        the head rows (doc_rank == 1) of that same window; the selected
        group list (<= n_groups rows) then BROADCASTS back onto the ranked
        rows, so the "second pass" re-scans nothing. Returns (group,
        group_rank, docid, score, doc_rank)."""
        from pyspark.sql import Window

        gcol = F.col(group_expr) if isinstance(group_expr, str) else group_expr
        scored = self.score_df(q).select("docid", "score")
        grouped = scored.join(
            self.docmap.select("docid", gcol.alias("group")), "docid"
        )
        wg = Window.partitionBy("group").orderBy(F.desc("score"), F.asc("docid"))
        ranked = grouped.withColumn("doc_rank", F.row_number().over(wg)).filter(
            F.col("doc_rank") <= docs_per_group
        )
        heads = (
            ranked.filter(F.col("doc_rank") == 1)
            .select("group", F.col("score").alias("top_score"))
            .orderBy(F.desc("top_score"), F.asc("group"))
            .limit(n_groups)
        )
        wgr = Window.orderBy(F.desc("top_score"), F.asc("group"))
        top_groups = heads.withColumn("group_rank", F.row_number().over(wgr))
        return ranked.join(
            F.broadcast(top_groups.select("group", "group_rank")), "group"
        ).select("group", "group_rank", "docid", "score", "doc_rank")

    def group_count(self, q: Query, group_expr) -> int:
        """AllGroupsCollector (Grouping/AbstractAllGroupsCollector.cs:30,
        the TopGroups.TotalGroupCount side of GroupingSearch): the number
        of DISTINCT group values in the match set — one partial-agg
        count-distinct over (match ⋈ docmap), no row collection."""
        gcol = F.col(group_expr) if isinstance(group_expr, str) else group_expr
        row = (
            self.score_df(q).select("docid")
            .join(self.docmap.select("docid", gcol.alias("group")), "docid")
            .agg(F.countDistinct("group").alias("n"))
            .collect()[0]
        )
        return int(row["n"])

    def custom_score(self, q: Query, score_expr, k: int = 10) -> DataFrame:
        """CustomScoreQuery / FunctionQuery analogue
        (Lucene.Net.Queries/CustomScoreQuery.cs:42 wrapping a relevance
        query with a ValueSource modifier; Function/FunctionQuery.cs +
        Function/DocValues reading per-doc values): final score =
        ``score_expr``, an arbitrary Spark Column over ``score`` (the
        relevance score) and any docmap / doc-values columns (url, doclen,
        configured docvalue_fields such as a crawl timestamp). Where the
        reference compiles a ValueSource per segment, here the expression
        IS Catalyst — whole-stage-codegen'd against the match set joined to
        the docmap, then distributed top-k with the standard tie-break."""
        matched = self.score_df(q).select("docid", "score")
        enriched = matched.join(self.docmap, "docid")
        return _topk_with_rank(enriched.select("docid", score_expr.alias("score")), k)

    def boosting_query(
        self, match: Query, context: Query, boost: float = 0.5, k: int = 10
    ) -> DataFrame:
        """BoostingQuery (Lucene.Net.Queries/BoostingQuery.cs:41): score docs
        by ``match``; docs that ALSO match ``context`` get their score
        multiplied by ``boost`` (typically < 1 — demotion without
        exclusion). The context side is non-scoring: a docid-projected left
        join flags membership, so the context query costs only its own
        postings scan. In exact_int mode the demoted score is
        floor(score*boost) so oracle comparisons stay integer-exact."""
        m = self.score_df(match)
        ctx = self.score_df(context).select("docid", F.lit(True).alias("_ctx"))
        j = m.join(ctx, "docid", "left")
        adj = F.col("score") * F.lit(float(boost))
        adj = F.floor(adj).cast("long") if self.scoring == "exact_int" else adj.cast("float")
        scored = j.select(
            "docid",
            F.when(F.col("_ctx").isNotNull(), adj).otherwise(F.col("score")).alias("score"),
        )
        return _topk_with_rank(scored, k)

    def more_like_this(
        self, text: str, k: int = 10, max_query_terms: int = 25, min_doc_freq: int = 2
    ) -> DataFrame:
        """MoreLikeThis (Lucene.Net.Queries/Mlt/MoreLikeThis.cs): rank the
        input text's terms by tf*idf, keep the best ``max_query_terms``, run
        them as a SHOULD disjunction. The term selection happens driver-side
        on the (tiny) analyzed input; scoring is the normal distributed
        path."""
        from collections import Counter

        toks = self.analyzer.analyze_query(text)
        if not toks:
            return self._empty()
        tf = Counter(toks)
        stats = self.term_stats(list(tf))
        ranked = sorted(
            (
                (float(tf[t]) * float(st.idf), t)
                for t, st in stats.items()
                if st.df >= min_doc_freq
            ),
            reverse=True,
        )
        best = [t for _, t in ranked[:max_query_terms]]
        if not best:
            return self._empty()
        q = BooleanQuery.build(should=[TermQuery(t) for t in best])
        return self.search(q, k)

    def common_terms_query(
        self, terms: list[str], k: int = 10, max_term_frequency: float = 0.01
    ) -> DataFrame:
        """CommonTermsQuery (Lucene.Net.Queries/CommonTermsQuery.cs:69): the
        query-time face of stopword skew — terms with df/maxDoc above the
        cutoff are demoted to an optional clause that can only add score to
        docs already matched by the rare terms (ReqOptSumScorer shape), so a
        stopword never drives a full posting-list scan of the match set."""
        stats = self.term_stats(terms)
        cutoff = max_term_frequency * self.maxdoc
        low = [t for t in terms if t in stats and stats[t].df <= cutoff]
        high = [t for t in terms if t in stats and stats[t].df > cutoff]
        if not low:
            # all terms common -> plain disjunction (reference fallback)
            q = BooleanQuery.build(should=[TermQuery(t) for t in high])
            return self.search(q, k)
        q = BooleanQuery.build(
            must=[BooleanQuery.build(should=[TermQuery(t) for t in low])],
            should=[TermQuery(t) for t in high] if high else None,
        )
        return self.search(q, k)

    def explain(self, q: Query, docid: int) -> dict:
        """IndexSearcher.Explain analogue (IndexSearcher.cs Explain /
        BM25Similarity.Explain): the scoring breakdown for one (query, doc)
        as a nested Explanation dict {value, description, details}. A
        term's docid-targeted posting lookup is a driver-side pyarrow read
        whose term equality + first/last docid range both skip row groups
        by their footer statistics, so a term, or a boolean of terms,
        explains without a Spark job."""
        if int(docid) in self._dead:
            return {"value": 0.0, "description": f"doc {docid} is deleted", "details": []}
        q = rewrite(q)
        ex = self._explain(q, int(docid), self._query_stats(q))
        if self.scoring == "lucene":
            # score_df casts the clause sum to float32; so does the explanation
            ex["value"] = float(np.float32(ex["value"]))
        return ex

    def _explain(self, q: Query, docid: int, stats: dict[str, TermStat]) -> dict:
        if isinstance(q, TermQuery):
            key = _skey(q.field, q.term)
            st = stats.get(key)
            cols = ("freqs", "norm_bytes", "doclens")
            # the doc's posting entry, read on the driver from the blocks
            # whose docid range holds it
            entry = None
            blocks = [] if st is None else self._seek_blocks(key, list(cols), docid)
            for _, docids, _, flat in _decode_blocks(blocks, *cols):
                hit = np.flatnonzero(docids == docid)
                if len(hit):
                    entry = [int(flat[c][hit[0]]) for c in cols]
            if entry is None:
                return {"value": 0.0, "description": f"term({key!r}): no match", "details": []}
            tf, norm_byte, doclen = entry
            # the search path's own scorer, so value == score (boost included)
            sc = _BM25Scorer(self, q.field, [st], q.boost)
            value = float(sc([tf], [doclen if sc.exact else norm_byte])[0])
            idf = _idf(self.maxdoc, st.df) if sc.exact else float(st.idf)
            details = [
                {"value": idf, "description": f"idf(docFreq={st.df}, maxDocs={self.maxdoc})", "details": []},
            ]
            if sc.keyword:
                what = "norms omitted: score = boost*idf"
            else:
                what = f"BM25 k1={self.k1d} b={self.bd}"
                if sc.exact:
                    norm_detail = {"value": doclen, "description": "exact doclen", "details": []}
                    avgdl = sc.avgdl
                else:
                    norm_detail = {
                        "value": norm_byte,
                        "description": f"norm byte (quantized doclen {doclen})",
                        "details": [],
                    }
                    avgdl = float(self.avgdl if q.field == "text" else np.float32(sc.avgdl))
                details += [
                    {"value": tf, "description": "termFreq", "details": []},
                    norm_detail,
                    {"value": avgdl, "description": "avgFieldLength", "details": []},
                ]
            if q.boost != 1.0:
                details.append({"value": float(q.boost), "description": "boost", "details": []})
            return {
                "value": value,
                "description": f"weight(term={key!r} in {docid}) [{what}]",
                "details": details,
            }
        if isinstance(q, BooleanQuery):
            must, should, must_not = q.parts()
            for mn in must_not:
                ex = self._explain(mn, docid, stats)
                if ex["value"] > 0:
                    return {
                        "value": 0.0,
                        "description": "excluded by MUST_NOT clause",
                        "details": [ex],
                    }
            details = []
            total = 0.0
            matched_should = 0
            for m in must:
                ex = self._explain(m, docid, stats)
                if ex["value"] <= 0:
                    return {"value": 0.0, "description": "failure to match MUST clause",
                            "details": [ex]}
                details.append(ex)
                total += ex["value"]
            for s_q in should:
                ex = self._explain(s_q, docid, stats)
                if ex["value"] > 0:
                    matched_should += 1
                    details.append(ex)
                    total += ex["value"]
            if should and not must and matched_should == 0:
                return {"value": 0.0, "description": "no SHOULD clause matched", "details": details}
            if matched_should < q.minimum_should_match:
                return {
                    "value": 0.0,
                    "description": f"minimumShouldMatch {q.minimum_should_match} not met ({matched_should})",
                    "details": details,
                }
            if q.boost != 1.0:
                # group boost ("(a OR b)^2") — same float32 factor as
                # _score_boolean, so value == score holds for groups too
                return {
                    "value": total * float(np.float32(q.boost)),
                    "description": f"boost {q.boost} * sum of:",
                    "details": details,
                }
            return {"value": total, "description": "sum of:", "details": details}
        # generic fallback: evaluate the full scored set for this doc
        rows = self._score(q, stats).filter(F.col("docid") == docid).collect()
        v = float(rows[0]["score"]) if rows else 0.0
        return {"value": v, "description": type(q).__name__, "details": []}

    def suggest(self, prefix: str, k: int = 10) -> DataFrame:
        """Autocomplete (Suggest/Analyzing/AnalyzingSuggester.cs:90, FST
        replaced by the sorted term dictionary): terms with the prefix,
        ranked by document frequency — a pushdown-pruned dictionary scan."""
        return (
            self.termstats.filter(
                F.col("term").startswith(prefix) & ~F.col("term").contains(":")
            )
            .select("term", "df")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(k)
        )

    def suggest_analyzed(self, text: str, k: int = 10) -> DataFrame:
        """Analysis-chain-aware completion — the AnalyzingSuggester contract
        (Suggest/Analyzing/AnalyzingSuggester.cs:90: the typed text runs
        through the SAME analyzer the index used before completion, so
        'Recherch' completes against stemmed/folded/lowercased dictionary
        forms that a raw surface-prefix scan would miss). The last analyzed
        token is the completion prefix; any earlier analyzed tokens must
        co-occur (each completion is returned with its df among docs
        containing the context terms — the weight the reference's FST
        carries). A fully-stopworded input returns the plain top-df terms.

        Plan: dictionary-prefix scan for candidates; with context, ONE
        semi-join of the context docids into the candidates' postings +
        hash agg (candidate-bounded, never corpus x corpus)."""
        toks = self.analyzer.analyze_query(text)
        if not toks:
            return (
                self.termstats.filter(~F.col("term").contains(":"))
                .select("term", "df")
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(k)
            )
        prefix, context = toks[-1], [t for t in toks[:-1] if t]
        cand = self.termstats.filter(
            F.col("term").startswith(prefix) & ~F.col("term").contains(":")
        ).select("term", "df")
        if not context:
            return cand.orderBy(F.desc("df"), F.asc("term")).limit(k)
        ctx = None
        for t in dict.fromkeys(context):
            d = self._score(TermQuery(t), self.term_stats([t])).select("docid")
            ctx = d if ctx is None else ctx.join(d, "docid", "inner")
        cand_docs = (
            self.postings.join(F.broadcast(cand.select("term")), "term")
            .select("term", "first_docid", "docid_deltas")
        )

        def decode(batches):
            for pdf, docids, lens, _ in _decode_blocks(batches):
                yield pd.DataFrame(
                    {"term": np.repeat(pdf["term"].to_numpy(), lens), "docid": docids}
                )

        pairs = cand_docs.mapInPandas(decode, schema="term string, docid long")
        return (
            pairs.join(ctx, "docid", "left_semi")
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(k)
        )

    def fuzzy_suggest(self, prefix: str, k: int = 10, max_edits: int = 1) -> DataFrame:
        """Typo-tolerant autocomplete (Suggest/Analyzing/FuzzySuggester.cs:59
        — the Levenshtein automaton intersected with the suggest FST,
        re-expressed as a dictionary scan): completions whose first
        len(prefix) characters are within ``max_edits`` Levenshtein of the
        typed prefix, ranked (distance asc, df desc, term asc). v0 compares
        the FIXED-length term prefix (no transposition credit), documented
        divergence from the automaton's variable-length alignment. The
        scan is dictionary-sized (termstats, the small table), not
        corpus-sized."""
        t = F.col("term")
        p = F.substring(t, 1, len(prefix))
        dist = F.levenshtein(p, F.lit(prefix))
        return (
            self.termstats.filter(
                ~t.contains(":")
                & (F.length(t) >= len(prefix))
                & (dist <= max_edits)
            )
            .select("term", "df", dist.alias("distance"))
            .orderBy(F.asc("distance"), F.desc("df"), F.asc("term"))
            .limit(k)
        )

    def spell_correct(self, term: str, k: int = 5, max_edits: int = 2) -> DataFrame:
        """SpellChecker (Suggest/Spell/SpellChecker.cs): nearest dictionary
        terms by edit distance, ties broken by df desc then term asc."""
        t = F.col("term")
        cand = self.termstats.filter(
            (F.levenshtein(t, F.lit(term)) <= max_edits)
            & (F.abs(F.length(t) - F.lit(len(term))) <= max_edits)
            & (t != term)
            & ~t.contains(":")
        )
        return (
            cand.select("term", "df", F.levenshtein(t, F.lit(term)).alias("distance"))
            .orderBy(F.asc("distance"), F.desc("df"), F.asc("term"))
            .limit(k)
        )

    def fetch(self, topk: DataFrame) -> DataFrame:
        """Join stored fields back for the (tiny) top-k result — the
        stored-fields fetch; the source table is the store (SURVEY.md §1.1)."""
        return self.docmap.select("docid", "url").join(
            F.broadcast(topk), "docid", "inner"
        )
