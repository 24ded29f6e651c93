"""Percolator — the MemoryIndex / reverse-search module.

The reference's MemoryIndex (Lucene.Net.Memory/MemoryIndex.cs:81) holds
ONE document as an in-memory index so a set of REGISTERED queries can be
evaluated against it — the percolation/alerting pattern (stored
searches, streaming documents; each arriving doc answers "which saved
queries match me?").

Spark-first re-expression: the registered query set is small (saved
alerts), the document stream is huge — so the queries BROADCAST and the
match evaluation runs inside ``mapInPandas`` batches, one linear pass
per document exactly like MemoryIndex's per-doc evaluation, with zero
shuffle: the operator is embarrassingly parallel over document
partitions, which is the shape that survives 10^12 docs. Scoring is
intentionally boolean (match/no-match), the percolation contract; rank
the matched docs afterwards with the normal index path if needed.

Supported registered-query shapes (the alerting subset): TermQuery,
BooleanQuery (MUST/SHOULD/MUST_NOT + minimum_should_match), PhraseQuery
(slop 0, adjacency), PrefixQuery. Anything else raises at registration
time — the clear-error convention.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd

from ..analysis.analyzer import StandardAnalyzer
from .ast import BooleanQuery, PhraseQuery, PrefixQuery, Query, TermQuery


def _check_supported(q: Query) -> None:
    if isinstance(q, TermQuery):
        if q.field != "text":
            raise ValueError("percolate: only text-field terms supported")
        return
    if isinstance(q, PrefixQuery):
        if q.field != "text":
            raise ValueError("percolate: only text-field prefixes supported")
        return
    if isinstance(q, PhraseQuery):
        if q.slop != 0:
            raise ValueError("percolate: only slop-0 phrases supported")
        if q.field != "text":
            raise ValueError("percolate: only text-field phrases supported")
        return
    if isinstance(q, BooleanQuery):
        for c in q.clauses:
            _check_supported(c.query)
        return
    raise ValueError(
        f"percolate: unsupported query type {type(q).__name__} "
        "(supported: Term, Boolean, exact Phrase, Prefix)"
    )


def _matches(q: Query, at: dict[int, str], tokset: set[str]) -> bool:
    """MemoryIndex-style per-document evaluation (one doc, one query).
    ``at`` maps each position to its token; stopwords leave gaps, so a
    phrase never matches across one (the indexed phrase path's semantics)."""
    if isinstance(q, TermQuery):
        return q.term in tokset
    if isinstance(q, PrefixQuery):
        p = q.prefix
        return any(t.startswith(p) for t in tokset)
    if isinstance(q, PhraseQuery):
        terms = q.terms
        n = len(terms)
        if n == 0:
            return False
        if any(t not in tokset for t in terms):
            return False
        first = terms[0]
        return any(
            t == first and all(at.get(p + j) == terms[j] for j in range(1, n))
            for p, t in at.items()
        )
    if isinstance(q, BooleanQuery):
        must, should, must_not = q.parts()
        if any(_matches(m, at, tokset) for m in must_not):
            return False
        if not all(_matches(m, at, tokset) for m in must):
            return False
        if should:
            n_should = sum(_matches(s, at, tokset) for s in should)
            msm = q.minimum_should_match or (0 if must else 1)
            return n_should >= msm
        return bool(must)
    raise AssertionError(f"unchecked query type {type(q).__name__}")


def percolate(
    docs,
    queries: Iterable[tuple[str, Query]],
    analyzer: StandardAnalyzer,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Evaluate every registered (query_id, query) against every row of
    ``docs`` (a Spark DataFrame with ``id_col`` + ``text_col``); return a
    DataFrame (id_col, query_id) of matches. The query list broadcasts
    with the task closure; evaluation is map-side only."""
    qlist: list[tuple[str, Query]] = list(queries)
    for _, q in qlist:
        _check_supported(q)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[int] = []
            qids: list[str] = []
            # missing text (None or NaN) is the empty document
            for i, text in enumerate(pdf[text_col].fillna("").astype(str)):
                a = analyzer.analyze(text)
                at = dict(zip(a.positions, a.tokens))
                tokset = set(a.tokens)
                for qid, q in qlist:
                    if _matches(q, at, tokset):
                        rows.append(i)
                        qids.append(qid)
            yield pd.DataFrame({id_col: pdf[id_col].iloc[rows].reset_index(drop=True),
                                "query_id": pd.Series(qids, dtype=object)})

    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, query_id string"
    return docs.select(id_col, text_col).mapInPandas(run, schema=out_schema)
