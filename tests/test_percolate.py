"""Percolator (query/percolate.py) — the MemoryIndex/reverse-search
analogue (Lucene.Net.Memory/MemoryIndex.cs:81): registered queries
evaluated per document, map-side only. Matcher semantics vs the
supported AST subset + Spark integration + clear-error contract."""

import numpy as np
import pandas as pd
import pytest

from lucenenet_spark.analysis.analyzer import StandardAnalyzer
from lucenenet_spark.query.ast import (
    BooleanQuery,
    PhraseQuery,
    PrefixQuery,
    SpanNearQuery,
    TermQuery,
)
from lucenenet_spark.query.percolate import _check_supported, _matches, percolate

AN = StandardAnalyzer(frozenset(), 255, ascii_only=True)


def m(q, text):
    a = AN.analyze(text)
    return _matches(q, dict(zip(a.positions, a.tokens)), set(a.tokens))


def test_term_and_prefix():
    assert m(TermQuery("fox"), "the quick fox")
    assert not m(TermQuery("dog"), "the quick fox")
    assert m(PrefixQuery("qu"), "the quick fox")
    assert not m(PrefixQuery("zz"), "the quick fox")


def test_boolean_shapes():
    q_and = BooleanQuery.build(must=[TermQuery("a"), TermQuery("b")])
    assert m(q_and, "a x b")
    assert not m(q_and, "a x c")
    q_not = BooleanQuery.build(must=[TermQuery("a")], must_not=[TermQuery("b")])
    assert m(q_not, "a c")
    assert not m(q_not, "a b")
    q_msm = BooleanQuery.build(
        should=[TermQuery("a"), TermQuery("b"), TermQuery("c")],
        minimum_should_match=2,
    )
    assert m(q_msm, "a c x")
    assert not m(q_msm, "a x y")
    # pure SHOULD without msm: at least one (the reference default)
    q_or = BooleanQuery.build(should=[TermQuery("a"), TermQuery("b")])
    assert m(q_or, "b only")
    assert not m(q_or, "c only")


def test_phrase_adjacency():
    q = PhraseQuery(("the", "row"))
    assert m(q, "scan the row fast")
    assert not m(q, "the fast row")       # not adjacent
    assert not m(q, "row the")            # wrong order
    assert m(PhraseQuery(("a", "a")), "x a a y")


def test_unsupported_raises():
    with pytest.raises(ValueError):
        _check_supported(PhraseQuery(("a", "b"), slop=2))
    with pytest.raises(ValueError):
        _check_supported(SpanNearQuery(("a", "b"), 1, True))
    with pytest.raises(ValueError):
        _check_supported(TermQuery("en", field="lang"))


def test_spark_integration(spark):
    docs = spark.createDataFrame(
        [(0, "the quick fox"), (1, "a slow dog"), (2, "the row of data")],
        "doc_id long, text string",
    )
    regs = [
        ("q1", TermQuery("fox")),
        ("q2", PhraseQuery(("the", "row"))),
        ("q3", BooleanQuery.build(must=[TermQuery("slow")])),
    ]
    got = sorted(
        (r["doc_id"], r["query_id"])
        for r in percolate(docs, regs, AN).collect()
    )
    assert got == [(0, "q1"), (1, "q3"), (2, "q2")]


def test_streaming_percolation(spark, tmp_path):
    # the alerting deployment shape: readStream -> percolate -> sink
    # (mapInPandas is stateless, so it composes with Structured Streaming
    # micro-batches unchanged)
    src = str(tmp_path / "in")
    docs = spark.createDataFrame(
        [(0, "the quick fox"), (1, "a slow dog")],
        "doc_id long, text string",
    )
    docs.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out = percolate(stream, [("q1", TermQuery("fox"))], AN)
    q = (
        out.writeStream.format("memory")
        .queryName("perc_hits")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = [
        (r["doc_id"], r["query_id"])
        for r in spark.sql("SELECT * FROM perc_hits ORDER BY doc_id").collect()
    ]
    assert got == [(0, "q1")]


def test_phrase_respects_stopword_gaps(spark):
    # with the English stop set "the" leaves a position gap: a slop-0
    # phrase must not bridge it, as on the indexed phrase path
    docs = spark.createDataFrame(
        [(0, "quick the fox"), (1, "quick fox")], "doc_id long, text string"
    )
    got = percolate(docs, [("q", PhraseQuery(("quick", "fox")))], StandardAnalyzer())
    assert sorted((r["doc_id"], r["query_id"]) for r in got.collect()) == [(1, "q")]


def test_dirty_text_and_string_ids(spark):
    # missing text (NaN in the source frame) is an empty document, and the
    # output id column keeps the input's type
    pdf = pd.DataFrame({"doc_id": ["a", "b", "c"], "text": ["the quick fox", np.nan, "fox"]})
    docs = spark.createDataFrame(pdf, "doc_id string, text string")
    got = percolate(docs, [("q1", TermQuery("fox"))], AN)
    assert dict(got.dtypes)["doc_id"] == "string"
    assert sorted((r["doc_id"], r["query_id"]) for r in got.collect()) == [("a", "q1"), ("c", "q1")]


def test_zero_shuffle_plan(spark):
    # map-side only: no Exchange in the physical plan
    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    df = percolate(docs, [("q", TermQuery("x"))], AN)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
