"""Incremental append (delta generations) — the commit-generation analogue
of Lucene's NRT refresh. The composite Searcher must be rank-identical
(docids AND float32 scores) to the numpy oracle over the COMBINED corpus,
which proves idf/avgdl are correctly re-derived across generations."""

import numpy as np
import pytest

from lucenenet_spark.data.pages import pages_spark_df, synth_pages_pandas
from lucenenet_spark.index import IndexConfig, IndexStorage, append_index, build_index
from lucenenet_spark.query.ast import BooleanQuery, TermQuery
from lucenenet_spark.query.engine import Searcher
from lucenenet_spark.scoring.oracle import OracleIndex

CFG = IndexConfig(num_partitions=8, bucket_width=2, flush_docs=64)


@pytest.fixture(scope="module")
def composite(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("appidx"))
    from pyspark.sql import functions as F

    base_pages = pages_spark_df(spark, 200, seed=42)
    build_index(spark, base_pages, out, CFG, overwrite=True)
    # distinct urls per generation (same-url re-adds are a delete/update
    # story — out of scope for the batch model, SURVEY.md §1.1 deletes row)
    delta1 = pages_spark_df(spark, 80, seed=77, include_blake=False).withColumn(
        "url", F.concat(F.lit("g1-"), F.col("url"))
    )
    s1 = append_index(spark, delta1, out, CFG)
    delta2 = pages_spark_df(spark, 40, seed=99, include_blake=False).withColumn(
        "url", F.concat(F.lit("g2-"), F.col("url"))
    )
    s2 = append_index(spark, delta2, out, CFG)
    assert s1["docid_base"] == 208  # 200 + 8 Blake docs
    assert s2["docid_base"] == 208 + 80
    searcher = Searcher(spark, out)
    # oracle over the combined corpus with the composite docid mapping
    dm = searcher.docmap.select("docid", "url").toPandas()
    url2docid = dict(zip(dm["url"], dm["docid"]))
    texts = []
    for df_pages in (base_pages, delta1, delta2):
        pdf = df_pages.select("url", "text").toPandas()
        texts.extend((url2docid[u], t) for u, t in zip(pdf["url"], pdf["text"]))
    return searcher, OracleIndex(texts)


def test_composite_maxdoc(composite):
    searcher, oracle = composite
    assert searcher.maxdoc == 208 + 80 + 40
    assert searcher.is_composite
    assert searcher.docmap.count() == searcher.maxdoc


QUERIES = [
    TermQuery("data"),
    TermQuery("tiger"),
    BooleanQuery.build(should=[TermQuery("data"), TermQuery("search")]),
    BooleanQuery.build(must=[TermQuery("data"), TermQuery("index")]),
]


@pytest.mark.parametrize("qi", range(len(QUERIES)))
def test_composite_rank_identical_to_oracle(composite, qi):
    searcher, oracle = composite
    got = [(r["docid"], r["score"]) for r in searcher.search(QUERIES[qi], 10).collect()]
    want = oracle.search(QUERIES[qi], k=10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert np.float32(gs) == np.float32(ws)


def test_appended_docs_searchable(composite):
    searcher, _ = composite
    # delta docids live above the base range
    hits = searcher.score_df(TermQuery("data")).filter("docid >= 208").count()
    assert hits > 0


def test_wand_disabled_on_composite(composite, wand_runs):
    searcher, _ = composite
    assert searcher._wand_shape(TermQuery("data")) is None
    # but wand=True must still return correct (unpruned) results
    a = searcher.search(TermQuery("data"), 5).collect()
    b = searcher.search(TermQuery("data"), 5, wand=True).collect()
    assert wand_runs == []
    assert [(r["docid"], r["score"]) for r in a] == [(r["docid"], r["score"]) for r in b]


def test_uncommitted_delta_ignored(spark, tmp_path_factory):
    import os
    import shutil

    out = str(tmp_path_factory.mktemp("appidx2"))
    build_index(spark, pages_spark_df(spark, 100, seed=1), out, CFG, overwrite=True)
    # fake a crashed append: delta dir exists but postings never committed
    crashed = os.path.join(out, "deltas", "000000", "postings")
    os.makedirs(crashed)
    s = Searcher(spark, out)
    assert not s.is_composite
    shutil.rmtree(os.path.join(out, "deltas"))


def test_compaction_preserves_results_and_restores_wand(spark, tmp_path_factory, wand_runs):
    from pyspark.sql import functions as F

    from lucenenet_spark.index.builder import compact_index

    out = str(tmp_path_factory.mktemp("cmpidx"))
    build_index(spark, pages_spark_df(spark, 150, seed=42), out, CFG, overwrite=True)
    d1 = pages_spark_df(spark, 60, seed=5, include_blake=False).withColumn(
        "url", F.concat(F.lit("g1-"), F.col("url"))
    )
    append_index(spark, d1, out, CFG)
    before = Searcher(spark, out)
    assert before.is_composite
    q = BooleanQuery.build(should=[TermQuery("data"), TermQuery("search")])
    want = [(r["docid"], r["score"]) for r in before.search(q, 10).collect()]
    want_count = before.docmap.count()

    s = compact_index(spark, out, CFG)
    assert s["compacted_generations"] == 2
    # compaction runs its stages through the build's stage runner, so each
    # rebuilt stage reports its wall time like a fresh build does
    for stage in ("docmap", "stats", "postings", "termstats", "lineage"):
        assert s["stages"][stage]["wall_sec"] >= 0.0, (stage, s["stages"][stage])
    after = Searcher(spark, out)
    assert not after.is_composite
    assert after.docmap.count() == want_count
    got = [(r["docid"], r["score"]) for r in after.search(q, 10).collect()]
    assert got == want
    # WAND eligible again, still identical
    assert after._wand_shape(TermQuery("data")) == ["data"]
    a = after.search(TermQuery("data"), 5).collect()
    b = after.search(TermQuery("data"), 5, wand=True).collect()
    assert wand_runs == [["data"]]
    assert [(r["docid"], r["score"]) for r in a] == [(r["docid"], r["score"]) for r in b]
    # compaction is CheckIndex-clean
    from lucenenet_spark.index.checkindex import verify

    res = verify(spark, out)
    assert res["ok"], res
