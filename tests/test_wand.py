"""Block-max WAND pruning must be a pure optimization: result-identical
top-k (docids AND float32 scores AND ranks) to the unpruned path on every
supported query shape, including stopword-skewed disjunctions.

The pruning-only contract mirrors the reference's own rule for skip lists
(Lucene41SkipWriter.cs — skipping never changes matches) applied to the
block-max metadata this engine adds (SURVEY.md §4.2)."""

import pytest

from lucenenet_spark.data.pages import pages_spark_df
from lucenenet_spark.index import IndexConfig, build_index
from lucenenet_spark.query.ast import BooleanQuery, TermQuery
from lucenenet_spark.query.engine import Searcher

CFG = IndexConfig(num_partitions=8, bucket_width=2, flush_docs=64)


@pytest.fixture(scope="module")
def searcher(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("wandidx"))
    pages = pages_spark_df(spark, 600, seed=7)
    build_index(spark, pages, out, CFG, overwrite=True)
    return Searcher(spark, out)


WAND_QUERIES = [
    TermQuery("data"),
    TermQuery("tiger"),
    TermQuery("w00042"),  # rare tail term
    TermQuery("nonexistent_term_xyz"),
    BooleanQuery.build(should=[TermQuery("data"), TermQuery("search")]),
    BooleanQuery.build(should=[TermQuery("of"), TermQuery("data"), TermQuery("w00042")]),
    # stopword-heavy disjunction — the skew case block-max is for
    BooleanQuery.build(should=[TermQuery("of"), TermQuery("and"), TermQuery("to")]),
]


@pytest.mark.parametrize("k", [1, 10, 50])
@pytest.mark.parametrize("qi", range(len(WAND_QUERIES)))
def test_wand_result_identical(searcher, qi, k, wand_runs):
    q = WAND_QUERIES[qi]
    plain = searcher.search(q, k).collect()
    pruned = searcher.search(q, k, wand=True).collect()
    assert wand_runs == [searcher._wand_shape(q)]
    assert [(r["docid"], r["score"], r["rank"]) for r in plain] == [
        (r["docid"], r["score"], r["rank"]) for r in pruned
    ]


def test_wand_shape_detection(searcher):
    assert searcher._wand_shape(TermQuery("x")) == ["x"]
    assert searcher._wand_shape(
        BooleanQuery.build(should=[TermQuery("a"), TermQuery("b")])
    ) == ["a", "b"]
    # MUST / MUST_NOT / msm>1 shapes fall back to the unpruned path
    assert searcher._wand_shape(BooleanQuery.build(must=[TermQuery("a")])) is None
    assert (
        searcher._wand_shape(
            BooleanQuery.build(
                should=[TermQuery("a"), TermQuery("b")], minimum_should_match=2
            )
        )
        is None
    )


def test_wand_actually_prunes(spark, tmp_path_factory, wand_runs):
    """The pruned plan must read fewer blocks than the full plan for a
    high-df term at small k (otherwise 'WAND' is a no-op). Uses a larger
    corpus so posting lists span many blocks with varied block maxima."""
    import pyspark.sql.functions as F

    out = str(tmp_path_factory.mktemp("wandbig"))
    build_index(spark, pages_spark_df(spark, 3000, seed=13), out, CFG, overwrite=True)
    s = Searcher(spark, out)
    terms = ["data"]
    stats = s.term_stats(terms)
    theta = s._wand_theta(terms, stats, 1)
    assert theta is not None and theta > 0
    total_blocks = s.postings.filter(F.col("term") == "data").count()
    st = stats["data"]
    w_t = float(st.idf) * (float(s.k1) + 1.0)
    bound = F.col("block_max_ub").cast("double") * F.lit(w_t)
    kept = (
        s.postings.filter(F.col("term") == "data")
        .filter(bound >= F.lit(float(theta) * (1.0 - 1e-6)))
        .count()
    )
    assert total_blocks > 4
    assert kept < total_blocks
    # and the pruned search is still identical
    plain = s.search(TermQuery("data"), 1).collect()
    pruned = s.search(TermQuery("data"), 1, wand=True).collect()
    assert wand_runs == [["data"]]
    assert [(r["docid"], r["score"]) for r in plain] == [
        (r["docid"], r["score"]) for r in pruned
    ]
