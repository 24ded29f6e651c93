"""Round-5 robustness fixes (ADVICE.md items):

- join_scores' broadcast guard now recognises term-free clauses in
  DISJUNCTIVE positions (MatchAll, pure ranges, MTQ rewrites): the df-sum
  estimate is only an upper bound when every match path goes through a
  collected term, so those shapes must take the shuffle join
  (`_df_bounded`).
- a nested SpanNearQuery clause carrying a DIFFERENT field than the outer
  query raises ValueError instead of silently searching the outer field's
  postings (span trees are single-field, SpanNearQuery.cs:56).
"""

import pytest

from lucenenet_spark.index import IndexConfig, build_index
from lucenenet_spark.query.ast import (
    BooleanQuery,
    ConstantScoreQuery,
    MatchAllDocsQuery,
    NumericRangeQuery,
    PrefixQuery,
    SpanNearQuery,
    TermQuery,
)
from lucenenet_spark.query.engine import Searcher, _df_bounded


# --------------------------------------------------------------------- #
# _df_bounded: when is the df-sum a real upper bound on |matches|?
# --------------------------------------------------------------------- #


def test_df_bounded_basic_shapes():
    t = TermQuery("spark")
    assert _df_bounded(t)
    assert not _df_bounded(MatchAllDocsQuery())
    # MTQ expansions are not in the df estimate
    assert not _df_bounded(PrefixQuery("spa"))
    assert not _df_bounded(NumericRangeQuery("ts", 0, 10))


def test_df_bounded_boolean_positions():
    t = TermQuery("spark")
    ma = MatchAllDocsQuery()
    # conjunction: ONE bounded MUST clause bounds the intersection
    q_and = BooleanQuery.build(must=[t, ma])
    assert _df_bounded(q_and)
    # disjunction: EVERY clause must be bounded
    q_or_ok = BooleanQuery.build(should=[t, TermQuery("flink")])
    assert _df_bounded(q_or_ok)
    q_or_bad = BooleanQuery.build(should=[t, ma])
    assert not _df_bounded(q_or_bad)
    q_or_prefix = BooleanQuery.build(should=[t, PrefixQuery("fl")])
    assert not _df_bounded(q_or_prefix)
    # wrapper transparency
    assert not _df_bounded(ConstantScoreQuery(q_or_bad))
    assert _df_bounded(ConstantScoreQuery(q_or_ok))


def test_join_scores_shuffles_on_unbounded_disjunction(spark, tmp_path):
    """A SHOULD(term, MatchAll) from-query must NOT be broadcast even when
    the term df-sum is under the threshold — the MatchAll side matches
    maxdoc rows."""
    from lucenenet_spark.data.pages import pages_spark_df

    root = str(tmp_path / "idx")
    df = pages_spark_df(spark, n=120, seed=5)
    build_index(spark, df, root, IndexConfig(num_partitions=2, bucket_width=2))
    s = Searcher(spark, root)

    bounded = BooleanQuery.build(
        should=[TermQuery("the"), TermQuery("data")]
    )
    unbounded = BooleanQuery.build(
        should=[TermQuery("the"), MatchAllDocsQuery()]
    )
    keys = s.docmap.select("docid", "url")

    # assert on the analyzed LOGICAL plan: the guard controls whether WE
    # force a broadcast hint. (AQE may still pick BHJ for tiny test data
    # from real size stats — that's its call, sized with evidence; the bug
    # was forcing the hint from an estimate that wasn't an upper bound.)
    plan_b = s.join_scores(
        bounded, keys, "url", broadcast_threshold=10_000
    )._jdf.queryExecution().analyzed().toString()
    plan_u = s.join_scores(
        unbounded, keys, "url", broadcast_threshold=10_000
    )._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint (strategy=broadcast)" in plan_b
    assert "ResolvedHint (strategy=broadcast)" not in plan_u


# --------------------------------------------------------------------- #
# nested span field mismatch
# --------------------------------------------------------------------- #


def test_nested_span_field_mismatch_raises(spark, tmp_path):
    from lucenenet_spark.data.pages import pages_spark_df

    root = str(tmp_path / "idx")
    df = pages_spark_df(spark, n=60, seed=7)
    build_index(spark, df, root, IndexConfig(num_partitions=2, bucket_width=2))
    s = Searcher(spark, root)

    inner = SpanNearQuery(("web", "data"), slop=1, field="title")
    outer = SpanNearQuery((inner, "the"), slop=3, in_order=True, field="text")
    with pytest.raises(ValueError, match="differs"):
        s.search(outer, k=5)


# --------------------------------------------------------------------- #
# scale-aware IVF-flat (r5) + metadata row counts instead of count()
# --------------------------------------------------------------------- #


def test_ivf_params_scale_rule():
    import __spark_entry__ as entrymod

    assert entrymod._ivf_params(10) == (8, 3)            # K floor
    assert entrymod._ivf_params(600) == (25, 5)
    assert entrymod._ivf_params(1_000_000) == (1000, 32)
    k, npb = entrymod._ivf_params(10**12)
    assert k == 4096 and npb == 64                       # caps


def test_ivf_cells_balanced_and_candidates_linear(spark):
    """With md5-sampled seeds over random unit vectors, cells stay near
    balanced, so the probed candidate set is ~n/K * nprobe — the IVF scale
    contract (VERDICT r4: constants must grow with n)."""
    import numpy as np
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod

    n = 2048
    rng = np.random.default_rng(11)
    v = rng.standard_normal((n, 64))
    v6 = np.floor(v * 1_000_000.0 + 0.5)
    rows = [(int(i), [float(x) for x in v6[i]]) for i in range(n)]
    e6 = spark.createDataFrame(rows, "vec_id long, v6 array<double>")
    k, nprobe = entrymod._ivf_params(n)
    assert k == 46
    seed_rows = (
        e6.orderBy(
            F.md5(F.col("vec_id").cast("string").cast("binary")).asc(),
            F.col("vec_id").asc(),
        ).limit(k).collect()
    )
    seeds = sorted((int(r["vec_id"]), list(r["v6"])) for r in seed_rows)
    assign = e6.mapInPandas(
        entrymod._ivf_assign_udf(seeds), "vec_id long, cluster long"
    )
    sizes = [
        int(r["c"]) for r in
        assign.groupBy("cluster").agg(F.count("*").alias("c")).collect()
    ]
    assert sum(sizes) == n
    assert len(sizes) >= k // 2          # most cells non-empty
    # candidate set for any nprobe probes stays ~n/K * nprobe: even the
    # LARGEST nprobe cells together stay within a small factor of it
    worst = sum(sorted(sizes, reverse=True)[:nprobe])
    assert worst <= 5 * (n / k) * nprobe


def test_dedup_entries_never_run_a_count_pass(spark, monkeypatch):
    """r5: band shapes come from Parquet footer metadata, not a corpus
    count() pre-pass — a count() during query CONSTRUCTION now fails."""
    from pyspark.sql import DataFrame

    import __spark_entry__ as entrymod

    def boom(self):
        raise AssertionError("count() pre-pass is banned (use footer stats)")

    monkeypatch.setattr(DataFrame, "count", boom)
    sf = "/root/testdata/sf0.001"
    entrymod.q_dd_minhash_lsh(spark, sf)    # builds the plan, no count
    entrymod.q_dd_embed_cosine(spark, sf)


def test_table_rows_matches_actual(spark):
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    n_meta = entrymod._table_rows(sf, "documents")
    n_real = spark.read.parquet(sf + "/documents.parquet").count()
    assert n_meta == n_real
