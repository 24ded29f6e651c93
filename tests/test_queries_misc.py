"""MoreLikeThis + CommonTermsQuery (Lucene.Net.Queries module analogues):
metamorphic checks against the explicitly-constructed equivalent query."""

import pytest

from lucenenet_spark.data.pages import pages_spark_df
from lucenenet_spark.index import IndexConfig, build_index
from lucenenet_spark.query.ast import BooleanQuery, TermQuery
from lucenenet_spark.query.engine import Searcher

CFG = IndexConfig(num_partitions=8, bucket_width=2, flush_docs=64)


@pytest.fixture(scope="module")
def searcher(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("miscidx"))
    build_index(spark, pages_spark_df(spark, 400, seed=42), out, CFG, overwrite=True)
    return Searcher(spark, out)


def rows(df):
    return [(r["docid"], r["score"]) for r in df.collect()]


def test_more_like_this_matches_explicit_or(searcher):
    text = "tiger burning bright in the forest data search"
    got = searcher.more_like_this(text, k=10, max_query_terms=3)
    # replicate the selection: tf*idf ranking over analyzed terms
    from collections import Counter

    from lucenenet_spark.analysis import StandardAnalyzer

    tf = Counter(StandardAnalyzer().analyze_query(text))
    stats = searcher.term_stats(list(tf))
    ranked = sorted(
        ((float(tf[t]) * float(st.idf), t) for t, st in stats.items() if st.df >= 2),
        reverse=True,
    )
    best = [t for _, t in ranked[:3]]
    want = searcher.search(BooleanQuery.build(should=[TermQuery(t) for t in best]), 10)
    assert rows(got) == rows(want)


def test_more_like_this_empty_text(searcher):
    assert searcher.more_like_this("", k=5).count() == 0
    assert searcher.more_like_this("the of and", k=5).count() == 0  # all stopwords


def test_common_terms_demotes_high_df(searcher):
    # 'data' is frequent (Zipf head), 'w00042' rare. With a cutoff between
    # their dfs, the query must equal the ReqOptSum shape.
    stats = searcher.term_stats(["data", "w00042"])
    assert stats["data"].df > stats["w00042"].df
    cutoff_ratio = (stats["w00042"].df + 0.5) / searcher.maxdoc
    got = searcher.common_terms_query(["data", "w00042"], k=10, max_term_frequency=cutoff_ratio)
    want = searcher.search(
        BooleanQuery.build(
            must=[BooleanQuery.build(should=[TermQuery("w00042")])],
            should=[TermQuery("data")],
        ),
        10,
    )
    assert rows(got) == rows(want)
    # every hit must contain the rare (required) term
    req_docs = {r["docid"] for r in searcher.score_df(TermQuery("w00042")).collect()}
    assert {r["docid"] for r in got.collect()} <= req_docs


def test_common_terms_all_common_falls_back_to_or(searcher):
    got = searcher.common_terms_query(["data", "search"], k=10, max_term_frequency=1e-9)
    want = searcher.search(
        BooleanQuery.build(should=[TermQuery("data"), TermQuery("search")]), 10
    )
    assert rows(got) == rows(want)


def test_rescorer_reranks_topk(searcher):
    from pyspark.sql import functions as F

    base = searcher.search(TermQuery("data"), 10)
    rescored = searcher.rescore(base, TermQuery("search"), weight=2.0)
    rows_ = rescored.collect()
    assert len(rows_) == len(base.collect())
    # rescored docids are a permutation of the originals
    assert {r["docid"] for r in rows_} == {r["docid"] for r in base.collect()}
    # combined score == base + 2*second for a doc matching both
    second = {r["docid"]: r["score"] for r in searcher.score_df(TermQuery("search")).collect()}
    base_s = {r["docid"]: r["score"] for r in base.collect()}
    for r in rows_:
        want = base_s[r["docid"]] + 2.0 * second.get(r["docid"], 0.0)
        assert abs(r["score"] - want) < 1e-5


def test_search_sorted_by_field(searcher):
    from pyspark.sql import functions as F

    top = searcher.search_sorted(TermQuery("data"), [F.asc("url")], k=5).collect()
    urls = [r["url"] for r in top]
    assert urls == sorted(urls)
    assert len(top) == 5


def test_suggest_prefix_ranked_by_df(searcher):
    rows_ = searcher.suggest("s", k=5).collect()
    assert all(r["term"].startswith("s") for r in rows_)
    dfs = [r["df"] for r in rows_]
    assert dfs == sorted(dfs, reverse=True)


def test_fuzzy_suggest(searcher):
    """FuzzySuggester analogue: a substitution typo in the prefix still
    completes; exact-prefix matches rank at distance 0 first."""
    rows_ = searcher.fuzzy_suggest("saarch", k=5, max_edits=1).collect()
    assert any(r["term"] == "search" for r in rows_)
    assert all(r["distance"] <= 1 for r in rows_)
    dists = [r["distance"] for r in rows_]
    assert dists == sorted(dists)
    exact = searcher.fuzzy_suggest("sear", k=5).collect()
    assert exact and exact[0]["distance"] == 0
    assert all(":" not in r["term"] for r in rows_)


def test_spell_correct(searcher):
    rows_ = searcher.spell_correct("serch", k=3).collect()
    assert rows_, "expected at least one correction"
    assert rows_[0]["term"] == "search"
    dists = [r["distance"] for r in rows_]
    assert dists == sorted(dists)


def test_analyzer_variants():
    from lucenenet_spark.analysis.analyzer import (
        KeywordAnalyzer,
        SimpleAnalyzer,
        StopAnalyzer,
        WhitespaceAnalyzer,
    )

    assert KeywordAnalyzer().analyze("Hello World 42").tokens == ["Hello World 42"]
    assert WhitespaceAnalyzer().analyze("Hello World 42").tokens == ["Hello", "World", "42"]
    assert SimpleAnalyzer().analyze("Hello World42x the").tokens == ["hello", "world", "x", "the"]
    assert StopAnalyzer().analyze("Hello World42x the").tokens == ["hello", "world", "x"]


def test_custom_analyzer_build_path(spark, tmp_path_factory):
    """A non-default chain must flow through the whole build (generic
    analyzer fallback) and produce a queryable index."""
    from lucenenet_spark.analysis.analyzer import WhitespaceAnalyzer
    from lucenenet_spark.index.builder import IndexBuilder
    from lucenenet_spark.index.storage import IndexStorage

    out = str(tmp_path_factory.mktemp("wsidx"))
    pages = pages_spark_df(spark, 50, seed=3)
    b = IndexBuilder(spark, IndexStorage(out), CFG, analyzer=WhitespaceAnalyzer())
    b.build(pages, overwrite=True)
    s = Searcher(spark, out)
    # WhitespaceAnalyzer preserves case and punctuation-attached tokens;
    # 'Tiger,' (with comma) exists as a term, lowercase 'tiger' standalone does not
    terms = {r["term"] for r in s.termstats.select("term").collect()}
    assert any("," in t or t[0].isupper() for t in terms)


def test_highlighter(spark):
    from lucenenet_spark.query.highlight import highlight

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"), (2, "no match here"), (3, None)],
        "docid long, text string",
    )
    out = {r["docid"]: r["snippet"] for r in highlight(df, ["fox", "dog"]).collect()}
    assert "<b>fox</b>" in out[1] and "<b>dog</b>" in out[1]
    assert out[2] == "no match here"
    assert out[3] == ""


def test_explain_matches_score(searcher):
    """Explanation.value must equal the scored value exactly — the
    TestExplanations contract of the reference."""
    q = BooleanQuery.build(should=[TermQuery("data"), TermQuery("search")])
    top = searcher.search(q, 5).collect()
    for r in top:
        ex = searcher.explain(q, r["docid"])
        import numpy as np

        assert np.float32(ex["value"]) == np.float32(r["score"]), ex
        assert ex["details"], "expected per-clause details"


def test_explain_value_is_float32_score(searcher):
    """In "lucene" mode the explanation of a boolean sum carries the same
    float32 rounding as the search score, so the two compare equal as
    plain Python floats."""
    from lucenenet_spark.query import parse_query

    q = parse_query("+data +search crawl^0.5")
    top = searcher.search(q, 10).collect()
    assert top
    for r in top:
        ex = searcher.explain(q, r["docid"])
        assert ex["value"] == r["score"], (r, ex)


@pytest.fixture(scope="module")
def titled_index(spark, tmp_path_factory):
    """A small index with an extra analyzed ``title`` field."""
    from pyspark.sql import functions as F

    out = str(tmp_path_factory.mktemp("titledidx"))
    pages = pages_spark_df(spark, 200, seed=42).withColumn(
        "title", F.expr("substring(text, 1, 60)")
    )
    cfg = IndexConfig(
        num_partitions=4, bucket_width=2, flush_docs=64, text_fields=("title",)
    )
    build_index(spark, pages, out, cfg, overwrite=True)
    return out


@pytest.mark.parametrize("scoring", ["lucene", "exact_int"])
def test_explain_matches_boosted_term_score(spark, titled_index, scoring):
    """explain(q, d)["value"] equals the search score for boosted terms,
    on the main text field and on an extra analyzed field, in both
    scoring modes (the boost must not be dropped by explain)."""
    from pyspark.sql import functions as F

    s = Searcher(spark, titled_index, scoring=scoring)
    title_term = (
        s.termstats.filter(F.col("term").startswith("title:"))
        .orderBy(F.desc("df"), F.asc("term"))
        .first()["term"]
        .split(":", 1)[1]
    )
    for q in (
        TermQuery("heart", boost=2.0),
        TermQuery(title_term, field="title", boost=2.0),
    ):
        top = s.search(q, 3).collect()
        assert top, q
        for r in top:
            ex = s.explain(q, r["docid"])
            assert ex["value"] == float(r["score"]), (q, ex)


def test_explain_non_match(searcher):
    ex = searcher.explain(TermQuery("zzz_not_a_term"), 0)
    assert ex["value"] == 0.0


def test_explain_must_not_exclusion(searcher):
    q = BooleanQuery.build(must=[TermQuery("data")], must_not=[TermQuery("data")])
    hit = searcher.score_df(TermQuery("data")).limit(1).collect()[0]["docid"]
    ex = searcher.explain(q, hit)
    assert ex["value"] == 0.0 and "MUST_NOT" in ex["description"]


def test_highlight_fragments_best_n(spark):
    """Best-fragments pipeline (Highlighter.GetBestFragments analogue):
    top-N fragments by term density, re-assembled in text order."""
    from lucenenet_spark.query.highlight import highlight_fragments

    filler = "lorem ipsum dolor sit amet " * 6          # ~160 chars, no hits
    dense = "fox fox dog fox near the river bank today "  # 3 fox + 1 dog
    sparse = "one fox walked by the meadow this morning "
    text = sparse + filler + dense + filler + sparse
    df = spark.createDataFrame(
        [(1, text), (2, "nothing relevant"), (3, None)],
        "docid long, text string",
    )
    out = {
        r["docid"]: (r["snippet"], r["n_fragments"])
        for r in highlight_fragments(
            df, ["fox", "dog"], fragment_chars=80, max_fragments=2
        ).collect()
    }
    snip, n = out[1]
    assert n == 2
    # the dense fragment must be present and wrapped
    assert "<b>fox</b>" in snip and "<b>dog</b>" in snip
    # fragments joined in TEXT order by the separator
    assert "..." in snip
    # no-hit and null rows degrade cleanly
    assert out[2] == ("", 0) and out[3] == ("", 0)


def test_custom_score_metamorphic(searcher):
    """CustomScoreQuery analogue: score_expr = score (identity) must equal
    plain search; a doclen-driven modifier must re-rank exactly as the
    hand-computed expectation over the full match set."""
    from pyspark.sql import functions as F

    q = TermQuery("search")
    ident = searcher.custom_score(q, F.col("score"), k=10)
    plain = searcher.search(q, 10)
    assert [
        (r["docid"], float(r["score"])) for r in ident.collect()
    ] == [(r["docid"], float(r["score"])) for r in plain.collect()]

    # modifier: halve the score for docs longer than the median doclen
    boosted = searcher.custom_score(
        q,
        F.col("score") * F.when(F.col("doclen") > 60, F.lit(0.5)).otherwise(F.lit(1.0)),
        k=10,
    )
    full = searcher.score_df(q).join(searcher.docmap, "docid")
    exp = sorted(
        (
            (float(r["score"]) * (0.5 if r["doclen"] > 60 else 1.0), -r["docid"])
            for r in full.collect()
        ),
        reverse=True,
    )[:10]
    got = [(float(r["score"]), -r["docid"]) for r in boosted.collect()]
    assert got == exp


def test_boosting_query_demotes_without_excluding(searcher):
    """BoostingQuery: context matches keep rank presence at boosted score;
    a context that matches nothing leaves ranking identical."""
    from pyspark.sql import functions as F  # noqa: F401

    q = TermQuery("search")
    noop = searcher.boosting_query(q, TermQuery("zz_no_such_term"), 0.5, k=10)
    plain = searcher.search(q, 10)
    assert [(r["docid"], float(r["score"])) for r in noop.collect()] == [
        (r["docid"], float(r["score"])) for r in plain.collect()
    ]

    ctx = TermQuery("engine")
    got = {
        r["docid"]: float(r["score"])
        for r in searcher.boosting_query(q, ctx, 0.5, k=1000).collect()
    }
    base = {r["docid"]: float(r["score"]) for r in searcher.score_df(q).collect()}
    ctx_ids = {r["docid"] for r in searcher.score_df(ctx).collect()}
    assert set(got) == set(base)  # nothing excluded
    import numpy as np

    for d, s in got.items():
        want = (
            float(np.float32(np.float32(base[d]) * np.float32(0.5)))
            if d in ctx_ids
            else base[d]
        )
        assert s == want, (d, s, want)


def test_join_scores_score_modes(searcher, spark):
    """JoinUtil.CreateJoinQuery analogue: per-join-value aggregation must
    equal a pandas recomputation from the raw scored match set for every
    ScoreMode, with n_from = per-value hit count."""
    import numpy as np
    from pyspark.sql import functions as F

    q = TermQuery("heart")
    scored = searcher.score_df(q).toPandas()
    assert len(scored) > 0
    # deterministic synthetic mapping: docid -> group g{docid % 3}
    keys = searcher.docmap.select(
        "docid", F.concat(F.lit("g"), F.pmod("docid", F.lit(3))).alias("grp")
    )
    scored["grp"] = "g" + (scored["docid"] % 3).astype(str)
    for mode, fn in [
        ("total", "sum"), ("max", "max"), ("min", "min"), ("avg", "mean")
    ]:
        got = {
            r["grp"]: (float(r["score"]), int(r["n_from"]))
            for r in searcher.join_scores(q, keys, "grp", mode).collect()
        }
        want_s = scored.groupby("grp")["score"].agg(fn)
        want_n = scored.groupby("grp")["score"].size()
        assert set(got) == set(want_s.index)
        for g in got:
            assert np.isclose(got[g][0], float(want_s[g]), rtol=1e-6), (mode, g)
            assert got[g][1] == int(want_n[g])

    import pytest as _pytest

    with _pytest.raises(ValueError):
        searcher.join_scores(q, keys, "grp", "nope")


def test_join_scores_broadcast_guard(searcher):
    """The from-side broadcast is guarded by the df-sum estimate: a small
    term query keeps the broadcast hint; a high-df / term-free shape
    (MatchAllDocsQuery) falls back to a shuffle join instead of
    broadcasting an unbounded match set."""
    from pyspark.sql import functions as F

    from lucenenet_spark.query.ast import MatchAllDocsQuery

    keys = searcher.docmap.select(
        "docid", F.concat(F.lit("g"), F.pmod("docid", F.lit(3))).alias("grp")
    )

    def planned(q, **kw):
        df = searcher.join_scores(q, keys, "grp", "total", **kw)
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert "broadcast" in planned(TermQuery("heart")).lower()
    assert "broadcast" not in planned(MatchAllDocsQuery()).lower()
    # a term query pushed over the threshold also demotes to shuffle
    assert "broadcast" not in planned(
        TermQuery("heart"), broadcast_threshold=0
    ).lower()
    # results are identical either way
    a = {
        (r["grp"], r["n_from"])
        for r in searcher.join_scores(TermQuery("heart"), keys, "grp").collect()
    }
    b = {
        (r["grp"], r["n_from"])
        for r in searcher.join_scores(
            TermQuery("heart"), keys, "grp", broadcast_threshold=0
        ).collect()
    }
    assert a == b and a


def test_suggest_analyzed_context_and_ranking(searcher):
    """AnalyzingSuggester analogue: the last analyzed token completes, the
    earlier tokens form a co-occurrence context, df = docs containing
    context AND completion."""
    import pandas as pd

    # recompute from the raw corpus: docs with 'tiger', completions 'bu%'
    toks = searcher.docmap.select("docid").count()  # force searcher built
    got = {
        r["term"]: r["df"]
        for r in searcher.suggest_analyzed("tiger bu", 10).collect()
    }
    assert got, "expected completions for 'bu' in tiger docs"
    # every completion starts with the analyzed prefix
    assert all(t.startswith("bu") for t in got)
    # weights equal the co-occurrence df computed independently
    from lucenenet_spark.query.ast import BooleanQuery, TermQuery

    for t, df in got.items():
        both = searcher.count(
            BooleanQuery.build(must=[TermQuery("tiger"), TermQuery(t)])
        )
        assert df == both, (t, df, both)
    # no context: plain prefix completion identical to suggest()
    a = [(r["term"], r["df"]) for r in searcher.suggest_analyzed("bu", 10).collect()]
    b = [(r["term"], r["df"]) for r in searcher.suggest("bu", 10).collect()]
    assert a == b


def test_suggest_analyzed_runs_the_chain(spark, tmp_path):
    """The typed text is analyzed with the INDEX's chain before completion:
    on an english-chain index, 'Running merg' completes against stemmed
    dictionary forms with the stem 'run' as context."""
    from lucenenet_spark.index import IndexConfig, build_index

    rows = [
        ("u://0", "running quickly while merging the merged tables"),
        ("u://1", "merger of unrelated entries"),
        ("u://2", "running without the other context word"),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    out = str(tmp_path / "sugg_en")
    build_index(
        spark, df, out,
        IndexConfig(num_partitions=2, flush_docs=64, analyzer="english"),
        overwrite=True,
    )
    s = Searcher(spark, out)
    assert s.analyzer.analyze_query("Running merg") == ["run", "merg"]
    got = {r["term"]: r["df"] for r in s.suggest_analyzed("Running merg", 10).collect()}
    # doc 0 contains stem 'run' and merg-prefixed stems; doc 1 has no 'run'
    assert got and all(t.startswith("merg") for t in got)
    assert all(df == 1 for df in got.values())  # only doc 0 co-occurs
