"""The driver seek against the Spark path, bit for bit.

``Searcher.search`` answers a term, a phrase, or a boolean of those whose
terms hold at most ``_SEEK_MAX_ENTRIES`` posting entries on the driver
(pyarrow read + the executors' kernels); everything else runs on Spark.
Forcing the bound below every df sum sends the same queries down the
Spark path, so each one is answered twice and the rows (docid, score,
rank) and the schema must be equal — on a base index, a composite one
(base + 2 deltas + tombstones), its compaction and a zero-doc index, in
both scoring modes. Job counting (``setJobGroup`` + ``statusTracker``)
checks that the driver path launches no Spark job."""

import itertools
import shutil
from contextlib import contextmanager

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import lucenenet_spark.query.engine as engine
from lucenenet_spark.data.pages import pages_spark_df
from lucenenet_spark.index import IndexConfig, build_index
from lucenenet_spark.index.builder import append_index, compact_index
from lucenenet_spark.index.deletes import delete_docs
from lucenenet_spark.query.ast import (
    BooleanClause,
    BooleanQuery,
    MatchAllDocsQuery,
    Occur,
    PhraseQuery,
    PrefixQuery,
    TermQuery,
)
from lucenenet_spark.query.engine import Searcher

CFG = IndexConfig(
    num_partitions=4, bucket_width=2, flush_docs=64,
    text_fields=("title",), keyword_fields=("kind",),
)
MODES = ("lucene", "exact_int")
SHAPES = ("base", "composite", "compacted")


def _pages(spark, n, seed, tag):
    """Synthetic pages with an extra text field (``title``) and a keyword
    field (``kind``, three values); ``tag`` keeps urls apart across
    batches."""
    return (
        pages_spark_df(spark, n, seed=seed)
        .withColumn("url", F.concat(F.lit(tag), "url"))
        .withColumn("title", F.expr("substring(text, 1, 60)"))
        .withColumn("kind", F.concat(F.lit("k"), (F.abs(F.hash("url")) % 3).cast("string")))
    )


@pytest.fixture(scope="module", autouse=True)
def few_shuffle_partitions(spark):
    """The indexes here hold a few hundred documents: two shuffle
    partitions keep the Spark path's many small stages cheap."""
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", saved)


@pytest.fixture(scope="module")
def index_dirs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("seek")
    base, comp, compacted, empty = (str(root / n) for n in (*SHAPES, "empty"))
    build_index(spark, _pages(spark, 300, 11, "b-"), base, CFG, overwrite=True)
    shutil.copytree(base, comp)
    append_index(spark, _pages(spark, 80, 12, "d1-"), comp)
    delete_docs(spark, comp, list(range(0, 380, 7)))
    append_index(spark, _pages(spark, 80, 13, "d2-"), comp)
    delete_docs(spark, comp, list(range(3, 460, 11)))
    shutil.copytree(comp, compacted)
    compact_index(spark, compacted)
    no_pages = pages_spark_df(spark, 1, seed=1, include_blake=False).filter("1=0")
    build_index(spark, no_pages, empty, IndexConfig(num_partitions=2), overwrite=True)
    return {"base": base, "composite": comp, "compacted": compacted, "empty": empty}


@pytest.fixture(scope="module")
def searchers(spark, index_dirs):
    return {
        (shape, mode): Searcher(spark, path, scoring=mode)
        for shape, path in index_dirs.items()
        for mode in MODES
    }


T = TermQuery
QUERIES = {
    "term": T("heart"),
    "term_boost": T("data", boost=1.5),
    "term_title": T("tiger", field="title"),
    "term_keyword": T("k1", field="kind"),
    "term_absent": T("zzabsent"),
    "and": BooleanQuery.build(must=[T("search"), T("index")]),
    "msm2": BooleanQuery.build(
        should=[T("search"), T("index"), T("query"), T("zzabsent")], minimum_should_match=2
    ),
    # the rare term alone would rank first; minimum_should_match keeps it out
    "msm2_rare": BooleanQuery.build(
        should=[T("tiger"), T("data"), T("search")], minimum_should_match=2
    ),
    "nested": BooleanQuery.build(
        must=[
            BooleanQuery.build(should=[T("data"), T("crawl", boost=2.0)]),
            T("k0", field="kind"),
        ],
        should=[T("engine"), PhraseQuery(("human", "heart"))],
        must_not=[BooleanQuery.build(must=[T("spark"), T("web")])],
    ),
    "group_boost": BooleanQuery(
        (
            BooleanClause(T("tiger"), Occur.SHOULD),
            BooleanClause(T("heart", boost=0.5), Occur.SHOULD),
            BooleanClause(T("page", field="title"), Occur.SHOULD),
        ),
        boost=2.5,
    ),
    "not_only": BooleanQuery.build(must_not=[T("data")]),
    "phrase": PhraseQuery(("human", "heart")),
    "phrase_slop": PhraseQuery(("forest", "night"), slop=2),
    "phrase_title": PhraseQuery(("burning", "bright"), field="title"),
    "phrase_absent": PhraseQuery(("human", "zzabsent")),
}


def _rows(df):
    return [(r["docid"], r["score"], r["rank"]) for r in df.collect()]


def _types(df):
    """Column names and types. Nullability is left out: the driver's local
    relation marks every column nullable, the Spark path's ``rank`` (a
    ``row_number``) is non-null."""
    return [(f.name, f.dataType) for f in df.schema]


@contextmanager
def _on_spark():
    """Within the block, every query runs on Spark (no df sum is <= -1)."""
    saved = engine._SEEK_MAX_ENTRIES
    engine._SEEK_MAX_ENTRIES = -1
    try:
        yield
    finally:
        engine._SEEK_MAX_ENTRIES = saved


def _compare(s, q, k=10):
    seek = s.search(q, k)
    with _on_spark():
        spk = s.search(q, k)
        assert _types(seek) == _types(spk), q
        assert _rows(seek) == _rows(spk), q


@pytest.mark.parametrize("mode", MODES)
@pytest.mark.parametrize("shape", SHAPES)
def test_seek_matches_spark_path(searchers, shape, mode):
    """Every fixed shape, answered by ``search`` on the driver, against the
    Spark path's rows: its ``search_batch`` branches, each the plan Spark
    ``search`` runs (``_score_df`` + ``_topk_with_rank``), collected in one
    go. The driver ``search_batch`` returns the same rows."""
    s = searchers[(shape, mode)]
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    seek = {}
    for name, q in QUERIES.items():
        assert engine._seekable(q), name
        df = s.search(q, 10)
        with _on_spark():
            assert _types(df) == _types(s.search(q, 10)), name
        seek[name] = _rows(df)
    batch = s.search_batch(QUERIES, k=10)
    with _on_spark():
        spk = s.search_batch(QUERIES, k=10)
        assert _types(batch) == _types(spk)
        spk = sorted(spk.collect(), key=key)
    assert sorted(batch.collect(), key=key) == spk
    for name in QUERIES:
        assert seek[name] == [
            (r["docid"], r["score"], r["rank"]) for r in spk if r["query_id"] == name
        ], name


@pytest.mark.parametrize("shape", SHAPES)
def test_term_stats_equal_composite_termstats(searchers, shape):
    s = searchers[(shape, "lucene")]
    terms = ["heart", "data", "title:tiger", "kind:k1", "zzabsent"]
    want = {
        r["term"]: (int(r["df"]), int(r["ttf"]), np.float32(r["max_ub"]))
        for r in s.termstats.filter(F.col("term").isin(terms)).collect()
    }
    got = s.term_stats(terms)
    assert {t: (v.df, v.ttf, v.max_ub) for t, v in got.items()} == want
    assert sorted(want) == ["data", "heart", "kind:k1", "title:tiger"]
    for st_ in got.values():
        assert st_.idf == np.float32(engine._idf(s.maxdoc, st_.df))


@pytest.mark.parametrize("mode", MODES)
def test_zero_doc_index(searchers, mode):
    s = searchers[("empty", mode)]
    assert s.maxdoc == 0 and s.term_stats(["heart"]) == {}
    for q in (QUERIES["term"], QUERIES["nested"], QUERIES["phrase"]):
        _compare(s, q)
        assert s.search(q, 5).count() == 0


# ------------------------------------------------------------ job counts #
_group = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    gid = f"test-seek-{next(_group)}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


@pytest.mark.parametrize("shape", ["base", "composite"])
def test_seek_launches_no_spark_job(spark, searchers, shape):
    s = searchers[(shape, "lucene")]
    if shape == "composite":
        assert s.is_composite and s.tombstones is not None
    batch = {n: QUERIES[n] for n in ("term", "nested", "phrase")}
    for q in batch.values():
        rows, jobs = _jobs(spark, lambda: s.search(q, 10).collect())
        assert rows and jobs == 0, q
    rows, jobs = _jobs(spark, lambda: s.search_batch(batch, 10).collect())
    assert {r["query_id"] for r in rows} == set(batch) and jobs == 0


def test_other_shapes_and_large_queries_stay_on_spark(spark, searchers, monkeypatch):
    s = searchers[("composite", "lucene")]
    live = sorted(r["docid"] for r in s.docmap.select("docid").collect())
    rows, jobs = _jobs(spark, lambda: _rows(s.search(MatchAllDocsQuery(), 5)))
    assert jobs > 0 and rows == [(d, 1.0, i + 1) for i, d in enumerate(live[:5])]
    prefix = PrefixQuery("tig")
    rows, jobs = _jobs(spark, lambda: _rows(s.search(prefix, 5)))
    matched = sorted(r["docid"] for r in s.score_df(prefix).collect())
    assert jobs > 0 and rows == [(d, 1.0, i + 1) for i, d in enumerate(matched[:5])]
    # a seekable query above the bound runs on Spark, with the same rows
    q = QUERIES["nested"]
    seek = _rows(s.search(q, 10))
    monkeypatch.setattr(engine, "_SEEK_MAX_ENTRIES", 1)
    rows, jobs = _jobs(spark, lambda: _rows(s.search(q, 10)))
    assert jobs > 0 and rows == seek


def test_explain_deleted_doc_launches_no_job(spark, searchers):
    s = searchers[("composite", "lucene")]
    assert 7 in s._dead  # the fixture's first delete op tombstones docid 7
    ex, jobs = _jobs(spark, lambda: s.explain(QUERIES["term"], 7))
    assert jobs == 0 and ex["value"] == 0.0 and "deleted" in ex["description"]


def test_explain_launches_no_job(spark, searchers):
    """explain reads a term's posting entry on the driver, for text, extra
    text and keyword fields alike, so a term or a boolean of terms
    explains without a Spark job, to the doc's search score."""
    text, title, kind = T("data"), T("index", field="title"), T("k1", field="kind")
    queries = [text, title, kind, BooleanQuery.build(must=[text, kind], should=[title])]
    for mode in MODES:
        s = searchers[("composite", mode)]
        hits = s.search(BooleanQuery.build(must=[text, title, kind]), 1).collect()
        assert hits, mode
        doc = hits[0]["docid"]
        assert doc not in s._dead
        for q in queries:
            ex, jobs = _jobs(spark, lambda: s.explain(q, doc))
            score = {r["docid"]: r["score"] for r in s.search(q, 1000).collect()}[doc]
            assert jobs == 0 and ex["value"] == score, (mode, q)


def test_spark_path_schema_same_for_keyword_and_text_terms(searchers):
    """On the Spark path a keyword term and a text term return the same
    result schema, nullability flags included: both score through the
    term kernel."""
    for mode in MODES:
        s = searchers[("base", mode)]
        with _on_spark():
            keyword = s.search(QUERIES["term_keyword"], 10).schema
            text = s.search(QUERIES["term"], 10).schema
        assert keyword == text, mode


# ------------------------------------------------- randomized query trees #
# terms of the composite index (text, title and keyword keys), one absent
_TERMS = ["heart", "human", "tiger", "data", "search", "index", "crawl", "web", "zzabsent"]
_BIGRAMS = [("human", "heart"), ("tiger", "burning"), ("burning", "bright"), ("forest", "night")]
_boost = st.sampled_from([1.0, 0.5, 2.0])


def _term():
    text = st.builds(T, st.sampled_from(_TERMS), _boost)
    title = st.builds(lambda t: T(t, field="title"), st.sampled_from(_TERMS))
    kind = st.builds(lambda t: T(t, field="kind"), st.sampled_from(["k0", "k1", "k2"]))
    return st.one_of(text, title, kind)


def _phrase():
    pair = st.one_of(
        st.sampled_from(_BIGRAMS), st.tuples(st.sampled_from(_TERMS), st.sampled_from(_TERMS))
    )
    return st.builds(PhraseQuery, pair, st.integers(0, 2), _boost)


def _tree():
    leaf = st.one_of(_term(), _phrase())

    def boolean(children):
        clause = st.builds(BooleanClause, children, st.sampled_from(list(Occur)))
        return st.builds(
            BooleanQuery, st.lists(clause, min_size=1, max_size=4).map(tuple),
            st.integers(0, 2), _boost,
        )

    return st.recursive(leaf, boolean, max_leaves=6)


@settings(
    max_examples=25, derandomize=True, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(q=_tree(), mode=st.sampled_from(MODES))
def test_random_trees_match_spark_path(searchers, q, mode):
    _compare(searchers[("composite", mode)], q)
