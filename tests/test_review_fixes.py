"""Round-3 review fixes, pinned:

1. post-compaction append/delete survive the compaction roll-forward
   (tests/test_storage.py::test_append_and_delete_after_compaction_survive_gc)
2. rewrite(): single-clause BooleanQuery unwrap folds the group boost into
   the inner clause (BooleanQuery.cs:541-546 clone.Boost *= Boost)
3. _wand_shape: a boosted disjunction falls back to the unpruned path
   (WAND sums raw term scores and cannot apply a group boost)
4. search CLI parses with the index's recorded analyzer (covered by code:
   scripts/search.py passes s.analyzer; exercised via stored-config test)
5. ddl_names: top-level comma split (parameterized types)
6. Simple/Stop letter runs exclude Nl/No on BOTH paths (reference
   Char.IsLetter = category L only)
7. compact/append/stream with config=None inherit the base's recorded
   config (an english index stays english through maintenance)
8. parser ISO timestamp range bounds are tz-aware UTC instants
9. arrow fast path: tokenize() overrides auto-drop to the generic path
"""

import datetime as dt

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from lucenenet_spark.analysis import SimpleAnalyzer, StopAnalyzer
from lucenenet_spark.analysis.analyzer import (
    Analyzed,
    StandardAnalyzer,
    analyze_flat_arrow,
    arrow_fast_path_for,
)
from lucenenet_spark.data.pages import pages_spark_df
from lucenenet_spark.index import IndexConfig, build_index, compact_index
from lucenenet_spark.index.builder import append_index, ddl_names, stored_config
from lucenenet_spark.query import parse_query
from lucenenet_spark.query.ast import (
    BooleanQuery,
    NumericRangeQuery,
    TermQuery,
    rewrite,
)
from lucenenet_spark.query.engine import Searcher


def _unwrap(q):
    return q.clauses[0].query if isinstance(q, BooleanQuery) else q


def test_group_boost_folds_into_unwrapped_clause():
    q = rewrite(parse_query("(tiger)^3 OR cat"))
    boosts = {c.query.term: c.query.boost for c in q.clauses}
    assert boosts["tiger"] == 3.0 and boosts["cat"] == 1.0
    q2 = rewrite(parse_query("((tiger))^2"))
    assert isinstance(q2, TermQuery) and q2.boost == 2.0
    # boost composes multiplicatively through nesting
    q3 = rewrite(parse_query("((tiger^2))^3"))
    assert isinstance(q3, TermQuery) and q3.boost == 6.0


def test_parser_iso_timestamp_bounds_are_utc_instants():
    nr = _unwrap(parse_query("warc_ts:[2020-01-01 TO 2020-01-02T06:30]"))
    assert isinstance(nr, NumericRangeQuery)
    assert nr.lower == dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc)
    assert nr.upper == dt.datetime(2020, 1, 2, 6, 30, tzinfo=dt.timezone.utc)
    nr2 = _unwrap(parse_query("doclen:[30 TO 80]"))
    assert nr2.lower == 30 and nr2.upper == 80


def test_ddl_names_top_level_commas_only():
    assert ddl_names("price decimal(10,2), lang string") == ["price", "lang"]
    assert ddl_names("m map<string,int>, s struct<a:int,b:string>, x long") == [
        "m", "s", "x",
    ]
    assert ddl_names("warc_ts timestamp") == ["warc_ts"]
    assert ddl_names("") == []


@pytest.mark.parametrize("cls", [SimpleAnalyzer, StopAnalyzer])
def test_letter_runs_exclude_number_letters_both_paths(cls):
    az = cls()
    # Ⅻ (Nl) and ① (No) split runs on the row path AND the Arrow path,
    # matching re2 [^\p{L}]+ and the reference's Char.IsLetter
    assert az.tokenize("abcⅫdef ①x") == ["abc", "def", "x"]
    codes, uniq, di, po, _ = analyze_flat_arrow(pa.array(["abcⅫdef ①x"]), az)
    assert sorted(uniq[c] for c in codes) == ["abc", "def", "x"]


def test_tokenize_override_drops_to_generic_path():
    class Weird(StandardAnalyzer):
        def tokenize(self, text):
            return [text] if text else []

        def analyze(self, text):
            t = self.tokenize(text)
            return Analyzed(t, list(range(len(t))))

    w = Weird(stop_words=frozenset())
    assert w.arrow_fast_path and not arrow_fast_path_for(w)
    codes, uniq, di, po, _ = analyze_flat_arrow(pa.array(["Hello World"]), w)
    assert [uniq[c] for c in codes] == ["Hello World"]

    class Pack(StandardAnalyzer):  # term-filter-only subclass keeps the C++ path
        def term_filter_unique(self, u):
            return u

    assert arrow_fast_path_for(Pack())


def test_wand_ignores_boosted_group_and_matches_unpruned(spark, tmp_path, wand_runs):
    out = str(tmp_path / "wandidx")
    cfg = IndexConfig(num_partitions=4, bucket_width=2, flush_docs=64)
    build_index(spark, pages_spark_df(spark, 300, seed=42), out, cfg)
    s = Searcher(spark, out)  # lucene float32 scoring
    q = parse_query("(tiger OR heart)^2")
    assert s._wand_shape(rewrite(q)) is None  # boosted group: no pruning
    a = [(r.docid, float(r.score)) for r in s.search(q, 10, wand=True).collect()]
    b = [(r.docid, float(r.score)) for r in s.search(q, 10, wand=False).collect()]
    assert a == b and a
    assert wand_runs == []
    # unboosted disjunction still WAND-eligible
    assert s._wand_shape(rewrite(parse_query("tiger OR heart"))) is not None


def test_maintenance_inherits_stored_config(spark, tmp_path):
    """compact/append with config=None must keep the base's chain: an
    english (Porter) index stays english — 'running' still hits the
    stemmed postings after appends and a compaction."""
    out = str(tmp_path / "enidx")
    cfg = IndexConfig(
        num_partitions=4, bucket_width=2, flush_docs=64, analyzer="english"
    )
    build_index(spark, pages_spark_df(spark, 150, seed=42), out, cfg)
    assert stored_config(out).analyzer == "english"
    extra = pages_spark_df(spark, 40, seed=31, include_blake=False)
    append_index(spark, extra, out)  # config=None -> inherited
    s0 = Searcher(spark, out)
    n_before = s0.count(parse_query("burning", analyzer=s0.analyzer))
    assert n_before > 0
    compact_index(spark, out)  # config=None -> inherited
    s = Searcher(spark, out)
    from lucenenet_spark.analysis import EnglishAnalyzer

    assert isinstance(s.analyzer, EnglishAnalyzer)
    # surface-form variants hit the same stemmed postings before and after
    # the maintenance cycle — the recall a default-config compaction
    # used to destroy
    assert s.count(parse_query("burning", analyzer=s.analyzer)) == n_before
    assert s.count(parse_query("burns", analyzer=s.analyzer)) == n_before
