"""In-suite insurance for the driver correctness gate: a representative
subset of __spark_entry__ queries vs their DuckDB oracles at sf0.001.
(The full sweep of all 124 registry entries is scripts/check_entry.py /
the driver's CORRECTNESS_r{N}.json.)"""

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

SUBSET = [
    "ft_term_topk",      # BM25 scoring end-to-end through the real index
    "ft_bool_msm",       # union + minShouldMatch
    "ft_phrase",         # positional intersection
    "ft_term_dictionary",  # whole-index df/ttf integrity
    "dd_minhash_lsh",    # cross-engine md5 minhash banding
    "ann_cosine_topk",   # fold-ordered double dot product
    "txt_fingerprint",   # rolling-hash fold
    "ft_lucene_rank",    # float32 battery vs the DuckDB REAL oracle (r5)
    # the exact_int kernels behind the shared decode / scorer / flat keys
    "ft_span_first",
    "ft_span_not",
    "ft_span_nested",
    "ft_multi_phrase",
    "ft_fuzzy_scored",
    "ft_prefix_scored_field",
    "ft_field_keyword",
    "ft_span_field",
    # the index fixtures beside the main index: a surface-routed and a
    # re-spelled routed index, the CJK and Thai chains, an analysis module
    "ft_lang_router",
    "ft_lang_router_multi",
    "ft_cjk_bigram",
    "ft_thai_tcc",
    "ft_shingle",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", SUBSET)
def test_entry_query_matches_oracle(spark, duck, name):
    sdf = entrymod.queries()[name](spark, SF_DIR).toPandas()
    odf = duck.execute(entrymod.oracle_sql()[name]).df()
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf)
    pd.testing.assert_frame_equal(canon(sdf), canon(odf))


# r5: every registry entry carries a DuckDB oracle — ft_lucene_rank's
# float32 battery included (DuckDB REAL arithmetic is bit-faithful
# float32; see __spark_entry__._lucene32_sql). The set is kept (empty)
# so a future genuinely-non-SQL entry has a documented escape hatch.
SELF_ORACLED: set = set()


def test_every_query_has_oracle():
    qs = entrymod.queries()
    oq = entrymod.oracle_sql()
    missing = [n for n in qs if n not in oq and n not in SELF_ORACLED]
    assert not missing, f"queries without oracle SQL: {missing}"


def test_lucene_rank_gate_runs(spark):
    """The embedded float32 oracle gate: 7 query shapes x top-k (r4 adds
    the damped sloppy-phrase, ordered-span, and nested-span shapes), each
    verified (plain + WAND) inside the entry — any divergence raises
    there. Shapes may match fewer than 10 docs (the nested chain is
    selective), so ranks are checked as a dense 1..n prefix."""
    df = entrymod.q_ft_lucene_rank(spark, SF_DIR)
    rows = df.collect()
    by_shape = {}
    for r in rows:
        by_shape.setdefault(r["shape"], []).append(r["rank"])
    assert set(by_shape) == {
        "disj", "conj", "phrase", "msm", "sloppy", "span", "span_nested"
    }
    for shape, ranks in by_shape.items():
        assert 1 <= len(ranks) <= 10, shape
        assert ranks == list(range(1, len(ranks) + 1)), shape


def test_route_guard_catches_a_wrong_image(spark, monkeypatch):
    """The shared route guard still guards: a wrong stem in one route map
    fails the routed entry, naming the language and the word."""
    routes = entrymod._ROUTED["langroute"].routes
    monkeypatch.setitem(routes["fr"].route_map, "table", "tablx")
    with pytest.raises(AssertionError, match="fr:table -> "):
        entrymod.q_ft_lang_router(spark, SF_DIR)


def test_thai_guard_catches_a_wrong_expansion(spark, monkeypatch):
    monkeypatch.setitem(entrymod._THAI_EXPANSIONS, "table", "ตารา")
    with pytest.raises(AssertionError, match="table -> "):
        entrymod.q_ft_thai_tcc(spark, SF_DIR)
