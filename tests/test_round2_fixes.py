"""Round-2 robustness fixes (ADVICE.md items):

- minhash LSH survives documents with <3 tokens (and matches the oracle)
- ASCII-restricted analyzer gives exact tokenizer parity with the oracle's
  [^a-z0-9]+ split on non-ASCII input
- phrase boost is applied in exact_int scoring mode

The storage crash-injection tests of this round live in test_storage.py.
"""

import os

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from lucenenet_spark.index import IndexConfig, build_index
from lucenenet_spark.query.ast import PhraseQuery
from lucenenet_spark.query.engine import Searcher

CFG = IndexConfig(num_partitions=4, bucket_width=2, flush_docs=64)


def _write_documents(spark, tmp_path, rows):
    """rows: list of (doc_id, text). Writes a documents.parquet an entry
    query can consume and registers it in a fresh DuckDB connection."""
    sf_dir = str(tmp_path)
    df = spark.createDataFrame(
        [(i, t, "en", "src") for i, t in rows],
        "doc_id long, text string, lang string, source string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(sf_dir, "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'"
    )
    return sf_dir, con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def test_minhash_short_docs(spark, tmp_path):
    rows = [
        (0, ""),                                   # empty
        (1, "one"),                                # 1 token
        (2, "two tokens"),                         # 2 tokens
        (3, "exactly three tokens"),               # 3 tokens -> 1 shingle
        (4, "the quick brown fox jumps over it"),  # normal
        (5, "the quick brown fox jumps over it"),  # near-dup of 4
    ]
    sf_dir, con = _write_documents(spark, tmp_path, rows)
    sdf = entrymod.q_dd_minhash_lsh(spark, sf_dir).toPandas()
    odf = con.execute(entrymod.oracle_sql()["dd_minhash_lsh"]).df()
    pd.testing.assert_frame_equal(_canon(sdf), _canon(odf))
    assert {(4, 5)} <= set(zip(sdf["a"], sdf["b"]))


def test_ascii_tokenizer_parity_non_ascii(spark, tmp_path):
    rows = [
        (0, "café touché résumé"),      # accented letters: oracle splits on them
        (1, "naïve 数学 データ spark"),   # CJK + accented
        (2, "plain ascii data here"),
        (3, "Ωmega σigma 42x"),
    ]
    sf_dir, con = _write_documents(spark, tmp_path, rows)
    # term dictionary compares EVERY term the two sides produce
    sdf = entrymod.q_ft_term_dictionary(spark, sf_dir).toPandas()
    odf = con.execute(entrymod.oracle_sql()["ft_term_dictionary"]).df()
    pd.testing.assert_frame_equal(_canon(sdf), _canon(odf))
    # regression detail: "café" must tokenize as caf + (split on é), not café
    assert "caf" in set(sdf["term"]) and "café" not in set(sdf["term"])


def test_phrase_boost_applied_in_exact_int_mode(spark, tmp_path):
    out = str(tmp_path / "idx")
    pages = spark.createDataFrame(
        [
            ("p://1", "the data engine runs the data engine fast"),
            ("p://2", "a data engine"),
            ("p://3", "engine data only reversed here"),
            ("p://4", "unrelated words entirely"),
        ],
        "url string, text string",
    )
    build_index(
        spark, pages, out,
        IndexConfig(num_partitions=2, flush_docs=64, stop_filter=False),
        overwrite=True,
    )
    s = Searcher(spark, out, scoring="exact_int")
    rows1 = s.score_df(PhraseQuery(("data", "engine"))).collect()
    assert len(rows1) == 2
    rows3 = {
        r["docid"]: r["score"]
        for r in s.score_df(PhraseQuery(("data", "engine"), boost=3.0)).collect()
    }
    for r in rows1:
        assert abs(rows3[r["docid"]] - 3 * r["score"]) <= 3  # floor rounding
        assert rows3[r["docid"]] > r["score"]


def test_cjk_tokenizer_classes_and_arrow_parity():
    """UAX#29 CJK classes (StandardTokenizer.cs:84-102): Han/Hiragana are
    single-char tokens, Katakana runs are their own tokens (never joined to
    adjacent Latin), and the Arrow pipeline matches the Python regex."""
    import pyarrow as pa

    from lucenenet_spark.analysis.analyzer import StandardAnalyzer, analyze_flat_arrow

    an = StandardAnalyzer(stop_words=frozenset())
    cases = [
        "数学とデータ12abc Science",
        "日本語のテキスト解析",
        "カタカナrun42続くmixed",
        "한글테스트 hangul joins latin한글",
        "plain ascii 123 only",
        "",
    ]
    assert an.tokenize(cases[0]) == ["数", "学", "と", "データ", "12abc", "science"]
    assert an.tokenize(cases[2]) == ["カタカナ", "run42", "続", "く", "mixed"]
    # arrow path == python path (tokens, doc order, positions)
    flat, _, doc_idx, positions, doclens = analyze_flat_arrow(
        pa.array(cases), an, encode=False
    )
    toks = flat.to_pylist()
    got = [[] for _ in cases]
    for t, d in zip(toks, doc_idx):
        got[d].append(t)
    for i, c in enumerate(cases):
        assert got[i] == an.tokenize(c), c
        assert doclens[i] == len(an.tokenize(c))
