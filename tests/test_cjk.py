"""CJK bigram pack goldens — behaviors mirrored from the reference's
TestCJKAnalyzer.cs / TestCJKBigramFilter.cs / TestCJKWidthFilter.cs
(Cjk/CJKAnalyzer.cs:40, CJKBigramFilter.cs, CJKWidthFilter.cs)."""

import pytest

from lucenenet_spark.analysis.analyzer import analyzer_for
from lucenenet_spark.analysis.cjk import (
    CJK_STOP_WORDS,
    CJKAnalyzer,
    cjk_bigrams,
    cjk_width_fold,
)


def _an(stop=False):
    return analyzer_for(
        "cjk",
        stop_words=CJK_STOP_WORDS if stop else frozenset(),
        max_token_length=255,
        ascii_only=False,
    )


# --------------------------------------------------------------------- #
# bigram goldens
# --------------------------------------------------------------------- #


def test_japanese_sentence_bigrams():
    # TestCJKAnalyzer.cs: han + hiragana accumulate into ONE run
    toks = _an().analyze_query("多くの学生が試験に落ちた")
    assert toks == [
        "多く", "くの", "の学", "学生", "生が",
        "が試", "試験", "験に", "に落", "落ち", "ちた",
    ]


def test_han_digits_run():
    toks = _an().analyze_query("一二三四五六七八九十")
    assert toks == ["一二", "二三", "三四", "四五", "五六", "六七", "七八", "八九", "九十"]


def test_lone_ideograph_unigram():
    # outputUnigrams=false still emits a LONE codepoint as a unigram
    assert _an().analyze_query("一") == ["一"]
    assert _an().analyze_query("一 dog 二") == ["一", "dog", "二"]


def test_whitespace_does_not_break_runs():
    # CJKBigramFilter keys on token-stream adjacency (posInc 1), not text
    # offsets: "一 二" bigrams exactly like "一二"
    assert _an().analyze_query("一 二") == ["一二"]
    assert _an().analyze_query("一二") == ["一二"]


def test_latin_breaks_runs():
    assert _an().analyze_query("一二 some 三四") == ["一二", "some", "三四"]


def test_katakana_run_codepoint_bigrams():
    # the tokenizer emits katakana RUNS as one token; the filter still
    # bigrams CODEPOINTS (アニメ -> アニ, ニメ)
    assert _an().analyze_query("アニメ") == ["アニ", "ニメ"]


def test_katakana_joins_adjacent_han():
    # cross-class bigram: the buffer accumulates any flagged type
    assert _an().analyze_query("漢アニ") == ["漢ア", "アニ"]


def test_hangul_bigrams():
    assert _an().analyze_query("한국어") == ["한국", "국어"]


def test_mixed_latin_cjk_positions():
    a = _an().analyze("spark 分散索引 engine")
    assert a.tokens == ["spark", "分散", "散索", "索引", "engine"]
    assert a.positions == [0, 1, 2, 3, 4]


def test_stop_filter_after_bigrams():
    a = _an(stop=True).analyze("the 一二")
    assert a.tokens == ["一二"]
    assert a.positions == [1]  # 'the' held position 0 pre-stop


# --------------------------------------------------------------------- #
# width fold goldens (CJKWidthFilter.cs)
# --------------------------------------------------------------------- #


def test_fullwidth_ascii_folds():
    assert _an().analyze_query("Ｔｅｓｔ　１２３４") == ["test", "1234"]


def test_halfwidth_katakana_folds():
    assert cjk_width_fold("ｱﾆﾒ") == "アニメ"
    assert _an().analyze_query("ｱﾆﾒ") == ["アニ", "ニメ"]


def test_halfwidth_voiced_mark_composes():
    assert cjk_width_fold("ｶﾞｷﾞ") == "ガギ"
    assert cjk_width_fold("ﾊﾟ") == "パ"
    assert _an().analyze_query("ｶﾞｷﾞ") == ["ガギ"]


def test_bigrams_pure_function():
    assert cjk_bigrams(["a", "一", "二", "b"]) == ["a", "一二", "b"]
    assert cjk_bigrams([]) == []
    assert cjk_bigrams(["only"]) == ["only"]


def test_generic_path_not_arrow():
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    assert not arrow_fast_path_for(_an())


# --------------------------------------------------------------------- #
# end-to-end: index + search CJK text through the real engine
# --------------------------------------------------------------------- #


@pytest.fixture(scope="module")
def cjk_index(spark, tmp_path_factory):
    import pandas as pd

    from lucenenet_spark.index import IndexConfig, build_index

    rows = [
        ("u0", "多くの学生が試験に落ちた"),
        ("u1", "分散索引 spark エンジン"),
        ("u2", "一"),
        ("u3", "学生 の 試験"),  # whitespace-separated: same bigrams as u0's span
        ("u4", "plain latin text only"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["url", "text"]))
    root = str(tmp_path_factory.mktemp("cjkidx") / "idx")
    build_index(
        spark, df, root,
        IndexConfig(num_partitions=2, bucket_width=2, analyzer="cjk",
                    stop_filter=False),
    )
    from lucenenet_spark.query.engine import Searcher

    return Searcher(spark, root)


def _urls(searcher, hits):
    by_id = {
        r["docid"]: r["url"]
        for r in searcher.docmap.select("docid", "url").collect()
    }
    return sorted(by_id[r["docid"]] for r in hits)


def test_cjk_index_term_search(cjk_index):
    from lucenenet_spark.query.ast import TermQuery

    assert _urls(cjk_index, cjk_index.search(TermQuery("学生"), k=10).collect()) == ["u0", "u3"]
    assert _urls(cjk_index, cjk_index.search(TermQuery("試験"), k=10).collect()) == ["u0", "u3"]
    assert _urls(cjk_index, cjk_index.search(TermQuery("一"), k=10).collect()) == ["u2"]


def test_cjk_index_phrase_over_bigrams(cjk_index):
    from lucenenet_spark.query.ast import PhraseQuery

    # consecutive bigrams 試験 験に only occur in the full sentence (u0)
    hits = cjk_index.search(PhraseQuery(("試験", "験に")), k=10).collect()
    assert _urls(cjk_index, hits) == ["u0"]


def test_cjk_query_side_analysis(cjk_index):
    # parse_query routes through the index's own chain: a raw CJK string
    # becomes a bigram term query
    q = cjk_index.parse("学生")
    assert _urls(cjk_index, cjk_index.search(q, k=10).collect()) == ["u0", "u3"]
