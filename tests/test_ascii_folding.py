"""ASCIIFoldingAnalyzer (Analysis/Miscellaneous/ASCIIFoldingFilter.cs
analogue): golden fold cases, Arrow fast-path parity, and an end-to-end
accent-folded index whose queries match the numpy oracle running the same
chain — accented and unaccented surface forms land on the same term.
"""

import numpy as np
import pyarrow as pa

from lucenenet_spark.analysis import ASCIIFoldingAnalyzer
from lucenenet_spark.analysis.analyzer import analyze_flat_arrow
from lucenenet_spark.analysis.folding import fold
from lucenenet_spark.index import IndexConfig, build_index
from lucenenet_spark.query.ast import TermQuery
from lucenenet_spark.query.engine import Searcher
from lucenenet_spark.scoring.oracle import OracleIndex

# accent/ligature/fullwidth folds the reference table produces (inputs
# lowercase — the chain lowercases before folding)
GOLDEN = {
    "café": "cafe",
    "naïve": "naive",
    "zürich": "zurich",
    "résumé": "resume",
    "señor": "senor",
    "crème": "creme",
    "brûlée": "brulee",
    "groß": "gross",
    "œuvre": "oeuvre",
    "smørrebrød": "smorrebrod",
    "þing": "thing",
    "łódź": "lodz",
    "ﬁne": "fine",  # fi ligature
    "ｆｕｌｌｗｉｄｔｈ": "fullwidth",
    "ｏｋ１２３": "ok123",
    "ascii": "ascii",  # untouched
}

# scripts with no ASCII fold pass through unchanged
PASSTHROUGH = ["日本語", "русский", "中文", "한국어"]


def test_golden_folds():
    bad = {w: (fold(w), e) for w, e in GOLDEN.items() if fold(w) != e}
    assert not bad, bad


def test_unmapped_scripts_pass_through():
    for w in PASSTHROUGH:
        assert fold(w) == w


def test_fold_unique_skips_keyword_terms():
    arr = np.array(["café", "lang:café", "plain"], dtype=object)
    assert list(ASCIIFoldingAnalyzer().term_filter_unique(arr)) == ["cafe", "lang:café", "plain"]


def test_arrow_fast_path_parity():
    az = ASCIIFoldingAnalyzer()
    assert az.arrow_fast_path
    texts = [
        "Café crème at the Zürich résumé workshop",
        "naïve ﬁne œuvre groß",
        "日本語のテスト with русский mix",
        "",
        None,
    ]
    codes, uniq, di, po, _ = analyze_flat_arrow(pa.array(texts, pa.string()), az)
    fast = sorted((uniq[c], int(d), int(p)) for c, d, p in zip(codes, di, po))
    gt = sorted(
        (tok, i, p)
        for i, t in enumerate(texts)
        for tok, p in zip(*az.analyze(t or ""))
    )
    assert fast == gt


def test_folded_index_merges_accented_variants(spark, tmp_path):
    out = str(tmp_path / "foldidx")
    cfg = IndexConfig(
        num_partitions=4, bucket_width=2, flush_docs=64, analyzer="ascii_folding"
    )
    docs = [
        ("u0", "the café serves crème brûlée"),
        ("u1", "a cafe with plain creme brulee"),
        ("u2", "zürich and münchen trains"),
        ("u3", "nothing accented here at all"),
    ]
    pages = spark.createDataFrame(docs, "url string, text string")
    build_index(spark, pages, out, cfg)
    s = Searcher(spark, out)
    assert isinstance(s.analyzer, ASCIIFoldingAnalyzer)

    # accented surface forms are folded in the dictionary
    terms = {r.term for r in s.termstats.select("term").collect()}
    assert "cafe" in terms and "café" not in terms
    assert "brulee" in terms and "zurich" in terms

    # both spellings of the query hit BOTH docs (query-side analysis runs
    # the same chain via parse/analyze)
    hits = {int(r["docid"]) for r in s.search(TermQuery("cafe"), 10).collect()}
    assert len(hits) == 2

    # rank identity vs the numpy oracle running the SAME chain
    dm = s.docmap.select("docid", "url").toPandas()
    url2id = dict(zip(dm["url"], dm["docid"]))
    oracle = OracleIndex(
        [(int(url2id[u]), t) for u, t in docs],
        analyzer=ASCIIFoldingAnalyzer(),
    )
    for qt in ["cafe", "brulee", "zurich", "trains"]:
        got = [
            (int(r["docid"]), np.float32(r["score"]))
            for r in s.search(TermQuery(qt), 10).collect()
        ]
        exp = [(int(d), np.float32(v)) for d, v in oracle.search(TermQuery(qt), k=10)]
        assert got == exp, qt
