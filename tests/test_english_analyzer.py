"""EnglishAnalyzer (Porter stemmer) — the first language pack.

- golden test of the stemmer against the published algorithm's own example
  pairs (Porter 1980; the reference PorterStemmer.cs implements the same
  algorithm)
- Arrow fast-path parity: analyze_flat_arrow == per-row analyze() for the
  English/Simple/Stop chains (the row-at-a-time fallback stays COLD)
- end-to-end: an analyzer="english" index matches the numpy oracle built
  with the same chain, and surface-form variants hit the same stem
"""

import numpy as np
import pyarrow as pa
import pytest

from lucenenet_spark.analysis import (
    EnglishAnalyzer,
    SimpleAnalyzer,
    StandardAnalyzer,
    StopAnalyzer,
)
from lucenenet_spark.analysis.analyzer import analyze_flat_arrow
from lucenenet_spark.analysis.porter import porter_stem
from lucenenet_spark.data.pages import pages_spark_df
from lucenenet_spark.index import IndexConfig, build_index
from lucenenet_spark.query.ast import TermQuery
from lucenenet_spark.query.engine import Searcher
from lucenenet_spark.scoring.oracle import OracleIndex

# Porter 1980's published example pairs (the algorithm description's own
# step-by-step examples — the reference stemmer produces the same outputs)
GOLDEN = {
    "caresses": "caress", "ponies": "poni", "ties": "ti", "caress": "caress",
    "cats": "cat", "feed": "feed", "agreed": "agre", "plastered": "plaster",
    "bled": "bled", "motoring": "motor", "sing": "sing", "sized": "size",
    "hopping": "hop", "tanned": "tan", "falling": "fall", "hissing": "hiss",
    "fizzed": "fizz", "failing": "fail", "filing": "file", "happy": "happi",
    "sky": "sky", "relational": "relat", "conditional": "condit",
    "rational": "ration", "valenci": "valenc", "hesitanci": "hesit",
    "digitizer": "digit", "conformabli": "conform", "radicalli": "radic",
    "differentli": "differ", "vileli": "vile", "analogousli": "analog",
    "vietnamization": "vietnam", "predication": "predic", "operator": "oper",
    "feudalism": "feudal", "decisiveness": "decis", "hopefulness": "hope",
    "callousness": "callous", "formaliti": "formal", "sensitiviti": "sensit",
    "sensibiliti": "sensibl", "triplicate": "triplic", "formative": "form",
    "formalize": "formal", "electriciti": "electr", "electrical": "electr",
    "hopeful": "hope", "goodness": "good", "revival": "reviv",
    "allowance": "allow", "inference": "infer", "airliner": "airlin",
    "gyroscopic": "gyroscop", "adjustable": "adjust", "defensible": "defens",
    "irritant": "irrit", "replacement": "replac", "adjustment": "adjust",
    "dependent": "depend", "adoption": "adopt", "communism": "commun",
    "activate": "activ", "angulariti": "angular", "homologous": "homolog",
    "effective": "effect", "bowdlerize": "bowdler", "probate": "probat",
    "rate": "rate", "cease": "ceas", "controll": "control", "roll": "roll",
}


def test_porter_golden_pairs():
    bad = {w: (porter_stem(w), e) for w, e in GOLDEN.items() if porter_stem(w) != e}
    assert not bad, bad


def test_stem_unique_skips_non_alpha():
    arr = np.array(["running", "lang:en", "abc123", "日本"], dtype=object)
    out = list(EnglishAnalyzer().term_filter_unique(arr))
    assert out == ["run", "lang:en", "abc123", "日本"]


@pytest.mark.parametrize("cls", [EnglishAnalyzer, SimpleAnalyzer, StopAnalyzer])
def test_arrow_fast_path_parity(cls):
    az = cls()
    assert az.arrow_fast_path
    texts = [
        "The ponies were motoring happily; conditional relational 123 xyz9!",
        "Hopping troubled caresses electrical goodness", "", None,
        "日本語のテスト katakana カタカナ mix",
    ]
    codes, uniq, di, po, _ = analyze_flat_arrow(pa.array(texts, pa.string()), az)
    fast = sorted((uniq[c], int(d), int(p)) for c, d, p in zip(codes, di, po))
    gt = sorted(
        (tok, i, p)
        for i, t in enumerate(texts)
        for tok, p in zip(*az.analyze(t or ""))
    )
    assert fast == gt


class _ToySuffixAnalyzer(StandardAnalyzer):
    """User language pack: ONLY term_filter_unique overridden (the
    documented hook) — must inherit arrow_fast_path and run the C++ split,
    with the filter applied per unique term at encode time."""

    def term_filter_unique(self, uniques):
        return np.array(
            [t[:-1] if t.endswith("s") and len(t) > 3 else t for t in uniques],
            dtype=object,
        )

    def analyze(self, text):
        from lucenenet_spark.analysis.analyzer import Analyzed

        a = super().analyze(text)
        return Analyzed(
            [t[:-1] if t.endswith("s") and len(t) > 3 else t for t in a.tokens],
            a.positions,
        )


def test_custom_subclass_inherits_fast_path():
    az = _ToySuffixAnalyzer()
    assert az.arrow_fast_path  # capability flag, not a shipped-class whitelist
    texts = [
        "tigers and documents run fast",
        None,
        "glass pass mass a was",  # 'was' is a stopword; 'pass'/'mass' stem
    ]
    codes, uniq, di, po, _ = analyze_flat_arrow(pa.array(texts, pa.string()), az)
    fast = sorted((uniq[c], int(d), int(p)) for c, d, p in zip(codes, di, po))
    gt = sorted(
        (tok, i, p)
        for i, t in enumerate(texts)
        for tok, p in zip(*az.analyze(t or ""))
    )
    assert fast == gt


def test_english_index_matches_oracle_and_merges_variants(spark, tmp_path):
    out = str(tmp_path / "enidx")
    cfg = IndexConfig(num_partitions=4, bucket_width=2, flush_docs=64, analyzer="english")
    pages = pages_spark_df(spark, 150, seed=42)
    build_index(spark, pages, out, cfg)
    s = Searcher(spark, out)
    assert isinstance(s.analyzer, EnglishAnalyzer)

    # surface variants are gone from the dictionary, stems present
    terms = {r.term for r in s.termstats.select("term").collect()}
    assert "burn" in terms and "burning" not in terms

    # rank identity vs the numpy oracle running the SAME chain
    pdf = pages.select("url", "text").toPandas()
    dm = s.docmap.select("docid", "url").toPandas()
    url2id = dict(zip(dm["url"], dm["docid"]))
    oracle = OracleIndex(
        [(int(url2id[u]), t) for u, t in zip(pdf["url"], pdf["text"])],
        analyzer=EnglishAnalyzer(),
    )
    for qt in ["burn", "tiger", "heart"]:
        got = [
            (int(r["docid"]), np.float32(r["score"]))
            for r in s.search(TermQuery(qt), 10).collect()
        ]
        exp = [(int(d), np.float32(v)) for d, v in oracle.search(TermQuery(qt), k=10)]
        assert got == exp, qt
