"""Pluggable similarities (Searcher.similarity_score_df): Classic TF-IDF
(TFIDFSimilarity.cs:33 / DefaultSimilarity.cs:30) and LM Dirichlet
(LMDirichletSimilarity.cs:48, per-term contribution clamped at zero as
LMDirichletSimilarity.cs:77 does) over the shared postings — engine vs an
independent numpy recomputation from the raw texts, integer-exact."""

import math

import pytest

from lucenenet_spark.analysis.analyzer import StandardAnalyzer
from lucenenet_spark.index import IndexConfig, build_index
from lucenenet_spark.query.engine import Searcher

TEXTS = [
    "spark table group table table vector",
    "group vector vector stream stream stream query",
    "table spark spark spark group",
    "query query stream vector table group table",
    "vector",
    "stream query table",
]

CFG = IndexConfig(
    num_partitions=4, bucket_width=2, flush_docs=4,
    external_docids=True, stop_filter=False,
)


@pytest.fixture(scope="module")
def searcher(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sim") / "idx")
    docs = spark.createDataFrame(
        [(i, f"doc://{i}", t) for i, t in enumerate(TEXTS)],
        "docid long, url string, text string",
    )
    build_index(spark, docs, out, CFG, overwrite=True)
    return Searcher(spark, out)


def _corpus():
    an = StandardAnalyzer(frozenset(), 255, False)
    toks = [an.analyze(t).tokens for t in TEXTS]
    n = len(toks)
    total = sum(len(t) for t in toks)
    return toks, n, total


def _classic_expected(terms):
    toks, n, _ = _corpus()
    nq = len(terms)
    out = {}
    for d, tt in enumerate(toks):
        dl = len(tt)
        ssum, matched = 0, 0
        for t in terms:
            tf = tt.count(t)
            if tf == 0:
                continue
            df = sum(1 for x in toks if t in x)
            idf = 1.0 + math.log(n / (df + 1.0))
            ssum += int(
                math.floor(math.sqrt(tf) * (idf * idf)
                           / math.sqrt(dl) * 1e6 + 0.5)
            )
            matched += 1
        if matched:
            out[d] = int(math.floor(ssum * matched / nq))
    return out


def _lm_expected(terms, mu=2000.0):
    toks, n, total = _corpus()
    out = {}
    for d, tt in enumerate(toks):
        dl = len(tt)
        ssum, matched = 0, 0
        for t in terms:
            tf = tt.count(t)
            if tf == 0:
                continue
            ttf = sum(x.count(t) for x in toks)
            p = ttf / float(total)
            s = math.log(1.0 + tf / (mu * p)) + math.log(mu / (dl + mu))
            ssum += int(math.floor(max(s, 0.0) * 1e6 + 0.5))
            matched += 1
        if matched:
            out[d] = ssum
    return out


def test_classic_matches_numpy(searcher):
    terms = ["table", "group", "vector"]
    got = {
        int(r["docid"]): int(r["score"])
        for r in searcher.similarity_score_df(terms, "classic").collect()
    }
    assert got == _classic_expected(terms)


def test_lm_dirichlet_matches_numpy(searcher):
    terms = ["query", "stream"]
    got = {
        int(r["docid"]): int(r["score"])
        for r in searcher.similarity_score_df(terms, "lm_dirichlet").collect()
    }
    assert got == _lm_expected(terms)


def test_lm_dirichlet_clamps_negative_contribution(searcher):
    """A common term in a long document: "table" (ttf 7 of 29 tokens)
    once in the 5-token doc 2 gives ln(1 + 1/(2000*7/29)) +
    ln(2000/2005) < 0 unclamped; the reference clamps it to 0."""
    toks, _, total = _corpus()
    p = sum(x.count("table") for x in toks) / float(total)
    raw = math.log(1.0 + 1 / (2000.0 * p)) + math.log(2000.0 / (len(toks[2]) + 2000.0))
    assert toks[2].count("table") == 1 and raw < 0
    got = {
        int(r["docid"]): int(r["score"])
        for r in searcher.similarity_score_df(["table"], "lm_dirichlet").collect()
    }
    assert got[2] == 0
    assert got == _lm_expected(["table"])


def _jm_expected(terms, lam=0.7):
    toks, n, total = _corpus()
    out = {}
    for d, tt in enumerate(toks):
        dl = len(tt)
        ssum = 0
        for t in terms:
            tf = tt.count(t)
            if tf == 0:
                continue
            ttf = sum(x.count(t) for x in toks)
            lp = lam * (ttf / float(total))
            s = math.log(1.0 + ((1.0 - lam) * tf / dl) / lp)
            ssum += int(math.floor(s * 1e6 + 0.5))
        if ssum:
            out[d] = ssum
    return out


def test_lm_jm_matches_numpy(searcher):
    terms = ["query", "stream"]
    got = {
        int(r["docid"]): int(r["score"])
        for r in searcher.similarity_score_df(
            terms, "lm_jelinek_mercer"
        ).collect()
    }
    assert got == _jm_expected(terms)


def _dfr_expected(terms):
    toks, n, total = _corpus()
    avgdl = total / float(n)
    out = {}
    for d, tt in enumerate(toks):
        dl = float(len(tt))
        ssum = 0
        for t in terms:
            tf = tt.count(t)
            if tf == 0:
                continue
            df = sum(1 for x in toks if t in x)
            ttf = float(sum(x.count(t) for x in toks))
            N = float(n)
            ne = N * (1.0 - math.pow((N - 1.0) / N, ttf))
            bw = math.log2((N + 1.0) / (ne + 0.5))
            tfn = tf * math.log2(1.0 + avgdl / dl)
            s = (tfn * bw) * ((ttf + 2.0) / ((df + 1.0) * (tfn + 1.0)))
            ssum += int(math.floor(s * 1e6 + 0.5))
        if ssum:
            out[d] = ssum
    return out


def test_dfr_ineb2_matches_numpy(searcher):
    terms = ["table", "stream"]
    got = {
        int(r["docid"]): int(r["score"])
        for r in searcher.similarity_score_df(terms, "dfr_ine_b2").collect()
    }
    assert got == _dfr_expected(terms)


def test_unknown_similarity_raises(searcher):
    with pytest.raises(ValueError):
        searcher.similarity_score_df(["table"], "dfr_gl1")


def _ib_expected(terms):
    toks, n, total = _corpus()
    avgdl = total / float(n)
    out = {}
    for d, tt in enumerate(toks):
        dl = float(len(tt))
        ssum = 0
        for t in terms:
            tf = tt.count(t)
            if tf == 0:
                continue
            df = sum(1 for x in toks if t in x)
            lam = (df + 1.0) / (float(n) + 1.0)
            tfn = tf * math.log2(1.0 + avgdl / dl)
            s = -math.log(lam / (tfn + lam))
            ssum += int(math.floor(s * 1e6 + 0.5))
        if ssum:
            out[d] = ssum
    return out


def test_ib_ll_matches_numpy(searcher):
    terms = ["vector", "spark"]
    got = {
        int(r["docid"]): int(r["score"])
        for r in searcher.similarity_score_df(terms, "ib_ll_d2").collect()
    }
    assert got == _ib_expected(terms)


def test_auto_stop_terms(searcher):
    # QueryAutoStopWordAnalyzer analogue: df-derived query stopwords.
    # TEXTS dfs: table=4/6, vector=4/6, query=3/6, spark=2/6.
    stops = searcher.auto_stop_terms(0.5)   # thr = 3.0 docs
    assert "table" in stops and "vector" in stops
    assert "query" not in stops and "spark" not in stops
    # threshold above every df -> nothing stops
    assert searcher.auto_stop_terms(0.9) == set()


def test_unknown_terms_empty(searcher):
    assert searcher.similarity_score_df(["zzz"], "classic").count() == 0
