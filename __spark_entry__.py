"""Driver contract for the spark-graft builder (PySpark target).

Every entry in ``queries()`` is an implemented operator from SURVEY.md §2,
run by the driver at sf=0.01 against the matching ``oracle_sql()`` DuckDB
query (row-count + schema + order-insensitive value-hash).

Determinism contract shared by the Spark path and the SQL oracle:

- tokenization: lowercase, split on ``[^a-z0-9]+``, drop empties — the index
  is built with the ASCII-restricted analyzer (``IndexConfig.ascii_tokens``,
  no length cap), whose [a-z0-9]+ runs equal this split on ANY input, ASCII
  or not (see lucenenet_spark/analysis/analyzer.py TOKEN_RE_PYTHON_ASCII).
- BM25 scores are computed in IEEE-754 double with a FIXED op order
  ``((idf*(k1+1))*tf) / (tf + k1*((1-b) + (b*dl)/avgdl))`` and scaled to
  integer micro-units ``floor(score*1e6 + 0.5)`` — integers survive any
  aggregation order and hash identically across engines (the float32
  Lucene-rank-identity path is the engine default and is covered by the
  golden tests in tests/; see Searcher(scoring=...) in query/engine.py).
- cross-engine hashes are md5 (identical hex in Spark and DuckDB); all
  ratio outputs are integer-scaled with ``floor(x*1e6 + 0.5)``.

The full-text queries run against a REAL index built by
lucenenet_spark.index.builder (mapInPandas inversion -> salted term-range
merge shuffle -> block rows) over the ``documents`` table, with
caller-supplied docids (= doc_id) so the oracle can name them.
"""

from __future__ import annotations

import dataclasses
import hashlib
import math
import numpy as np
import os
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lucenenet_spark.index.builder import build_index
from lucenenet_spark.index.config import IndexConfig
from lucenenet_spark.query.ast import (
    BooleanQuery,
    DisjunctionMaxQuery,
    FilteredQuery,
    FuzzyQuery,
    MatchAllDocsQuery,
    MultiPhraseQuery,
    NumericRangeQuery,
    PhraseQuery,
    PrefixQuery,
    SpanFirstQuery,
    SpanNearQuery,
    SpanNotQuery,
    SpanOrQuery,
    TermQuery,
    TermRangeQuery,
    WildcardQuery,
)
from lucenenet_spark.query.engine import Searcher

# --------------------------------------------------------------------------- #
# index build + searcher cache (per sf_dir, resumable on disk)
# --------------------------------------------------------------------------- #

_INDEX_ROOT = "/tmp/lucenenet_spark_entry_index"
#: every open registry searcher: _index_searcher's, keyed by (sf_dir
#: basename, index tag), and ft_lucene_rank's float32 one
_SEARCHERS: dict = {}

_ENTRY_CONFIG = IndexConfig(
    num_partitions=16,
    stop_filter=False,        # oracle SQL has no stop list
    external_docids=True,     # docid == documents.doc_id, nameable in SQL
    index_positions=True,
    flush_docs=20_000,
    # exact tokenizer parity with the oracle's [^a-z0-9]+ split on ANY input
    # (including non-ASCII letters/digits, which the default Unicode
    # tokenizer would keep but the oracle regex splits on), and no token
    # length cap (the oracle has none)
    ascii_tokens=True,
    max_token_length=1_000_000,
    # StringField analogue: lang + source indexed as keyword fields
    # (namespaced "<field>:<value>" postings; see IndexConfig.keyword_fields)
    keyword_fields=("lang", "source"),
    # doc-values metadata (Index/DocValues.cs analogue): warc_ts rides the
    # docmap for pushed-down range filters + sort (the input_hint's crawl
    # timestamp; synthesized deterministically from doc_id below)
    docvalue_fields=("warc_ts",),
    # multi-field TextField analogue: a second ANALYZED field (title =
    # first 80 chars of text, deterministic so the oracle reproduces it)
    # with its OWN norms/avgdl — see IndexConfig.text_fields
    text_fields=("title",),
)

# 2020-01-01T00:00:00Z — warc_ts = epoch0 + (doc_id % 100000) minutes, a pure
# function of doc_id so the DuckDB oracle reproduces it exactly (epoch
# arithmetic on BIGINT, immune to session-timezone differences)
_TS_EPOCH0 = 1_577_836_800


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _table_rows(sf_dir: str, name: str) -> int:
    """Row count from Parquet FOOTER metadata (O(footer bytes), no data
    scan, no Spark job) — the local stand-in for Iceberg snapshot/manifest
    row counts: a 100 TB pipeline reads |table| from the catalog instead
    of burning a full corpus pass on SELECT count(*). Scale-aware shape
    parameters (minhash band rows, embedding band bits, IVF cell count)
    take n from here."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows


def _entry_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table shaped for the index build: caller-assigned
    docids + the keyword-field and doc-value columns of _ENTRY_CONFIG."""
    return _docs(spark, sf_dir).select(
        F.col("doc_id").alias("docid"),
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        "text",
        "lang",
        "source",
        F.timestamp_seconds(
            F.lit(_TS_EPOCH0) + F.pmod(F.col("doc_id"), F.lit(100_000)) * F.lit(60)
        ).alias("warc_ts"),
        F.substring(F.col("text"), 1, 80).alias("title"),
    )


def _index_searcher(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    cfg: IndexConfig,
    pages: Callable[[SparkSession, str], DataFrame],
) -> Searcher:
    """The registry's one index fixture: the index ``tag`` over
    ``sf_dir``, built from ``pages(spark, sf_dir)`` under ``cfg`` on first
    use (resuming a build already on disk) and opened in exact_int
    scoring. The main index (tag "") lives at ``_INDEX_ROOT/<key>``, the
    sorted one at ``_INDEX_ROOT_sorted/<key>``, every other index at
    ``_INDEX_ROOT/<key>_<tag>``."""
    key = os.path.basename(os.path.normpath(sf_dir)) or "default"
    if (key, tag) not in _SEARCHERS:
        if tag == "sorted":
            idx = os.path.join(_INDEX_ROOT + "_sorted", key)
        else:
            idx = os.path.join(_INDEX_ROOT, f"{key}_{tag}" if tag else key)
        build_index(spark, pages(spark, sf_dir), idx, cfg)  # resumes
        _SEARCHERS[key, tag] = Searcher(spark, idx, scoring="exact_int")
    return _SEARCHERS[key, tag]


def _searcher(spark: SparkSession, sf_dir: str) -> Searcher:
    return _index_searcher(spark, sf_dir, "", _ENTRY_CONFIG, _entry_pages)


def _sorted_searcher(spark: SparkSession, sf_dir: str) -> Searcher:
    """A SECOND index over the same corpus built with
    ``IndexConfig.sort_field='warc_ts'`` (IndexWriterConfig index sort /
    SortingMergePolicy analogue): docids assigned in global (warc_ts, url)
    order, so a warc_ts range filter selects one contiguous docid interval
    and posting blocks outside it are pruned by skip metadata before
    scoring (see Searcher._docid_bounds_for_filter)."""
    cfg = dataclasses.replace(
        _ENTRY_CONFIG, external_docids=False, sort_field="warc_ts"
    )
    return _index_searcher(spark, sf_dir, "sorted", cfg, _entry_pages)


def _text_pages(docs: DataFrame, text_expr: str, *cols: str) -> DataFrame:
    """``docs`` shaped for a single-text-field build: caller-assigned
    docids, their urls, the SQL expression ``text_expr`` as the text and
    the extra columns ``cols``."""
    return docs.select(
        F.col("doc_id").alias("docid"),
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        F.expr(text_expr).alias("text"),
        *cols,
    )


def _text_config(**changes) -> IndexConfig:
    """_ENTRY_CONFIG without its keyword, doc-value and extra text fields
    (a single-text-field index), plus ``changes``."""
    return dataclasses.replace(
        _ENTRY_CONFIG, keyword_fields=(), docvalue_fields=(), text_fields=(),
        **changes,
    )


def _topk_df(s: Searcher, q, k: int = 10) -> DataFrame:
    top = s.search(q, k)
    return top.select(
        F.col("docid").alias("doc_id"),
        F.col("score").cast("long").alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


# --------------------------------------------------------------------------- #
# shared tokenizer expressions (Spark SQL + DuckDB dialects, same semantics)
# --------------------------------------------------------------------------- #

_TOKS_SPARK = "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"
_TOKS_DUCK = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

# DuckDB CTE prefix shared by all full-text oracles
_SQL_PREFIX = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS_DUCK}) AS term FROM documents
),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS maxdoc,
              (SELECT count(*) FROM tok)::DOUBLE AS sum_ttf)
"""


def _term_ctes(terms: list[str]) -> str:
    """Per-term tf + integer-micro-score CTEs t{i}/s{i}, op order mirroring
    Searcher._decode_score exactly (see its docstring)."""
    parts = []
    for i, t in enumerate(terms):
        parts.append(
            f"t{i} AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM tok "
            f"WHERE term = '{t}' GROUP BY doc_id)"
        )
        parts.append(
            f"s{i} AS (SELECT t.doc_id, CAST(floor("
            f"(ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t{i}) + 0.5)"
            f"/((SELECT count(*) FROM t{i}) + 0.5)) * 2.2 * t.tf)"
            f" / (t.tf + 1.2*(0.25 + (0.75*d.dl)/(st.sum_ttf/st.maxdoc)))"
            f" * 1000000.0 + 0.5) AS BIGINT) AS s "
            f"FROM t{i} t JOIN dl d USING (doc_id) CROSS JOIN st)"
        )
    return ", " + ",\n".join(parts)


_TOPK_TAIL = (
    "SELECT doc_id, score, CAST(row_number() OVER "
    "(ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank "
    "FROM scored ORDER BY score DESC, doc_id ASC LIMIT {k}"
)


# --------------------------------------------------------------------------- #
# deterministic LSH hyperplanes (ann_lsh_bucket) — pure function of (j, d)
# --------------------------------------------------------------------------- #

_N_PLANES = 8
_DIM = 64


def _plane_weight(j: int, d: int) -> float:
    h = int(hashlib.md5(f"{j}_{d}".encode()).hexdigest()[:8], 16)
    return (h % 2000001 - 1000000) / 1e6


_PLANES = [[_plane_weight(j, d) for d in range(_DIM)] for j in range(_N_PLANES)]


# --------------------------------------------------------------------------- #
# query implementations
# --------------------------------------------------------------------------- #


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 TermQuery over an index built end-to-end from
    /root/testdata/sf0.001 (TermScorer analogue, TermScorer.cs:63-69)."""
    return q_ft_term_topk(spark, "/root/testdata/sf0.001")


# ---- full-text search operators (index-backed) ---------------------------- #


def q_ft_term_topk(spark, sf_dir):
    """TermQuery/TermScorer + TopScoreDocCollector (TermScorer.cs:63-69,
    TopScoreDocCollector.cs:63-72): posting seek -> vectorized BM25 ->
    distributed top-k with (score desc, docid asc) tie-break."""
    return _topk_df(_searcher(spark, sf_dir), TermQuery("data"), 10)


def q_ft_bool_and(spark, sf_dir):
    """BooleanQuery MUST+MUST = ConjunctionScorer leapfrog as inner joins
    (ConjunctionScorer.cs:69-117)."""
    q = BooleanQuery.build(must=[TermQuery("table"), TermQuery("group")])
    return _topk_df(_searcher(spark, sf_dir), q, 10)


def q_ft_bool_or(spark, sf_dir):
    """DisjunctionSumScorer = unionAll + groupBy(docid).sum
    (DisjunctionSumScorer.cs:26,50)."""
    q = BooleanQuery.build(
        should=[TermQuery("spark"), TermQuery("merge"), TermQuery("vector")]
    )
    return _topk_df(_searcher(spark, sf_dir), q, 10)


def q_ft_bool_not(spark, sf_dir):
    """ReqExclScorer = left_anti join (ReqExclScorer.cs:29)."""
    q = BooleanQuery.build(must=[TermQuery("table")], must_not=[TermQuery("window")])
    return _topk_df(_searcher(spark, sf_dir), q, 10)


def q_ft_bool_msm(spark, sf_dir):
    """MinShouldMatchSumScorer = union + count(clause) >= mm filter
    (MinShouldMatchSumScorer.cs:38-107)."""
    q = BooleanQuery.build(
        should=[TermQuery("spark"), TermQuery("query"), TermQuery("merge")],
        minimum_should_match=2,
    )
    return _topk_df(_searcher(spark, sf_dir), q, 10)


def q_ft_req_opt(spark, sf_dir):
    """ReqOptSumScorer = left_outer join + coalesce (ReqOptSumScorer.cs:30)."""
    q = BooleanQuery.build(must=[TermQuery("data")], should=[TermQuery("spark")])
    return _topk_df(_searcher(spark, sf_dir), q, 10)


def q_ft_phrase(spark, sf_dir):
    """ExactPhraseScorer: positional postings join + vectorized position
    intersection (ExactPhraseScorer.cs:26-99)."""
    return _topk_df(_searcher(spark, sf_dir), PhraseQuery(("part", "filter")), 10)


def q_ft_phrase_sloppy(spark, sf_dir):
    """SloppyPhraseScorer (SloppyPhraseScorer.cs PhraseFreq): "part
    filter"~2 with the reference's damped freq — each anchor contributes
    sloppyFreq(matchLength) = 1/(1+matchLength) (BM25Similarity.cs:74),
    matchLength = adjusted-window size of the nearest-candidate match,
    match iff matchLength <= slop. Same positional-join physical plan as
    the exact phrase; the kernel sums integer micro-unit slop factors so
    the score stays bit-reproducible against the SQL oracle."""
    q = PhraseQuery(("part", "filter"), slop=2)
    return _topk_df(_searcher(spark, sf_dir), q, 10)


# --------------------------------------------------------------------------- #
# language-routed indexes: per-DOCUMENT chain dispatch (IndexConfig
# lang_field/lang_chains) into one term-sorted postings table per index.
# The corpus has a FIXED 31-word vocabulary, so every route's analysis is
# embedded in the DuckDB oracles as a finite map (DuckDB has no stemmers
# offline); _route_guard proves each embedded map against the REAL chain
# on every run, and the stemmers themselves are pinned by the per-pack
# golden suites (tests/test_french.py, tests/test_russian.py, ...).
# --------------------------------------------------------------------------- #

_CORPUS_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


class _Route(NamedTuple):
    """One language of a routed index."""

    #: the analyzer_for chain its documents run
    chain: str
    #: vocabulary word -> INDEXED term, the chain's image of word_map's
    #: native form (identity entries omitted). For the Latin-script
    #: stemmers that also rewrite unmapped ascii surfaces the map is the
    #: COMPLETE chain image over the vocabulary.
    route_map: dict[str, str]
    #: vocabulary word -> the real inflected native form its documents are
    #: re-spelled into (the corpus carries no native-script strata; empty
    #: for a route that stems the ascii surface itself)
    word_map: dict[str, str] = {}
    #: vocabulary word whose indexed image the entry queries
    probe: str = "table"


class _RoutedIndex(NamedTuple):
    """One routed index: its language column, the SQL expression (Spark
    SQL == DuckDB dialect) that derives that column from ``documents``,
    and its routes in chain-dispatch order."""

    column: str
    relabel: str
    routes: dict[str, _Route]


def _relabeled(column: str, first_src: int, routes: dict[str, _Route]):
    """A routed index over a deterministic relabeling of the corpus: one
    source stratum per route (src<first_src> onward), the rest 'en'."""
    relabel = "CASE " + " ".join(
        f"WHEN source = 'src{first_src + i}' THEN '{lang}'"
        for i, lang in enumerate(routes)
    ) + " ELSE 'en' END"
    return _RoutedIndex(column, relabel, routes)


#: index tag -> routed index. The first two route the surface vocabulary
#: (same tokenizer and keyword/doc-value fields as the main index); the
#: other four re-spell their routed strata word-by-word into real native
#: words, so their stemmers do genuine morphological work on Cyrillic,
#: Arabic-script, Devanagari, Greek, Armenian and accented Latin text.
_ROUTED: dict[str, _RoutedIndex] = {
    "langroute": _RoutedIndex("lang", "lang", {
        # Analysis/Fr/FrenchAnalyzer.cs:187-212, FrenchLightStemmer.cs:69-350
        "fr": _Route("french", {
            "customer": "custom", "filter": "filt", "merge": "merg",
            "order": "ord", "small": "smal", "table": "tabl",
            "value": "valu", "vector": "vecto",
        }),
        # normalization FSM + UniNE stem
        "de": _Route("german", {
            "customer": "custom", "filter": "filt", "line": "lin",
            "merge": "merg", "order": "ord", "table": "tabl", "value": "valu",
        }),
        # Es/SpanishLightStemmer.cs:63-100
        "es": _Route("spanish", {"merge": "merg", "table": "tabl", "value": "valu"}),
        # Cjk/CJKAnalyzer.cs:40. The zh stratum holds ascii tokens, which
        # the CJK bigram filter passes through untouched (an empty map the
        # guard proves); real ideographic bigramming is ft_cjk_bigram's
        "zh": _Route("cjk", {}),
    }),
    # the corpus carries no pt/nl stratum: three sources relabeled each
    "langroute2": _RoutedIndex(
        "lang2",
        "CASE WHEN source IN ('src0','src1','src2') THEN 'pt' "
        "WHEN source IN ('src3','src4','src5') THEN 'nl' ELSE lang END",
        {
            # Pt/PortugueseAnalyzer.cs:119 (UniNE/RSLP light rules)
            "pt": _Route("portuguese", {"merge": "merg", "table": "tabl", "value": "valu"}),
            # Nl/DutchAnalyzer.cs:47 (Snowball Dutch)
            "nl": _Route("dutch", {"line": "lin", "merge": "merg", "table": "tabl"}),
        },
    ),
    # two sources each, disjoint from the pt/nl relabeling's src0-5
    "langroute3": _RoutedIndex(
        "lang3",
        "CASE WHEN source IN ('src12','src13') THEN 'ru' "
        "WHEN source IN ('src14','src15') THEN 'sv' "
        "WHEN source IN ('src16','src17') THEN 'ar' "
        "WHEN source IN ('src18','src19') THEN 'id' ELSE 'en' END",
        {
            "ru": _Route(  # Ru/RussianAnalyzer.cs:48
                "russian",
                {"table": "стол", "row": "книг", "value": "красив", "merge": "нов",
                 "line": "лин", "data": "лошад", "filter": "длин", "order": "осен"},
                {"table": "столами", "row": "книгами", "value": "красивый",
                 "merge": "новая", "line": "линия", "data": "лошадь",
                 "filter": "длинный", "order": "осенью"},
            ),
            "sv": _Route(  # Sv/SwedishAnalyzer.cs:120
                "swedish",
                {
                    # native-form stems
                    "table": "flick", "row": "bil", "value": "fri", "merge": "stark",
                    "line": "rör", "data": "hus", "filter": "läs", "order": "gård",
                    # the Swedish light stemmer also rewrites these ascii surfaces
                    "column": "colum", "customer": "custom", "fast": "fas",
                    "join": "joi", "part": "par", "scan": "sca", "sort": "sor",
                    "vector": "vect",
                },
                {"table": "flickorna", "row": "bilarna", "value": "friheterna",
                 "merge": "starkare", "line": "rörelse", "data": "huset",
                 "filter": "läsande", "order": "gårdarna"},
            ),
            "ar": _Route(  # Ar/ArabicAnalyzer.cs:43
                "arabic",
                {"table": "كتاب", "row": "مكتب", "value": "مسلم", "merge": "مدرس",
                 "line": "عرب", "data": "قلم", "filter": "بيت", "order": "مستشف"},
                {"table": "الكتاب", "row": "مكتبات", "value": "مسلمون",
                 "merge": "المدرسة", "line": "العربية", "data": "بالقلم",
                 "filter": "للبيت", "order": "مستشفى"},
            ),
            "id": _Route(  # Id/IndonesianAnalyzer.cs:43
                "indonesian",
                {"table": "baca", "row": "buku", "value": "ambil", "merge": "baik",
                 "line": "ajar", "data": "guna", "filter": "bija", "order": "jalan"},
                {"table": "membaca", "row": "bukunya", "value": "mengambil",
                 "merge": "terbaik", "line": "ajaran", "data": "gunakan",
                 "filter": "kebijakan", "order": "berjalan"},
            ),
        },
    ),
    # five Latin-script morphologies plus Cyrillic, Arabic-script and
    # Devanagari; the Unicode tokenizer's combining-mark Extend class keeps
    # the Devanagari matras inside tokens
    "langroute4": _relabeled("lang4", 0, {
        "fi": _Route(  # Fi/FinnishAnalyzer.cs:120
            "finnish",
            {"column": "colum", "data": "dat", "fast": "fas", "join": "joi",
             "line": "lin", "merge": "metsä", "part": "par", "row": "kirja",
             "scan": "sca", "sort": "sor", "table": "talo", "value": "auto"},
            {"table": "taloissa", "row": "kirjassa",
             "value": "autollansa", "merge": "metsässä"},
        ),
        "hu": _Route(  # Hu/HungarianAnalyzer.cs:120
            "hungarian",
            {"fast": "fas", "merge": "város", "part": "par", "row": "könyv",
             "sort": "sor", "spark": "spar", "table": "ház", "value": "autó"},
            {"table": "házakat", "row": "könyveket",
             "value": "autóval", "merge": "városokban"},
        ),
        # da's 'table' image collides with no's, so both probe via 'row'
        "no": _Route(  # No/NorwegianAnalyzer.cs:120
            "norwegian",
            {"column": "colum", "customer": "custom", "data": "dat",
             "fast": "fas", "filter": "filt", "join": "joi", "line": "lin",
             "merge": "les", "order": "ord", "part": "par", "row": "bil",
             "scan": "sca", "sort": "sor", "table": "mulig", "value": "gård"},
            {"table": "mulighetene", "row": "bilene",
             "value": "gårdane", "merge": "lesende"},
            probe="row",
        ),
        "da": _Route(  # Da/DanishAnalyzer.cs:120
            "danish",
            {"customer": "custom", "filter": "filt", "line": "lin",
             "merge": "kat", "order": "ord", "row": "hund", "small": "smal",
             "table": "mulig", "value": "bøg"},
            {"table": "mulighederne", "row": "hundene",
             "value": "bøgerne", "merge": "kattene"},
            probe="row",
        ),
        "cs": _Route(  # Cz/CzechAnalyzer.cs:60
            "czech",
            {"data": "dat", "line": "lin", "merge": "matk", "query": "quer",
             "row": "student", "table": "žen", "value": "měst"},
            {"table": "ženami", "row": "studentovi",
             "value": "městech", "merge": "matčin"},
        ),
        "bg": _Route(  # Bg/BulgarianAnalyzer.cs:55
            "bulgarian",
            {"merge": "мор", "row": "книг", "table": "град", "value": "студент"},
            {"table": "градовете", "row": "книгата",
             "value": "студентите", "merge": "морето"},
        ),
        "fa": _Route(  # Fa/PersianAnalyzer.cs:48
            "persian",
            {"merge": "موسی", "row": "مدرسه", "table": "کتاب", "value": "علی"},
            {"table": "كتاب", "row": "مدرسة", "value": "علي", "merge": "موسى"},
        ),
        "hi": _Route(  # Hi/HindiAnalyzer.cs:47
            "hindi",
            {"merge": "आदम", "row": "लडक", "table": "किताब", "value": "कर"},
            {"table": "किताबें", "row": "लड़कियाँ",
             "value": "करने", "merge": "आदमियों"},
        ),
    }),
    "langroute5": _relabeled("lang5", 8, {
        "el": _Route(  # El/GreekAnalyzer.cs:40
            "greek",
            {"merge": "ομορφ", "row": "βιβλι", "table": "ανθρωπ", "value": "θαλασσ"},
            {"table": "άνθρωπος", "row": "βιβλια",
             "value": "θαλασσες", "merge": "ομορφη"},
        ),
        "tr": _Route(  # Tr/TurkishAnalyzer.cs:43
            "turkish",
            {"data": "dat", "line": "lin", "merge": "göz", "row": "okul",
             "table": "kitap", "value": "araba"},
            {"table": "kitaplardan", "row": "okullarda",
             "value": "arabası", "merge": "gözler"},
        ),
        "ro": _Route(  # Ro/RomanianAnalyzer.cs:43
            "romanian",
            {"data": "dat", "line": "lin", "merge": "oraș", "row": "cas",
             "table": "băiat", "value": "timp"},
            {"table": "băiatului", "row": "casele",
             "value": "timpurile", "merge": "orașul"},
        ),
        "lv": _Route(  # Lv/LatvianAnalyzer.cs:47
            "latvian",
            {"data": "dat", "line": "lin", "merge": "zal", "row": "bērn",
             "table": "grāmat", "value": "skol"},
            {"table": "grāmatām", "row": "bērniem",
             "value": "skolās", "merge": "zaļais"},
        ),
    }),
    "langroute6": _relabeled("lang6", 12, {
        "ca": _Route(  # Ca/CatalanAnalyzer.cs:121
            "catalan",
            {"table": "forma", "row": "llibr", "value": "canc",
             "merge": "aix", "data": "dat", "line": "lin", "vector": "vect"},
            {"table": "formacions", "row": "llibres",
             "value": "cançons", "merge": "això"},
        ),
        "eu": _Route(  # Eu/BasqueAnalyzer.cs:40
            "basque",
            {"table": "etxe", "row": "liburu", "value": "gizon", "merge": "mendi"},
            {"table": "etxeak", "row": "liburuak",
             "value": "gizonarekin", "merge": "mendietan"},
        ),
        "hy": _Route(  # Hy/ArmenianAnalyzer.cs:40
            "armenian",
            {"table": "գրք", "row": "լեզու", "value": "տուն", "merge": "մարդիկ"},
            {"table": "գրքերը", "row": "լեզուներում",
             "value": "տունը", "merge": "մարդիկ"},
        ),
        "ga": _Route(  # Ga/IrishAnalyzer.cs:48
            "irish",
            {"table": "caird", "row": "ceist", "value": "fuinneog", "merge": "teach"},
            {"table": "gcairde", "row": "ceisteanna",
             "value": "bhfuinneog", "merge": "dteach"},
        ),
        "gl": _Route(  # Gl/GalicianMinimalStemmer.cs:25
            "galician",
            {"table": "canción", "row": "animal", "value": "papel", "merge": "flor"},
            {"table": "cancións", "row": "animais",
             "value": "papeis", "merge": "flores"},
        ),
        "br": _Route(  # Br/BrazilianAnalyzer.cs:43
            "brazilian",
            {"table": "coraca", "row": "livr", "value": "rapid",
             "merge": "bom", "data": "dat", "line": "lin"},
            {"table": "corações", "row": "livrinhos",
             "value": "rapidamente", "merge": "bons"},
        ),
    }),
}


def _word_map_case(var: str, word_map: dict[str, str]) -> str:
    """Shared CASE expression (Spark SQL == DuckDB dialect) rewriting a
    vocabulary token to its mapped form (identity outside the map)."""
    cases = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in word_map.items())
    return f"CASE {var} {cases} ELSE {var} END"


def _respell(word_map: dict[str, str]) -> str:
    """A document's text re-spelled word by word through ``word_map``
    (token count is preserved, so doclens/norms match the oracle's dl
    over the same stream)."""
    return (
        f"array_join(transform({_TOKS_SPARK}, "
        f"x -> {_word_map_case('x', word_map)}), ' ')"
    )


def _route_probes(tag: str) -> list[str]:
    """One indexed term per route of ``tag``: the image of its probe."""
    return [r.route_map[r.probe] for r in _ROUTED[tag].routes.values()]


def _routed_searcher(spark, sf_dir, tag: str) -> Searcher:
    """The routed index ``tag`` built from its _ROUTED row: documents
    whose language column names a route run that route's chain,
    everything else the default chain."""
    row = _ROUTED[tag]
    chains = tuple((lang, r.chain) for lang, r in row.routes.items())
    if any(r.word_map for r in row.routes.values()):
        # native-script text: the Unicode tokenizer, the text field only
        cfg = _text_config(
            lang_field=row.column, lang_chains=chains, ascii_tokens=False
        )
        arms = " ".join(
            f"WHEN '{lang}' THEN {_respell(r.word_map)}"
            for lang, r in row.routes.items()
        )

        def pages(spark, sf_dir):
            docs = _docs(spark, sf_dir).withColumn(row.column, F.expr(row.relabel))
            return _text_pages(
                docs, f"CASE {row.column} {arms} ELSE text END", row.column
            )
    else:
        cfg = dataclasses.replace(
            _ENTRY_CONFIG, lang_field=row.column, lang_chains=chains,
            text_fields=(),  # lang routing is incompatible with text_fields
        )

        def pages(spark, sf_dir):
            return _entry_pages(spark, sf_dir).withColumn(
                row.column, F.expr(row.relabel)
            )
    return _index_searcher(spark, sf_dir, tag, cfg, pages)


def _route_guard(spark, sf_dir, s: Searcher, tag: str) -> None:
    """Per-route vocabulary guard: for every surface token present in a
    route's documents, the route's REAL chain (``analyzer_for_lang``, the
    chain the build used) applied to the token's re-spelled form must give
    exactly the oracle's embedded image ``route_map.get(w, w)``. Checking
    each route on its own (not the union of all routes' images) keeps a
    wrong stem that happens to equal another language's image from
    passing; a token outside the fixed vocabulary fails too."""
    row = _ROUTED[tag]
    per_lang = (
        _docs(spark, sf_dir)
        .select(
            F.expr(row.relabel).alias("lang"),
            F.explode(F.array_distinct(F.expr(_TOKS_SPARK))).alias("w"),
        )
        .distinct()
        .collect()  # bounded: |langs| x the fixed 31-word corpus vocabulary
    )
    bad: list[str] = []
    for lang, w in per_lang:
        if w not in _CORPUS_VOCAB:
            bad.append(f"{lang}:{w} outside the fixed corpus vocabulary")
            continue
        route = row.routes.get(lang)
        if route is None:
            continue  # unrouted docs keep the default chain's surface form
        an = s.analyzer_for_lang(lang)
        toks = an.tokenize(route.word_map.get(w, w))
        rew = an.term_filter_unique(np.asarray(toks, dtype=object))
        got = [str(t) for t in (toks if rew is None else rew)]
        want = [route.route_map.get(w, w)]
        if got != want:
            bad.append(f"{lang}:{w} -> {got} but oracle embeds {want}")
    if bad:
        raise AssertionError(
            f"{'/'.join(row.routes)} router oracle mapping diverges from the "
            "real chains: " + "; ".join(sorted(bad)[:10])
        )


def _routed_topk(spark, sf_dir, tag: str, terms: list[str]) -> DataFrame:
    """Top-10 of a SHOULD disjunction of ``terms`` over the routed index
    ``tag``, after its route guard passed."""
    s = _routed_searcher(spark, sf_dir, tag)
    _route_guard(spark, sf_dir, s, tag)
    q = BooleanQuery.build(should=[TermQuery(t) for t in terms])
    return _topk_df(s, q, 10)


def q_ft_lang_router(spark, sf_dir):
    """Language-routed analysis — the per-DOCUMENT PerFieldAnalyzerWrapper
    analogue for multilingual corpora: lang='fr' documents are stemmed by
    the French light chain at index time, lang='de' by the German chain
    (normalization FSM + UniNE stem), lang='es' by the Spanish light
    chain, lang='zh' by the CJK chain, the rest keep the default chain,
    and query-side Searcher.analyzer_for_lang reproduces each chain.
    Query: a SHOULD disjunction of the shared stem 'tabl' (all three packs
    map 'table' there) and the surface 'table' — the stem hits only routed
    docs, the surface only unrouted ones, so rows verify both routing
    boundaries exactly. The DuckDB oracle embeds each route's image of the
    corpus's fixed 31-word vocabulary; the route guard proves it."""
    return _routed_topk(spark, sf_dir, "langroute", ["tabl", "table"])


def q_ft_lang_router_ptnl(spark, sf_dir):
    """Language routing over the r5 Portuguese + Dutch packs: pt docs are
    stemmed by the UniNE/RSLP light rules, nl docs by the published
    Snowball Dutch algorithm, at INDEX time via per-document chain
    dispatch over the derived lang2 column; the 2-term disjunction then
    matches stemmed and unstemmed strata with one postings seek each,
    after the same per-route guard as ft_lang_router."""
    return _routed_topk(spark, sf_dir, "langroute2", ["tabl", "table"])


def q_ft_lang_router_multi(spark, sf_dir):
    """Language routing across FOUR scripts/morphologies at once: ru docs
    (UniNE-family light stemmer over the published Snowball case-ending
    inventories), sv docs (UniNE-family light stemmer), ar docs (the
    published Larkey light10), id docs (the published Tala algorithm) —
    all stemmed at INDEX time via per-document chain dispatch into one
    term-sorted postings table. The query is a 4-term SHOULD disjunction
    of one stemmed term per language, so each term's postings seek hits
    exactly its routed stratum. The route guard proves every word map ∘
    chain composition against the embedded oracle image."""
    return _routed_topk(spark, sf_dir, "langroute3", _route_probes("langroute3"))


def q_ft_lang_router_xeu(spark, sf_dir):
    """Language routing across EIGHT packs / four scripts at once: the
    UniNE-family Finnish/Hungarian/Norwegian/Danish light stemmers, the
    published Dolamic-Savoy Czech and BulStem-family Bulgarian rules, the
    reference's stemmerless Persian normalization chain, and the
    published Ramanathan & Rao Hindi light stemmer — all dispatched
    per-document at INDEX time into one term-sorted postings table. The
    query is an 8-term SHOULD disjunction of one stemmed/normalized term
    per language (each term's postings seek hits exactly its routed
    stratum), after the route guard."""
    return _routed_topk(spark, sf_dir, "langroute4", _route_probes("langroute4"))


def q_ft_lang_router_misc(spark, sf_dir):
    """Language routing across the Greek (tonos-normalized light rules),
    Turkish (dotted/dotless-I repair + vowel-harmony light rules),
    Romanian (enclitic-article strip) and Latvian (published Kreslins
    inventory) packs — per-document chain dispatch into one term-sorted
    postings table, 4-term SHOULD disjunction of one stemmed term per
    language, route guard proving every word-map ∘ chain composition
    against the embedded oracle image per run."""
    return _routed_topk(spark, sf_dir, "langroute5", _route_probes("langroute5"))


def q_ft_lang_router_six(spark, sf_dir):
    """Language routing across the LAST six analysis-common packs —
    Catalan (light ending strip + fold), Basque (light de-agglutination),
    Armenian (light article/plural strip, Armenian-script-guarded), Irish
    (eclipsis/lenition demutation + plural strip), Galician (minimal
    plural-only RSLP rules) and Brazilian Portuguese (RSLP light steps,
    distinct from the UniNE ``portuguese`` pack) — dispatched
    per-document at INDEX time into one term-sorted postings table; with
    this entry every language directory under the reference's
    Analysis/ tree is covered by a routed pack. 6-term SHOULD
    disjunction of one stemmed term per language, after the route
    guard."""
    return _routed_topk(spark, sf_dir, "langroute6", _route_probes("langroute6"))


# fixed word -> ideograph map (one han codepoint per corpus-vocabulary
# word, assigned in vocabulary order from U+4E00): a deterministic,
# SQL-reproducible way to derive REAL CJK text from the synthetic corpus
_CJK_CHAR_MAP = {w: chr(0x4E00 + i) for i, w in enumerate(_CORPUS_VOCAB)}


def _cjk_map_case(var: str) -> str:
    """Shared CASE expression (Spark SQL == DuckDB dialect) mapping a
    vocabulary token to its han codepoint ('' for out-of-vocabulary)."""
    cases = " ".join(
        f"WHEN '{w}' THEN '{c}'" for w, c in _CJK_CHAR_MAP.items()
    )
    return f"CASE {var} {cases} ELSE '' END"


def q_ft_cjk_bigram(spark, sf_dir):
    """CJK bigram search end-to-end: the zh documents as han text (each
    vocabulary word -> one han codepoint, concatenated), indexed through
    the CJKAnalyzer chain (Cjk/CJKAnalyzer.cs:40, CJKBigramFilter.cs —
    analysis/cjk.py: width fold -> per-ideograph tokens -> overlapping
    codepoint bigrams -> BM25 postings), then a bigram TermQuery top-k.
    The DuckDB oracle reproduces the bigram token stream with
    substring-windowing over the same word->ideograph mapping and scores
    with the shared exact-int formula — so tokenization, bigramming,
    doclen/norms, df and ranking are all cross-checked."""
    s = _module_searcher(
        spark, sf_dir, "cjk", "cjk",
        f"array_join(transform({_TOKS_SPARK}, x -> {_cjk_map_case('x')}), '')",
        where="lang = 'zh'", ascii_tokens=False, max_token_length=255,
    )
    b1 = _CJK_CHAR_MAP["the"] + _CJK_CHAR_MAP["row"]
    b2 = _CJK_CHAR_MAP["table"] + _CJK_CHAR_MAP["table"]
    q = BooleanQuery.build(should=[TermQuery(b1), TermQuery(b2)])
    return _topk_df(s, q, 10)


# --------------------------------------------------------------------------- #
# Thai TCC bigrams (r5): the src18 stratum re-expressed as Thai text via
# a fixed word map; the chain segments each Thai word into its Character
# Clusters and emits cluster bigrams (analysis/thai.py — the published
# dictionary-free realization of Th/ThaiTokenizer.cs, whose platform
# dictionary BreakIterator does not exist in this stack). The oracle
# embeds each word's hand-traced cluster-bigram expansion as a literal;
# the per-word guard proves the embedded expansions against the REAL
# chain every run.
# --------------------------------------------------------------------------- #

_THAI_WORD_MAP: dict[str, str] = {
    "table": "ตาราง", "row": "แถว", "data": "ข้อมูล",
    "value": "ค่า", "fast": "เร็ว", "slow": "ช้า",
}

# hand-traced TCC cluster-bigram expansions (space-joined terms)
_THAI_EXPANSIONS: dict[str, str] = {
    "table": "ตารา ราง",        # ตา|รา|ง -> 2 bigrams
    "row": "แถว",               # แถ|ว -> 1 bigram
    "data": "ข้อ อมู มูล",      # ข้|อ|มู|ล -> 3 bigrams
    "value": "ค่า",             # one cluster -> unigram
    "fast": "เร็ว",             # เร็|ว -> 1 bigram
    "slow": "ช้า",              # one cluster -> unigram
}


def q_ft_thai_tcc(spark, sf_dir):
    """Thai search end-to-end without a dictionary: the src18 documents
    as mixed Thai/Latin text, indexed through the ThaiAnalyzer chain
    (standard tokenize -> TCC segmentation -> cluster bigrams -> BM25
    postings), then a 2-term SHOULD of cluster-bigram terms. The DuckDB
    oracle reproduces the token stream from embedded per-word expansions
    (unnest of the space-joined bigram literals), so segmentation,
    bigramming, doclen/norms, df and ranking are all cross-checked; the
    guard below proves each embedded expansion against the real chain."""
    s = _module_searcher(
        spark, sf_dir, "thai", "thai", _respell(_THAI_WORD_MAP),
        where="source = 'src18'", ascii_tokens=False, max_token_length=255,
    )
    from lucenenet_spark.analysis.analyzer import analyzer_for

    an = analyzer_for(
        "thai", stop_words=frozenset(),
        max_token_length=255, ascii_only=False,
    )
    bad: list[str] = []
    for w in _CORPUS_VOCAB:
        got = an.tokenize(_THAI_WORD_MAP.get(w, w))
        want = _THAI_EXPANSIONS.get(w, w).split(" ")
        if got != want:
            bad.append(f"{w} -> {got} but oracle embeds {want}")
    if bad:
        raise AssertionError(
            "Thai TCC oracle expansions diverge from the real chain: "
            + "; ".join(bad[:10])
        )
    q = BooleanQuery.build(
        should=[TermQuery("ตารา"), TermQuery("แถว")]
    )
    return _topk_df(s, q, 10)


# --------------------------------------------------------------------------- #
# r5 non-language analysis modules (analysis/modules.py): Shingle,
# CommonGrams, Reverse (leading wildcard), Pattern, PathHierarchy — one
# small dedicated index each, shared exact-int scoring, DuckDB oracles
# that rebuild the module's token stream with pure SQL.
# --------------------------------------------------------------------------- #


def _module_searcher(
    spark, sf_dir, tag: str, analyzer: str, text_expr: str,
    where: str = "true", **cfg,
):
    """A single-text-field index ``tag`` over the documents matching
    ``where``, whose text column is ``text_expr`` analyzed by
    ``analyzer``; ``cfg`` overrides further IndexConfig fields."""

    def pages(spark, sf_dir):
        return _text_pages(_docs(spark, sf_dir).filter(where), text_expr)

    return _index_searcher(
        spark, sf_dir, tag, _text_config(analyzer=analyzer, **cfg), pages
    )


def q_ft_shingle(spark, sf_dir):
    """Word shingles (Analysis/Shingle/ShingleFilter.cs:58, default
    maxShingleSize=2 + unigrams): the corpus indexed through the shingle
    chain — every adjacent word pair becomes a searchable ' '-joined
    term alongside the unigrams — then a 2-shingle SHOULD top-k. The
    DuckDB oracle rebuilds the exact stream (unigrams UNION windowed
    pairs) and scores with the shared exact-int formula, so the shingle
    emission, doclen (2n-1), df and ranking are all cross-checked."""
    s = _module_searcher(spark, sf_dir, "shingle", "shingle", "text")
    q = BooleanQuery.build(
        should=[TermQuery("hash join"), TermQuery("the row")]
    )
    return _topk_df(s, q, 10)


def q_ft_common_grams(spark, sf_dir):
    """CommonGrams (Analysis/CommonGrams/CommonGramsFilter.cs:44): '_'
    bigrams emitted only where either member is an English common word —
    the stopword-phrase indexing trick — plus the unigram stream. The
    probes are two common-word bigrams; the oracle rebuilds the stream
    with the same 33-word common set embedded as a SQL literal."""
    s = _module_searcher(
        spark, sf_dir, "commongrams", "common_grams", "text"
    )
    q = BooleanQuery.build(
        should=[TermQuery("the_table"), TermQuery("a_query")]
    )
    return _topk_df(s, q, 10)


def q_ft_leading_wildcard(spark, sf_dir):
    """Leading-wildcard search via the reversed-term index
    (Analysis/Reverse/ReverseStringFilter.cs:32 — its documented
    purpose): ``*er`` rewrites to PrefixQuery(reverse('er')) = 're'
    against an index whose every term is stored reversed, turning the
    worst-case full-dictionary wildcard scan into one prefix seek. The
    oracle filters the FORWARD token stream with LIKE '%er' — the two
    formulations must agree exactly."""
    s = _module_searcher(spark, sf_dir, "reverse", "reverse", "text")
    d = s.score_df(PrefixQuery("er"[::-1]))
    return d.select(
        F.col("docid").alias("doc_id"),
        F.col("score").cast("long").alias("score"),
    ).orderBy("doc_id")


def q_ft_pattern_analyzer(spark, sf_dir):
    """PatternAnalyzer (Analysis/Miscellaneous/PatternAnalyzer.cs:45):
    a configurable split regex carried in the chain name
    ('pattern:[^a-z]+' — letters only, digits become separators, unlike
    the [^a-z0-9]+ default). The text gets a deterministic ' id<d>'
    suffix so the two tokenizers observably differ ('id3' vs 'id'+'3'
    boundary); the oracle splits with the same regex via
    string_split_regex."""
    s = _module_searcher(
        spark, sf_dir, "pattern", "pattern:[^a-z]+",
        "concat(text, ' id', cast(doc_id % 10 as string))",
    )
    q = BooleanQuery.build(should=[TermQuery("id"), TermQuery("table")])
    return _topk_df(s, q, 10)


def q_ft_path_hierarchy(spark, sf_dir):
    """PathHierarchyTokenizer (Analysis/Path/PathHierarchyTokenizer.cs:38):
    each document's synthesized source/lang path emits every ancestor
    prefix as a term ('src5/en' -> 'src5', 'src5/en'), so "everything
    under src5" is ONE term seek — the index-side realization of the
    taxonomy facet's url tree. Probes mix a leaf and a level-1 node; the
    oracle unions the two prefix columns per doc."""
    s = _module_searcher(
        spark, sf_dir, "pathhier", "path_hierarchy",
        "concat(source, '/', lang)",
    )
    q = BooleanQuery.build(
        should=[TermQuery("src5/en"), TermQuery("src3")]
    )
    return _topk_df(s, q, 10)


def q_ft_classic_tfidf(spark, sf_dir):
    """Classic TF-IDF / DefaultSimilarity ranking
    (Similarities/TFIDFSimilarity.cs:33, DefaultSimilarity.cs:30) over
    the SAME postings the BM25 path reads — the Similarity extension
    point: per matched term sqrt(tf) * idf^2 / sqrt(dl) with
    idf = 1 + ln(N/(df+1)), coord = matched/|q| (queryNorm omitted:
    constant per query, rank-neutral — the documented divergence).
    Integer-exact: per-term micro floor before summation, coord as a
    rational floor; the oracle reproduces every step in SQL."""
    s = _searcher(spark, sf_dir)
    from lucenenet_spark.query.engine import _topk_with_rank

    d = s.similarity_score_df(["table", "group", "vector"], "classic")
    return _topk_with_rank(d, 10).select(
        F.col("docid").alias("doc_id"),
        F.col("score").cast("long").alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ft_lm_dirichlet(spark, sf_dir):
    """LM Dirichlet ranking (Similarities/LMDirichletSimilarity.cs:48,
    mu=2000): per matched term max(ln(1 + tf/(mu*p)) + ln(mu/(dl+mu)), 0)
    with the collection model p = ttf/sum_ttf — the second non-BM25
    similarity on the shared-postings extension point. Integer-exact
    per-term micro floor; SQL oracle mirrors the op order."""
    s = _searcher(spark, sf_dir)
    from lucenenet_spark.query.engine import _topk_with_rank

    d = s.similarity_score_df(["query", "stream"], "lm_dirichlet")
    return _topk_with_rank(d, 10).select(
        F.col("docid").alias("doc_id"),
        F.col("score").cast("long").alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ft_lm_jm(spark, sf_dir):
    """LM Jelinek-Mercer ranking (Similarities/
    LMJelinekMercerSimilarity.cs:40, lambda=0.7): per matched term
    ln(1 + ((1-lambda)*tf/dl) / (lambda*p)) — the third non-BM25
    similarity on the shared-postings extension point. The oracle
    spells (1.0 - 0.7) rather than 0.3 so both engines compute the
    identical IEEE double."""
    s = _searcher(spark, sf_dir)
    from lucenenet_spark.query.engine import _topk_with_rank

    d = s.similarity_score_df(["merge", "window"], "lm_jelinek_mercer")
    return _topk_with_rank(d, 10).select(
        F.col("docid").alias("doc_id"),
        F.col("score").cast("long").alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ft_dfr_ineb2(spark, sf_dir):
    """DFR I(ne)B2 ranking (Similarities/DFRSimilarity.cs:121 composed
    of BasicModelIne.cs + AfterEffectB.cs + NormalizationH2.cs, c=1):
    tfn = tf*log2(1 + avgdl/dl), ne = N*(1-((N-1)/N)^F), score = tfn *
    log2((N+1)/(ne+0.5)) * (F+2)/((df+1)*(tfn+1)) — the fourth
    similarity on the shared-postings extension point (intermediate
    float32 casts dropped for the integer-exact contract, documented).
    The oracle restates every factor, including ne's pow, in SQL."""
    s = _searcher(spark, sf_dir)
    from lucenenet_spark.query.engine import _topk_with_rank

    d = s.similarity_score_df(["filter", "batch"], "dfr_ine_b2")
    return _topk_with_rank(d, 10).select(
        F.col("docid").alias("doc_id"),
        F.col("score").cast("long").alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ft_percolate(spark, sf_dir):
    """Percolation / reverse search (Lucene.Net.Memory/MemoryIndex.cs:81
    — the stored-searches-over-streaming-docs pattern): six registered
    queries (term, AND, minimum-should-match, NOT, exact phrase, prefix)
    broadcast with the task closure and evaluate per document inside
    mapInPandas — zero shuffle, embarrassingly parallel over doc
    partitions, the MemoryIndex per-doc evaluation re-expressed at
    corpus scale. Output: every (doc_id, query_id) match pair. The
    DuckDB oracle restates each registered query as an independent SQL
    predicate over the same token stream."""
    from lucenenet_spark.analysis.analyzer import StandardAnalyzer
    from lucenenet_spark.query.percolate import percolate

    an = StandardAnalyzer(frozenset(), 1_000_000, ascii_only=True)
    regs = [
        ("q_term", TermQuery("vector")),
        ("q_and", BooleanQuery.build(
            must=[TermQuery("table"), TermQuery("group")])),
        ("q_msm", BooleanQuery.build(
            should=[TermQuery("spark"), TermQuery("merge"),
                    TermQuery("stream")],
            minimum_should_match=2)),
        ("q_not", BooleanQuery.build(
            must=[TermQuery("query")], must_not=[TermQuery("slow")])),
        ("q_phrase", PhraseQuery(("the", "row"))),
        ("q_prefix", PrefixQuery("wi")),
    ]
    return percolate(_docs(spark, sf_dir), regs, an).orderBy(
        "doc_id", "query_id"
    )


def q_ft_ib_ll(spark, sf_dir):
    """Information-Based IB LL-D-H2 ranking (Similarities/
    IBSimilarity.cs:113 composed of DistributionLL.cs + LambdaDF.cs +
    NormalizationH2.cs, c=1): lambda = (df+1)/(N+1), tfn =
    tf*log2(1 + avgdl/dl), score = -ln(lambda/(tfn+lambda)) — the
    fifth similarity on the shared-postings extension point, closing
    the reference's similarity families (BM25/TF-IDF/LM/DFR/IB each
    represented). Integer-exact per-term micro; SQL oracle mirrors
    every factor."""
    s = _searcher(spark, sf_dir)
    from lucenenet_spark.query.engine import _topk_with_rank

    d = s.similarity_score_df(["order", "part"], "ib_ll_d2")
    return _topk_with_rank(d, 10).select(
        F.col("docid").alias("doc_id"),
        F.col("score").cast("long").alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ft_auto_stop(spark, sf_dir):
    """QueryAutoStopWordAnalyzer (Analysis/Query/
    QueryAutoStopWordAnalyzer.cs:48): stopwords derived from the INDEX
    — any term with df > 0.77*maxdoc is dropped from the query before
    scoring (here 'small' crosses the threshold at both test scales,
    'the' and 'dup' stay). The oracle reproduces the df gate per term
    in SQL (each term's score CTE is guarded by its own df <=
    0.77*maxdoc predicate), so the drop decision itself is
    cross-checked, not just the surviving scores."""
    s = _searcher(spark, sf_dir)
    stops = s.auto_stop_terms(0.77)
    terms = [t for t in ("small", "the", "dup") if t not in stops]
    if not terms:
        raise AssertionError("auto-stop dropped every probe term")
    q = BooleanQuery.build(should=[TermQuery(t) for t in terms])
    return _topk_df(s, q, 10)


def q_ft_edge_ngram(spark, sf_dir):
    """Edge n-gram index (Analysis/NGram/EdgeNGramTokenFilter.cs:40,
    FRONT side, grams 2..5) — the autocomplete shape: every prefix of
    every token is a term, so "search-as-you-type" is one TermQuery per
    keystroke. Probes mix a 4-gram and a 3-gram; the oracle rebuilds
    the gram stream with substr over an unnested length range."""
    s = _module_searcher(spark, sf_dir, "edgengram", "edge_ngram", "text")
    q = BooleanQuery.build(should=[TermQuery("quer"), TermQuery("tab")])
    return _topk_df(s, q, 10)


def q_ft_char_ngram(spark, sf_dir):
    """Character trigram index (Analysis/NGram/NGramTokenFilter.cs:38,
    n=3) — the substring-match / fuzzy-recall shape: every length-3
    substring of every token is a term. The oracle windows each token
    with substr(i, 3)."""
    s = _module_searcher(spark, sf_dir, "chargram", "ngram", "text")
    q = BooleanQuery.build(should=[TermQuery("uer"), TermQuery("abl")])
    return _topk_df(s, q, 10)


def q_ft_synonym_collapse(spark, sf_dir):
    """Index-time synonym collapse (Analysis/Synonym/SynonymFilter.cs:33,
    SynonymMap.cs — the equivalence-class dual of the reference's 1:many
    injection, see modules.SynonymAnalyzer): 'line' collapses into 'row'
    and 'scan' into 'query' at encode time, so ONE postings list serves
    each group and the canonical TermQuery matches every variant — tf,
    df, doclen all reflect the merged group, which the oracle reproduces
    by applying the same alias>canonical map to its token stream. The
    map rides the chain name, so the stats commit fingerprints it and
    the query side rebuilds the identical chain."""
    s = _module_searcher(
        spark, sf_dir, "synonyms",
        "synonyms:line>row,scan>query", "text",
    )
    q = BooleanQuery.build(should=[TermQuery("row"), TermQuery("query")])
    return _topk_df(s, q, 10)


def q_ft_prefix(spark, sf_dir):
    """PrefixQuery via term-dictionary scan + CONSTANT_SCORE_AUTO rewrite
    (PrefixQuery.cs:37, MultiTermQuery.cs:95)."""
    s = _searcher(spark, sf_dir)
    d = s.score_df(PrefixQuery("wi"))
    return d.select(F.col("docid").alias("doc_id"), F.col("score").cast("long").alias("score")).orderBy("doc_id")


def q_ft_wildcard(spark, sf_dir):
    """WildcardQuery -> regex scan of the term dictionary (WildcardQuery.cs:46)."""
    s = _searcher(spark, sf_dir)
    d = s.score_df(WildcardQuery("s*k"))
    return d.select(F.col("docid").alias("doc_id"), F.col("score").cast("long").alias("score")).orderBy("doc_id")


def q_ft_fuzzy(spark, sf_dir):
    """FuzzyQuery: levenshtein <= maxEdits against the term dictionary
    (FuzzyQuery.cs:56-63)."""
    s = _searcher(spark, sf_dir)
    d = s.score_df(FuzzyQuery("querry", max_edits=1))
    return d.select(F.col("docid").alias("doc_id"), F.col("score").cast("long").alias("score")).orderBy("doc_id")


def q_ft_term_range(spark, sf_dir):
    """TermRangeQuery: lexicographic dictionary range (TermRangeQuery.cs:45)."""
    s = _searcher(spark, sf_dir)
    d = s.score_df(TermRangeQuery("query", "sort"))
    return d.select(F.col("docid").alias("doc_id"), F.col("score").cast("long").alias("score")).orderBy("doc_id")


def q_ft_dismax(spark, sf_dir):
    """DisjunctionMaxQuery: per-doc max over disjuncts
    (DisjunctionMaxQuery.cs:59, tie_breaker=0)."""
    q = DisjunctionMaxQuery((TermQuery("spark"), TermQuery("data")))
    return _topk_df(_searcher(spark, sf_dir), q, 10)


def q_ft_match_all_count(spark, sf_dir):
    """MatchAllDocsQuery + TotalHitCountCollector (MatchAllDocsQuery.cs:33)."""
    s = _searcher(spark, sf_dir)
    return s.score_df(MatchAllDocsQuery()).agg(F.count(F.lit(1)).cast("long").alias("cnt"))


def q_ft_total_hits(spark, sf_dir):
    """TotalHitCountCollector over a disjunction (TotalHitCountCollector.cs)."""
    s = _searcher(spark, sf_dir)
    q = BooleanQuery.build(should=[TermQuery("query"), TermQuery("sort")])
    return s.score_df(q).agg(F.count(F.lit(1)).cast("long").alias("cnt"))


def q_ft_search_after(spark, sf_dir):
    """SearchAfter pagination: page 2 via the (score, docid) cursor of page 1
    (IndexSearcher.cs:236-254)."""
    s = _searcher(spark, sf_dir)
    q = TermQuery("data")
    page1 = s.search(q, 10).collect()
    last = page1[-1]
    nxt = s.search_after(q, int(last["score"]), int(last["docid"]), 10)
    w = Window.orderBy(F.desc("score"), F.asc("docid"))
    return nxt.withColumn("rank", F.row_number().over(w)).select(
        F.col("docid").alias("doc_id"),
        F.col("score").cast("long").alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ft_facet_lang(spark, sf_dir):
    """FacetsCollector analogue: counts of a category column over the match
    set (FacetsCollector.cs:38) = matches groupBy(facet).count."""
    s = _searcher(spark, sf_dir)
    matches = s.score_df(TermQuery("data")).select(F.col("docid").alias("doc_id"))
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return (
        matches.join(docs, "doc_id")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy("lang")
    )


def q_ft_facet_ts_range(spark, sf_dir):
    """Range facet counts over a numeric doc-values column
    (Facet/Range/LongRangeFacetCounts.cs:36): BM25 'merge' matches
    bucketed by crawl HOUR, the crawl-date histogram every webtext UI
    renders. The hour buckets read the REAL warc_ts doc-values column off
    the docmap (not the source table), while the oracle reproduces them
    from the doc_id arithmetic that defined warc_ts; buckets are epoch
    hours (timezone-free integer math both sides)."""
    s = _searcher(spark, sf_dir)
    matches = s.score_df(TermQuery("merge")).select("docid")
    dv = s.docmap.select("docid", "warc_ts")
    return (
        matches.join(dv, "docid")
        .select(
            F.floor(F.unix_timestamp("warc_ts") / F.lit(3600))
            .cast("long")
            .alias("hour_epoch")
        )
        .groupBy("hour_epoch")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy("hour_epoch")
    )


def q_ft_group_top_source(spark, sf_dir):
    """Grouping module: top-1 hit per group = Window.partitionBy(group)
    .orderBy(score desc) + row_number (GroupingSearch.cs:36)."""
    s = _searcher(spark, sf_dir)
    scored = s.score_df(TermQuery("data")).select(F.col("docid").alias("doc_id"), "score")
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.join(docs, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", "doc_id", F.col("score").cast("long").alias("score"))
        .orderBy("source")
    )


def q_ft_join_scores(spark, sf_dir):
    """Join module, score-carrying query-time join
    (JoinUtil.CreateJoinQuery, Lucene.Net.Join/JoinUtil.cs:41-86 +
    TermsIncludingScoreQuery.cs): BM25 'data' matches joined to their
    source via the (docid, source) mapping, scores aggregated per source
    with ScoreMode.Total plus the hit count. The match set broadcasts (the
    reference materializes the same structure in memory); the shuffle is
    over the 20 distinct sources only."""
    s = _searcher(spark, sf_dir)
    keys = _docs(spark, sf_dir).select(F.col("doc_id").alias("docid"), "source")
    r = s.join_scores(TermQuery("data"), keys, "source", score_mode="total")
    return r.select(
        "source",
        F.col("score").cast("long").alias("score_total"),
        F.col("n_from").cast("long").alias("n_from"),
    ).orderBy("source")


def q_ft_term_dictionary(spark, sf_dir):
    """The term dictionary itself (BlockTreeTermsWriter analogue): per-term
    df + ttf from the merged postings — a whole-index integrity check."""
    s = _searcher(spark, sf_dir)
    return (
        s.termstats.filter(~F.col("term").contains(":"))  # text field only
        .select(
            "term", F.col("df").cast("long").alias("df"), F.col("ttf").cast("long").alias("ttf")
        )
        .orderBy("term")
    )


def q_ft_doc_norms(spark, sf_dir):
    """Norms/docmap: exact field length per doc (NormsConsumerPerField
    analogue; we keep exact doclen beside the quantized byte, SURVEY.md §1.1)."""
    s = _searcher(spark, sf_dir)
    return s.docmap.select(
        F.col("docid").alias("doc_id"), F.col("doclen").cast("long").alias("doclen")
    ).orderBy("doc_id")


def q_ft_field_keyword(spark, sf_dir):
    """Field-qualified keyword query (StringField.cs:43 + FieldInfos.cs):
    TermQuery on the ``lang`` keyword field — postings seek on the
    namespaced "lang:en" term key, scored with norms omitted (keyword tf is
    1, so score = idf of the keyword term; BM25Similarity with norms==null).
    Parsed form: ``lang:en`` (QueryParserBase.cs:188)."""
    s = _searcher(spark, sf_dir)
    d = s.score_df(TermQuery("en", field="lang"))
    return d.select(
        F.col("docid").alias("doc_id"), F.col("score").cast("long").alias("score")
    ).orderBy("doc_id")


def q_ft_field_mixed(spark, sf_dir):
    """The everyday real-world query: a scored text clause AND a keyword
    metadata constraint — MUST(text:data) + MUST(lang:en), i.e.
    ConjunctionScorer across fields (parsed: ``+data +lang:en``). Scores
    sum: BM25(text term) + idf(keyword term)."""
    s = _searcher(spark, sf_dir)
    q = BooleanQuery.build(must=[TermQuery("data"), TermQuery("en", field="lang")])
    return _topk_df(s, q, 10)


def q_ft_filtered_range(spark, sf_dir):
    """FilteredQuery ∧ NumericRangeQuery (FilteredQuery.cs:41,
    NumericRangeQuery.cs:522-620): BM25-scored text clause restricted to a
    numeric metadata range — here doclen ∈ [30, 80] — without the filter
    contributing score. The range compiles to a docmap Parquet predicate
    (min/max pushdown replaces the reference's trie terms); the scored side
    semi-joins it."""
    s = _searcher(spark, sf_dir)
    q = FilteredQuery(TermQuery("data"), NumericRangeQuery("doclen", 30, 80))
    return _topk_df(s, q, 10)


def q_ft_fuzzy_scored(spark, sf_dir):
    """FuzzyQuery under SCORING_BOOLEAN_QUERY_REWRITE (MultiTermQuery.cs:65,
    ScoringRewrite): the expanded terms score as a BM25 disjunction (sum per
    doc) instead of constant-score — results are RANKED, the reference's
    default behavior for fuzzy. Fully distributed: expanded terms broadcast
    into the posting blocks, idf computed per block row from the joined df."""
    s = _searcher(spark, sf_dir)
    q = FuzzyQuery("querry", max_edits=1, rewrite_method="scoring_boolean")
    return _topk_df(s, q, 10)


def q_ft_multi_phrase(spark, sf_dir):
    """MultiPhraseQuery (MultiPhraseQuery.cs:72): "(data|part) filter" —
    slot 0 admits two alternatives whose position lists are unioned per doc
    before the ordinary phrase intersection; idf sums over ALL member
    terms, freq counts distinct slot-0 positions that complete a match."""
    s = _searcher(spark, sf_dir)
    q = MultiPhraseQuery(slots=(("data", "part"), ("filter",)))
    return _topk_df(s, q, 10)


def q_ft_lucene_rank(spark, sf_dir):
    """Driver-visible gate for the FLOAT32 Lucene scoring path (the engine
    default; every other ft_* entry runs the exact_int oracle mode). Runs a
    SEVEN-SHAPE battery — disjunction, conjunction, exact phrase,
    minimum-should-match, sloppy phrase (damped sloppyFreq,
    SloppyPhraseScorer.cs), ordered span (SpanScorer.cs damping), and a
    nested span clause tree (recursive enumeration + gap-sum chain) —
    each twice (unpruned and with block-max WAND,
    which falls back where pruning doesn't apply) in ``scoring="lucene"``
    mode, and verifies ALL runs against the in-repo numpy golden oracle
    (scoring/oracle.py: float32 BM25 in reference op order, float64
    accumulation cast once, HitQueue tie-break). Any rank or float32-score
    deviation raises, failing the gate loudly. The returned
    (shape, doc_id, rank) table additionally gets a FULL driver hash check
    against an independent DuckDB REAL (float32) oracle (r5,
    :func:`_lucene32_sql`): DuckDB REAL arithmetic measured bit-identical
    to numpy float32, so every shape is triple-checked — engine kernels vs
    embedded numpy golden vs standalone SQL.

    Driver memory is BOUNDED: instead of materializing the corpus, the
    oracle pulls only docs whose token sets overlap the battery terms
    (complete tf/positions/df for those terms by construction) and overrides
    maxdoc/sum_ttf with globally-aggregated values — so idf/avgdl are exact
    while the pull scales with term df, not corpus size. A hard guard raises
    before an oversized pull rather than OOMing the driver."""
    import numpy as np  # noqa: PLC0415

    from lucenenet_spark.analysis.analyzer import StandardAnalyzer  # noqa: PLC0415
    from lucenenet_spark.scoring.bm25 import CollectionStats  # noqa: PLC0415
    from lucenenet_spark.scoring.oracle import OracleIndex  # noqa: PLC0415

    key = "lucene:" + (os.path.basename(os.path.normpath(sf_dir)) or "default")
    if key not in _SEARCHERS:
        _searcher(spark, sf_dir)  # ensure the index exists
        idx = os.path.join(_INDEX_ROOT, os.path.basename(os.path.normpath(sf_dir)))
        _SEARCHERS[key] = Searcher(spark, idx, scoring="lucene")
    s = _SEARCHERS[key]

    battery = [
        ("disj", BooleanQuery.build(should=[TermQuery("data"), TermQuery("spark")])),
        ("conj", BooleanQuery.build(must=[TermQuery("data"), TermQuery("spark")])),
        ("phrase", PhraseQuery(("part", "filter"))),
        (
            "msm",
            BooleanQuery.build(
                should=[TermQuery("data"), TermQuery("spark"), TermQuery("merge")],
                minimum_should_match=2,
            ),
        ),
        # r4: the damped sloppyFreq shapes (SloppyPhraseScorer.cs PhraseFreq
        # + SpanScorer.cs SetFreqCurrentDoc) — freq = sum of 1/(1+matchLength)
        # slop factors, float64-accumulated in anchor order, cast once
        ("sloppy", PhraseQuery(("part", "filter"), slop=2)),
        ("span", SpanNearQuery(("data", "merge"), slop=2, in_order=True)),
        # r4: nested span clause tree — the recursive enumeration + gap-sum
        # chain must hold rank identity through the float32 path too
        (
            "span_nested",
            SpanNearQuery(
                (SpanNearQuery(("data", "merge"), slop=1, in_order=True), "spark"),
                slop=2, in_order=True,
            ),
        ),
    ]
    terms = ["data", "spark", "part", "filter", "merge"]

    # global collection stats (exact idf/avgdl) + term-filtered doc pull
    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", F.expr(_TOKS_SPARK).alias("toks")
    )
    grow = docs.agg(
        F.count(F.lit(1)).alias("maxdoc"), F.sum(F.size("toks")).alias("sum_ttf")
    ).collect()[0]
    hit = docs.filter(
        F.arrays_overlap("toks", F.array(*[F.lit(t) for t in terms]))
    ).select("doc_id", "text")
    n_hit = hit.count()
    if n_hit > 500_000:
        raise AssertionError(
            f"lucene-rank oracle pull would be {n_hit} docs — refusing to "
            "collect; narrow the battery terms for this corpus"
        )
    pdf = hit.toPandas()
    oracle = OracleIndex(
        list(zip(pdf["doc_id"].astype(int), pdf["text"])),
        analyzer=StandardAnalyzer(
            stop_words=frozenset(),
            max_token_length=1_000_000,
            ascii_only=True,
        ),
        stats=CollectionStats(
            maxdoc=int(grow["maxdoc"]), sum_ttf=int(grow["sum_ttf"] or 0)
        ),
    )

    out = []
    for shape, q in battery:
        golden = [(int(d), np.float32(v)) for d, v in oracle.search(q, k=10)]
        for wand in (False, True):
            got = [
                (int(r["docid"]), np.float32(r["score"]))
                for r in s.search(q, 10, wand=wand).collect()
            ]
            if got != golden:
                raise AssertionError(
                    f"float32 Lucene path diverged on {shape} "
                    f"(wand={wand}): {got} != {golden}"
                )
        out.extend((shape, d, i + 1) for i, (d, _) in enumerate(golden))
    return spark.createDataFrame(out, "shape string, doc_id long, rank long")


def q_ft_mlt(spark, sf_dir):
    """MoreLikeThis (Lucene.Net.Queries/Mlt/MoreLikeThis.cs): rank the input
    text's terms by tf*idf (min_doc_freq filter), keep the best
    max_query_terms, run them as a SHOULD disjunction. Term selection is
    driver-side on the tiny analyzed input; scoring is the normal
    distributed BM25 path. Tie-break = (tf*idf desc, term desc), mirrored
    in the oracle's ORDER BY."""
    s = _searcher(spark, sf_dir)
    top = s.more_like_this(
        "data spark merge vector dup hash", k=10, max_query_terms=4, min_doc_freq=2
    )
    return top.select(
        F.col("docid").alias("doc_id"),
        F.col("score").cast("long").alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ft_common_terms(spark, sf_dir):
    """CommonTermsQuery (Lucene.Net.Queries/CommonTermsQuery.cs:69): terms
    with df/maxDoc above the cutoff demote to an optional clause that can
    only add score to docs already matched by the rare terms (ReqOpt shape)
    — query-time stopword-skew protection. Cutoff 0.5 splits this corpus's
    rare 'dup' from the common terms; the oracle reproduces the split (and
    the all-common fallback) data-driven."""
    s = _searcher(spark, sf_dir)
    top = s.common_terms_query(["dup", "data", "spark"], k=10, max_term_frequency=0.5)
    return top.select(
        F.col("docid").alias("doc_id"),
        F.col("score").cast("long").alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ft_highlight(spark, sf_dir):
    """Highlighter (Lucene.Net.Highlighter/Highlight/Highlighter.cs:34):
    snippet extraction around the first query-term match, term occurrences
    wrapped — run over the TOP-K rows only (a pandas UDF on k rows, never
    the corpus). The oracle reproduces the exact fragment arithmetic
    (first-match position, 120-char window centered 60 back, '...'
    ellipses) in SQL string functions."""
    from lucenenet_spark.query.highlight import highlight  # noqa: PLC0415

    s = _searcher(spark, sf_dir)
    top = s.search(TermQuery("dup"), 5)
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    topk = top.select(
        F.col("docid").alias("doc_id"),
        F.col("score").cast("long").alias("score"),
        F.col("rank").cast("long").alias("rank"),
    ).join(F.broadcast(docs), "doc_id")
    hl = highlight(topk, ["dup"], text_col="text", fragment_chars=120)
    return hl.select("doc_id", "score", "rank", "snippet").orderBy("rank")


def q_ft_highlight_multi(spark, sf_dir):
    """Best-fragments highlighter (Highlighter.GetBestFragments:
    SimpleFragmenter + QueryTermScorer + top-N selection,
    Highlighter.cs:34): the text splits into fixed 100-char fragments, each
    scores by query-term occurrence count, the top-3 (score desc, position
    asc) re-assemble in TEXT ORDER joined by '...', matches wrapped. This
    entry runs the fragment pipeline fully JVM-side (posexplode + regexp +
    window) over the top-5 hits only; the whitespace-snapping pandas-UDF
    variant is query/highlight.py::highlight_fragments (suite-tested)."""
    s = _searcher(spark, sf_dir)
    q = BooleanQuery.build(should=[TermQuery("data"), TermQuery("spark")])
    top = s.search(q, 5).select(
        F.col("docid").alias("doc_id"), F.col("rank").cast("long").alias("rank")
    )
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    topk = top.join(F.broadcast(docs), "doc_id")
    rx = "(?i)(data|spark)"
    # fixed 100-char fragmentation as ONE regex chunking — identical
    # semantics in Java regex (Spark) and RE2 (DuckDB)
    frag = topk.select(
        "doc_id", "rank",
        F.posexplode(
            F.regexp_extract_all(F.col("text"), F.lit("(?s).{1,100}"), F.lit(0))
        ).alias("i", "frag"),
    )
    scored = frag.withColumn(
        "score_f",
        F.size(F.regexp_extract_all(F.col("frag"), F.lit(rx), F.lit(0))),
    ).filter(F.col("score_f") > 0)
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_f"), F.asc("i"))
    best = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
    wrapped = best.withColumn(
        "hl", F.regexp_replace(F.col("frag"), rx, "<b>$1</b>")
    )
    return (
        wrapped.groupBy("doc_id", "rank")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fragments"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "hl"))),
                    lambda x: x["hl"],
                ),
                "...",
            ).alias("snippet"),
        )
        .orderBy("rank")
        .select("doc_id", "rank", "n_fragments", "snippet")
    )


def q_ft_rescore(spark, sf_dir):
    """QueryRescorer (QueryRescorer.cs): re-rank the top-20 of a first-pass
    query with a second query; combined = first + weight*second. The top-k
    side broadcasts, so the second query only ever scores the k candidate
    docids."""
    s = _searcher(spark, sf_dir)
    top = s.search(TermQuery("data"), 20).select("docid", "score")
    r = s.rescore(top, TermQuery("spark"), weight=2.0)
    return r.select(
        F.col("docid").alias("doc_id"),
        F.col("score").cast("long").alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ft_sort_by_field(spark, sf_dir):
    """TopFieldCollector / Sort (TopFieldCollector.cs:37, Sort.cs): top-k of
    a match set ordered by a stored field instead of relevance — matches of
    'dup' sorted by (doclen asc, docid asc)."""
    s = _searcher(spark, sf_dir)
    top = s.search_sorted(TermQuery("dup"), [F.asc("doclen"), F.asc("docid")], 10)
    return top.select(
        F.col("docid").alias("doc_id"), F.col("doclen").cast("long").alias("doclen")
    )


def q_ft_span_near(spark, sf_dir):
    """Spans module, ordered proximity (SpanNearQuery.cs:38-66,
    NearSpansOrdered.cs:42-89): 'data' then 'merge' in order within slop 2,
    scored as a pseudo-term with the reference's SpanScorer damping: each
    anchor's greedy-chain match contributes sloppyFreq(End - Start) =
    1/(1+window) (SpanScorer.cs SetFreqCurrentDoc, BM25Similarity.cs:74);
    idf = sum of both idfs. Physical plan: two positional posting seeks
    joined on docid + one vectorized greedy-chain kernel."""
    q = SpanNearQuery(("data", "merge"), slop=2, in_order=True)
    return _topk_df(_searcher(spark, sf_dir), q, 10)


def q_ft_span_field(spark, sf_dir):
    """SpanNearQuery on an extra ANALYZED field (r4): 'data' then 'merge'
    in order within slop 2 over the TITLE field — clause spans seek the
    namespaced "title:<term>" postings and the kernel scores with the
    title field's own norms/avgdl (TextField.cs:38 + the Spans module's
    per-field SpanWeight). Same SpanScorer sloppyFreq damping as
    ft_span_near."""
    q = SpanNearQuery(("data", "merge"), slop=2, in_order=True, field="title")
    return _topk_df(_searcher(spark, sf_dir), q, 10)


def q_ft_prefix_scored_field(spark, sf_dir):
    """SCORING_BOOLEAN MultiTermQuery rewrite on an extra ANALYZED field
    (r4): PrefixQuery('s', field='title') expands over the title
    namespace's term dictionary and scores each expanded term with the
    FULL BM25 kernel using the title field's norms/avgdl — previously
    extra-field rewrites scored norms-omitted (the keyword path), which
    the reference reserves for StringFields."""
    q = PrefixQuery("s", field="title", rewrite_method="scoring_boolean")
    return _topk_df(_searcher(spark, sf_dir), q, 10)


def q_ft_span_near_unord(spark, sf_dir):
    """Spans module, unordered proximity (NearSpansUnordered.cs:36-60):
    'query' and 'join' in either order within a joint window of slop 1
    (|Δpos| <= 2); each anchor contributes sloppyFreq(|Δpos| + 1) for its
    nearest partner (max(end) - min(start) of two unit spans)."""
    q = SpanNearQuery(("query", "join"), slop=1, in_order=False)
    return _topk_df(_searcher(spark, sf_dir), q, 10)


def q_ft_span_syn(spark, sf_dir):
    """SpanNear over a SpanOr child — the reference's synonym-proximity
    idiom (SpanNearQuery.cs:38-66 with SpanOrQuery.cs:36-58 clauses):
    ('data'|'vector') then 'merge' in order within slop 2. The union
    clause's spans are the merged deduped positions of both members; idf
    sums over all three member terms (the all-member-stats SpanWeight).
    Physical plan: one isin(2-term) positional seek unioned per doc + one
    single-term seek, joined on docid into the greedy-chain kernel."""
    q = SpanNearQuery((SpanOrQuery(("data", "vector")), "merge"), slop=2, in_order=True)
    return _topk_df(_searcher(spark, sf_dir), q, 10)


def q_ft_span_nested(spark, sf_dir):
    """Nested span clauses (r4) — the reference's composable span algebra
    (SpanNearQuery.cs clauses are arbitrary SpanQuery trees):
    SpanNear((SpanNear(('data','merge'), slop=1), 'spark'), slop=2,
    ordered). The inner query is ENUMERATED first — the span kernel in
    emission mode returns one (start, end) match span per anchor (greedy
    chain, per-doc arrays) — and the outer ordered chain walks
    variable-length spans under NearSpansOrdered's gap-sum rule:
    next clause's first span with start >= current end, match iff
    (last end - anchor start) - sum(chosen lengths) <= slop. freq =
    sloppyFreq(covering window) per outer anchor (SpanScorer.cs);
    idf sums over all three member terms (all-member-stats SpanWeight)."""
    inner = SpanNearQuery(("data", "merge"), slop=1, in_order=True)
    q = SpanNearQuery((inner, "spark"), slop=2, in_order=True)
    return _topk_df(_searcher(spark, sf_dir), q, 10)


def q_ft_span_nested_unord(spark, sf_dir):
    """Unordered-OUTER span nesting (r5 — the last span shape the engine
    rejected besides payloads): SpanNear((SpanNear(('data','merge'),
    slop=1, ordered), 'spark'), slop=2, UNORDERED). The nested clause is
    enumerated to variable-length (start, end) spans, then the outer
    unordered kernel applies true SpansCell length bookkeeping
    (NearSpansUnordered.cs:36): per anchor span, 'spark' contributes its
    nearest-start unit span (tie -> earlier); joint window [min start,
    max end] matches iff matchLength - totalLength <= slop, freq +=
    sloppyFreq(matchLength) per anchor. 'spark' BEFORE the inner span
    matches here — the shape the ordered chain can never produce."""
    inner = SpanNearQuery(("data", "merge"), slop=1, in_order=True)
    q = SpanNearQuery((inner, "spark"), slop=2, in_order=False)
    return _topk_df(_searcher(spark, sf_dir), q, 10)


def q_ft_complex_phrase(spark, sf_dir):
    """ComplexPhraseQueryParser subset (r5 —
    ComplexPhraseQueryParser.cs:48): the query STRING
    '"(table row) val*"~3' parses, in the complex_phrase dialect, to an
    ordered SpanNear tree — clause 0 the (table|row) alternative union,
    clause 1 a SpanMultiTermWrapper(PrefixQuery('val')) expanded against
    the term dictionary at search time (SpanMultiTermQueryWrapper.cs:44's
    SpanRewriteMethod, capped at 1024 expansions). Scored through the
    span kernel: greedy ordered chain, sloppyFreq damping, idf summed
    over table + row + every expanded val* term (all-member-stats
    SpanWeight)."""
    s = _searcher(spark, sf_dir)
    q = s.parse('"(table row) val*"~3', dialect="complex_phrase")
    return _topk_df(s, q, 10)


def q_ft_surround(spark, sf_dir):
    """Surround query language (r5 — Surround/Parser/QueryParser.jj,
    DistanceQuery.cs:30): the string '3w(data, merge) or 2n(query, join)'
    parses, in the surround dialect, to a SHOULD disjunction of two
    distance operators — ordered within-3 (SpanNear slop=2 in-order,
    NearSpansOrdered greedy chain) and unordered within-2 (SpanNear
    slop=1, NearSpansUnordered nearest-partner window) — each scored
    through the span kernel with SpanScorer sloppyFreq damping and
    all-member-stats idf, the disjunction summing the two pseudo-term
    scores per doc (DisjunctionSumScorer). Physical plan: four positional
    posting seeks, two vectorized span kernels, one hash-agg sum."""
    s = _searcher(spark, sf_dir)
    q = s.parse("3w(data, merge) or 2n(query, join)", dialect="surround")
    return _topk_df(s, q, 10)


def q_ft_simple_qp(spark, sf_dir):
    """SimpleQueryParser grammar (r5 — Simple/SimpleQueryParser.cs:46):
    'data + merge | "part filter"' combines LEFT-TO-RIGHT (the simple
    parser has no operator precedence): '+' promotes both sides to MUST,
    '|' adds the exact phrase as SHOULD — docs must match data AND merge,
    the adjacency phrase's BM25 pseudo-term score adds when present
    (ReqOptSumScorer.cs:26). The dialect's defining property — never
    throwing on malformed input — is suite-tested
    (tests/test_simple_parser.py)."""
    s = _searcher(spark, sf_dir)
    q = s.parse('data + merge | "part filter"', dialect="simple")
    return _topk_df(s, q, 10)


def q_ft_xml_qp(spark, sf_dir):
    """XML query parser (r5 — Xml/CoreParser.cs:38 builder registry): the
    XML document below lowers to Boolean(MUST TermQuery('data'), SHOULD
    SpanNear('query','join', slop=1, unordered)) — element names select
    builders, occurs attributes map to clause modes, span elements nest
    onto the engine's span algebra. ReqOptSumScorer semantics: docs must
    match 'data'; the unordered span pseudo-term's sloppyFreq-damped
    score adds when present."""
    s = _searcher(spark, sf_dir)
    q = s.parse(
        """
        <BooleanQuery>
          <Clause occurs="must"><TermQuery>data</TermQuery></Clause>
          <Clause occurs="should">
            <SpanNear slop="1" inOrder="false">
              <SpanTerm>query</SpanTerm><SpanTerm>join</SpanTerm>
            </SpanNear>
          </Clause>
        </BooleanQuery>
        """,
        dialect="xml",
    )
    return _topk_df(s, q, 10)


def q_ft_span_first(spark, sf_dir):
    """SpanFirstQuery.cs:33-49: 'table' spans ending within the first 8
    positions; tf truncated to the prefix window and damped by
    sloppyFreq(1) = 1/2 per unit span (SpanScorer.cs), idf from the term's
    full document frequency."""
    return _topk_df(_searcher(spark, sf_dir), SpanFirstQuery("table", end=8), 10)


def q_ft_span_or(spark, sf_dir):
    """SpanOrQuery.cs:36-58: union of 'data'/'vector' spans scored through
    SpanScorer — every unit span contributes sloppyFreq(1) = 1/2, idf =
    sum of both — lowered by rewrite() to a single-clause SpanNearQuery,
    so the physical plan is the slot-union positional join."""
    q = SpanOrQuery(("data", "vector"))
    return _topk_df(_searcher(spark, sf_dir), q, 10)


def q_ft_span_not(spark, sf_dir):
    """SpanNotQuery.cs:38-61: 'data' occurrences with no 'merge' within
    one position either side (pre=post=1); tf = surviving positions damped
    by sloppyFreq(1) = 1/2 each (SpanScorer.cs), idf
    from 'data' alone."""
    q = SpanNotQuery("data", "merge", pre=1, post=1)
    return _topk_df(_searcher(spark, sf_dir), q, 10)


def q_ft_ts_range(spark, sf_dir):
    """Scored text ∧ crawl-timestamp range (the every-real-query shape:
    NumericRangeQuery.cs:97-166 over a DocValues timestamp column): BM25
    'data' matches restricted to warc_ts ∈ [2020-01-01T02:00, 05:00). The
    range compiles to PushedFilters on the docmap Parquet scan
    (GreaterThanOrEqual/LessThan on the timestamp column — verified in
    tests/test_docvalues.py); bounds are tz-aware instants so session
    timezone never shifts them."""
    import datetime as _dt

    s = _searcher(spark, sf_dir)
    lo = _dt.datetime.fromtimestamp(_TS_EPOCH0 + 120 * 60, _dt.timezone.utc)
    hi = _dt.datetime.fromtimestamp(_TS_EPOCH0 + 300 * 60, _dt.timezone.utc)
    q = FilteredQuery(
        TermQuery("data"),
        NumericRangeQuery("warc_ts", lo, hi, include_upper=False),
    )
    return _topk_df(s, q, 10)


def q_ft_sorted_range(spark, sf_dir):
    """Same query shape as ft_ts_range but answered by the SORTED index
    (IndexConfig.sort_field='warc_ts'): docid order == warc_ts order, so
    the range filter's matches occupy ONE contiguous docid interval and
    the engine prunes posting blocks by [first_docid, last_docid] skip
    metadata before scoring — the SortingMergePolicy early-termination
    payoff (Lucene.Net.Misc/Index/Sorter/SortingMergePolicy.cs:44).
    Correctness contract: result-identical to the unsorted plan (the exact
    semi-join still applies; covered in tests/test_index_sort.py). Docids
    here are engine-assigned ranks, so the output maps back to doc_id via
    the docmap's url ('doc://<doc_id>')."""
    import datetime as _dt

    s = _sorted_searcher(spark, sf_dir)
    lo = _dt.datetime.fromtimestamp(_TS_EPOCH0 + 120 * 60, _dt.timezone.utc)
    hi = _dt.datetime.fromtimestamp(_TS_EPOCH0 + 300 * 60, _dt.timezone.utc)
    q = FilteredQuery(
        TermQuery("data"),
        NumericRangeQuery("warc_ts", lo, hi, include_upper=False),
    )
    top = s.search(q, 10)
    dm = s.docmap.select(
        "docid", F.expr("CAST(substring(url, 7) AS BIGINT)").alias("doc_id")
    )
    return top.join(dm, "docid").select(
        "doc_id",
        F.col("score").cast("long").alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ft_group_count(spark, sf_dir):
    """AllGroupsCollector / TotalGroupCount
    (Grouping/AbstractAllGroupsCollector.cs:30): number of distinct crawl
    HOURS among the matches of 'data' — one count-distinct aggregate over
    the match set joined to the doc-values column, returned as a 1-row
    DataFrame so the driver can hash it."""
    s = _searcher(spark, sf_dir)
    hour = F.floor(F.col("warc_ts").cast("long") / F.lit(3600)).cast("long")
    n = s.group_count(TermQuery("data"), hour)
    return spark.createDataFrame([(n,)], "n_groups long")


def q_ft_terms_filter(spark, sf_dir):
    """TermsFilter (Queries/TermsFilter.cs:37 analogue): BM25 'data'
    matches whitelisted to lang ∈ {de, fr} — the filter is the union of
    the two keyword-field posting docid sets (non-scoring; scores are the
    unfiltered query's). Wrapped in CachingWrapperFilter, the repeated-
    whitelist session shape."""
    from lucenenet_spark.query.ast import CachingWrapperFilter, TermsFilter

    s = _searcher(spark, sf_dir)
    q = FilteredQuery(
        TermQuery("data"),
        CachingWrapperFilter(TermsFilter((("lang", "de"), ("lang", "fr")))),
    )
    return _topk_df(s, q, 10)


def q_ft_dup_filter(spark, sf_dir):
    """DuplicateFilter (Sandbox/Queries/DuplicateFilter.cs:33 analogue,
    KM_USE_FIRST_OCCURRENCE): the match set keeps only the lowest-docid
    document per distinct doclen value — query-time dedup by a docmap
    column, one window over the docmap."""
    from lucenenet_spark.query.ast import DuplicateFilter

    s = _searcher(spark, sf_dir)
    q = FilteredQuery(TermQuery("data"), DuplicateFilter("doclen"))
    return _topk_df(s, q, 10)


def q_ft_group_two_pass(spark, sf_dir):
    """Two-pass grouped search (Grouping/GroupingSearch.cs:38 +
    Term first/second-pass collectors): matches of 'data' grouped by crawl
    HOUR (derived from the warc_ts doc-value), top-5 groups by their best
    BM25 score (ties by hour asc), top-3 docs within each (score desc,
    docid asc). One shuffle + broadcast of the 5-row group list — see
    Searcher.group_search."""
    s = _searcher(spark, sf_dir)
    hour = F.floor(F.col("warc_ts").cast("long") / F.lit(3600)).cast("long")
    res = s.group_search(TermQuery("data"), hour, n_groups=5, docs_per_group=3)
    return res.select(
        F.col("group").alias("grp"),
        F.col("group_rank").cast("long").alias("group_rank"),
        F.col("docid").alias("doc_id"),
        F.col("score").cast("long").alias("score"),
        F.col("doc_rank").cast("long").alias("doc_rank"),
    )


def q_ft_cached_filter(spark, sf_dir):
    """CachingWrapperFilter (Search/CachingWrapperFilter.cs:42 analogue):
    the crawl-window filter is wrapped so its docid set is computed once
    per Searcher and persisted — running the SAME filter under a second
    query reuses the cached set (asserted in tests/test_caching_filter.py).
    Results are identical to the uncached FilteredQuery; this entry gates
    that invariant on the driver's oracle."""
    import datetime as _dt

    from lucenenet_spark.query.ast import CachingWrapperFilter

    s = _searcher(spark, sf_dir)
    lo = _dt.datetime.fromtimestamp(_TS_EPOCH0 + 300 * 60, _dt.timezone.utc)
    hi = _dt.datetime.fromtimestamp(_TS_EPOCH0 + 600 * 60, _dt.timezone.utc)
    flt = CachingWrapperFilter(
        NumericRangeQuery("warc_ts", lo, hi, include_upper=False)
    )
    # warm the cache under one query, then answer with a second — the
    # returned plan reads the persisted docid set
    s.score_df(FilteredQuery(TermQuery("merge"), flt)).count()
    q = FilteredQuery(TermQuery("stream"), flt)
    return _topk_df(s, q, 10)


def q_ft_sorted_early_topk(spark, sf_dir):
    """Early-terminating sorted collection
    (EarlyTerminatingSortingCollector.cs:49 analogue) on the SORTED index:
    oldest-first matches of 'merge' via Searcher.search_by_index_sort,
    which probes a docid PREFIX of the index (posting blocks outside the
    probe pruned by skip metadata) and widens 8x only until k matches —
    at 10^12 docs a match-rich query reads thousands of docids, not the
    corpus. Result-identical to the full-sort plan
    (tests/test_index_sort.py); docids map back to doc_id via the docmap
    url. Timestamps exported as epoch seconds (timestamp->long cast is
    session-timezone independent)."""
    top = _sorted_searcher(spark, sf_dir).search_by_index_sort(
        TermQuery("merge"), 10
    )
    s = _sorted_searcher(spark, sf_dir)
    dm = s.docmap.select(
        "docid", F.expr("CAST(substring(url, 7) AS BIGINT)").alias("doc_id")
    )
    w = Window.orderBy(F.asc("warc_ts"), F.asc("docid"))
    return (
        top.join(dm, "docid")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .select(
            "doc_id",
            F.col("warc_ts").cast("long").alias("ts_epoch"),
            "rank",
        )
    )


def q_ft_sort_by_ts(spark, sf_dir):
    """Sort by crawl timestamp (Sort.cs:100-112 over a DocValues column):
    matches of 'merge' ordered by (warc_ts desc, docid asc) — the newest-
    first listing every webtext UI wants. ts reported as epoch seconds
    (unix_timestamp of a TimestampType instant is timezone-free)."""
    s = _searcher(spark, sf_dir)
    top = s.search_sorted(TermQuery("merge"), [F.desc("warc_ts"), F.asc("docid")], 10)
    return top.select(
        F.col("docid").alias("doc_id"),
        F.unix_timestamp("warc_ts").cast("long").alias("ts_epoch"),
    )


def q_ft_recency_boost(spark, sf_dir):
    """CustomScoreQuery / FunctionQuery analogue
    (Lucene.Net.Queries/CustomScoreQuery.cs:42 + Function/FunctionQuery.cs):
    relevance x doc-values modifier — the classic webtext freshness rank.
    final = bm25_int('data') * 3 if crawled after the cutoff else * 1; the
    weight reads the REAL warc_ts doc-values column off the docmap, while
    the oracle reproduces it from the doc_id arithmetic that defined
    warc_ts (integer math both sides, exact)."""
    import datetime as _dt

    s = _searcher(spark, sf_dir)
    cutoff = _dt.datetime.fromtimestamp(_TS_EPOCH0 + 65_000 * 60, _dt.timezone.utc)
    expr = (
        F.col("score")
        * F.when(F.col("warc_ts") >= F.lit(cutoff), F.lit(3)).otherwise(F.lit(1))
    ).cast("long")
    top = s.custom_score(TermQuery("data"), expr, 10)
    return top.select(
        F.col("docid").alias("doc_id"),
        F.col("score").cast("long").alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ft_boosting(spark, sf_dir):
    """BoostingQuery (Lucene.Net.Queries/BoostingQuery.cs:41): demote-not-
    exclude — 'data' matches that also match the context query 'table'
    keep rank presence but at floor(score/2). Integer-exact both sides."""
    s = _searcher(spark, sf_dir)
    top = s.boosting_query(TermQuery("data"), TermQuery("table"), boost=0.5, k=10)
    return top.select(
        F.col("docid").alias("doc_id"),
        F.col("score").cast("long").alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ft_facet_hierarchy(spark, sf_dir):
    """Taxonomy-TREE facet counts (r5 — Facet/Taxonomy/
    FastTaxonomyFacetCounts.cs:36, TaxonomyReader.cs): a hierarchical
    host -> lang dimension (the web-corpus url taxonomy; host synthesized
    deterministically as source + '.example.com' since the synthetic
    corpus carries no raw urls) counted over the match set of 'data' at
    EVERY tree level — each doc contributes to its leaf node and every
    ancestor up to the root, the reference's taxonomy rollup. One
    ROLLUP(host, lang) grouping-sets aggregation = one shuffle for all
    levels (no per-level passes); drill-down from a level-1 node to its
    children is a filter on these rows. Output: (level, host, lang, cnt)
    with '' for the aggregated levels."""
    s = _searcher(spark, sf_dir)
    matches = s.score_df(TermQuery("data")).select(F.col("docid").alias("doc_id"))
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        "lang",
    )
    j = matches.join(docs, "doc_id")
    lvl = (
        F.when(F.col("host").isNull(), F.lit(0))
        .when(F.col("lang").isNull(), F.lit(1))
        .otherwise(F.lit(2))
    )
    return (
        j.rollup("host", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            lvl.cast("long").alias("level"),
            F.coalesce(F.col("host"), F.lit("")).alias("host"),
            F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
            "cnt",
        )
        .orderBy("level", "host", "lang")
    )


def q_ft_drilldown(spark, sf_dir):
    """DrillDownQuery + sideways counts (Lucene.Net.Facet/DrillDownQuery.cs:67,
    DrillSideways.cs:50): the base query 'merge' drilled down on the lang
    dimension via the KEYWORD-FIELD posting constraint (lang:en postings
    seek, not a post-filter), then counts of the other dimension (source)
    over the drilled match set."""
    s = _searcher(spark, sf_dir)
    q = BooleanQuery.build(must=[TermQuery("merge"), TermQuery("en", field="lang")])
    matches = s.score_df(q).select(F.col("docid").alias("doc_id"))
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    return (
        matches.join(docs, "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy("source")
    )


def q_web_extract_text(spark, sf_dir):
    """HTML -> text extraction, the input_hint's per-row invariant
    (byte-identical extracted text per url; reference analogue
    DemoHTMLParser.cs:36-88 feeding DocMaker). The documents table has no
    html column, so the page payload is synthesized IN-PLAN (JVM-side
    concat/replace, byte-identical to analysis.extract.wrap_html with
    title 'p<doc_id>'), then the Arrow/re2 extraction kernel recovers the
    text and the aggregate proves every row round-tripped byte-exactly —
    n_exact counts extract(wrap(text)) == text (null-safe). The oracle
    asserts n_exact == n_docs independently."""
    from lucenenet_spark.analysis.extract import extract_text  # noqa: PLC0415

    esc = F.col("text")
    for raw, ent in [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&quot;"), ("'", "&#39;")]:
        esc = F.replace(esc, F.lit(raw), F.lit(ent))
    html_str = F.concat(
        F.lit("<html><head><title>p"),
        F.col("doc_id").cast("string"),
        F.lit(
            "</title><script>var q=1&&2;</script><style>p {color:#000}</style>"
            '</head><body class="page"><!-- warc --><p>'
        ),
        esc,
        F.lit("</p></body></html>"),
    )
    pages = _docs(spark, sf_dir).select(
        "doc_id", "text", html_str.cast("binary").alias("html")
    )
    ex = extract_text(
        pages.withColumnRenamed("text", "text_src"), html_col="html", out_col="text_ex"
    )
    return ex.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("text_ex").eqNullSafe(F.col("text_src"))).alias("n_exact"),
        F.sum(F.octet_length("text_src")).cast("long").alias("text_bytes"),
    )


def q_ft_regexp(spark, sf_dir):
    """RegexpQuery (RegexpQuery.cs:52): full-match regex scan of the term
    dictionary, CONSTANT_SCORE rewrite."""
    from lucenenet_spark.query.ast import RegexpQuery  # noqa: PLC0415

    s = _searcher(spark, sf_dir)
    d = s.score_df(RegexpQuery("s(park|ort)"))
    return d.select(
        F.col("docid").alias("doc_id"), F.col("score").cast("long").alias("score")
    ).orderBy("doc_id")


def q_ft_suggest(spark, sf_dir):
    """Autocomplete over the term dictionary (AnalyzingSuggester.cs:90 with
    the FST replaced by the sorted termstats table): prefix scan ranked by
    document frequency."""
    s = _searcher(spark, sf_dir)
    return s.suggest("s", 10).select("term", F.col("df").cast("long").alias("df"))


def q_ft_field_title(spark, sf_dir):
    """Multi-field analyzed text (Document/TextField.cs:38 + FieldInfos
    per-field norms): BM25 top-10 for 'data' in the TITLE field (first 80
    chars of text, indexed as a second analyzed field). The score uses the
    TITLE's own df/tf/doclen/avgdl — none of the body field's stats leak
    in, which is exactly what the oracle reproduces from substr(text,1,80)."""
    s = _searcher(spark, sf_dir)
    return _topk_df(s, TermQuery("data", field="title"), 10)


def q_ft_dismax_fields(spark, sf_dir):
    """MultiFieldQueryParser's canonical output shape
    (QueryParser/MultiFieldQueryParser.cs:43 building a DisjunctionMaxQuery
    across fields): 'data' searched in BOTH the body and the title field,
    scored per-field with each field's own stats, combined by dismax
    (tie_breaker=0: best field wins)."""
    s = _searcher(spark, sf_dir)
    q = DisjunctionMaxQuery(
        (TermQuery("data"), TermQuery("data", field="title")), tie_breaker=0.0
    )
    return _topk_df(s, q, 10)


def q_ft_search_batch(spark, sf_dir):
    """Batched multi-query search (TopDocs per query —
    Searcher.search_batch, the mixed-stream throughput lever priced in
    BENCH): two query shapes resolve their term stats in one driver-side
    lookup; df-bounded queries like these are answered on the driver with
    no Spark job, and the rest would union on as Spark branches. Output is
    the union of per-query top-5s keyed by query_id. Oracle = union of the
    per-query oracles."""
    s = _searcher(spark, sf_dir)
    res = s.search_batch(
        {"q_data": TermQuery("data"), "q_join_row": PhraseQuery(("join", "row"))},
        k=5,
    )
    return res.select(
        "query_id",
        F.col("docid").alias("doc_id"),
        F.col("score").cast("long").alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ft_suggest_analyzed(spark, sf_dir):
    """Analysis-chain-aware completion with context
    (AnalyzingSuggester.cs:90 analogue, r4): the typed text runs through
    the index's analyzer; the last token completes against the term
    dictionary and earlier tokens become a co-occurrence context — each
    completion's weight is its df among docs containing the context
    ('data me' -> 'merge' ranked by |docs with data AND merge|). Plan:
    dictionary-prefix candidate scan broadcast into the candidates'
    postings + one semi-join against the context docids."""
    s = _searcher(spark, sf_dir)
    return s.suggest_analyzed("data me", 10).select(
        "term", F.col("df").cast("long").alias("df")
    )


def q_ft_fuzzy_suggest(spark, sf_dir):
    """Typo-tolerant autocomplete (FuzzySuggester.cs:59 analogue): the
    mistyped prefix 'serch' still completes to 'search...' terms — term
    prefixes within 1 edit, ranked (distance, df desc, term)."""
    s = _searcher(spark, sf_dir)
    return s.fuzzy_suggest("sperk", 10).select(
        "term",
        F.col("df").cast("long").alias("df"),
        F.col("distance").cast("long").alias("distance"),
    )


def q_ft_spell(spark, sf_dir):
    """Spell correction (Suggest/Spell/SpellChecker.cs): nearest dictionary
    terms by levenshtein distance, df-ranked."""
    s = _searcher(spark, sf_dir)
    return s.spell_correct("tabel", k=5, max_edits=2).select(
        "term",
        F.col("df").cast("long").alias("df"),
        F.col("distance").cast("long").alias("distance"),
    )


# ---- training-data pipeline operators (documents/embeddings) -------------- #


def q_dd_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on md5(text) (scale path: one shuffle on
    the hash key; identical hex in Spark and DuckDB)."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"), F.min("doc_id").cast("long").alias("keep_doc"))
        .orderBy("text_hash")
    )


def q_dd_exact_substring(spark, sf_dir):
    """Exact repeated-SPAN detection — the distributed form of the
    exact-substring method in Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better" (there: a single-machine suffix
    array over the whole corpus; here: every 16-token window, stride 1,
    fingerprinted to a 32-hex md5 and hash-grouped — one shuffle on the
    fingerprint, linear in corpus tokens). A fingerprint seen in >= 2
    distinct documents is a cross-document repeated span (the class the
    paper removes). Returns the top-20 by (docs, occurrences) with a
    total-order tiebreak so the cut is deterministic.

    100 TB story: the 16x row inflation ships only (hash, doc_id) pairs
    — 40 bytes/row, not text — and partial aggregation combines
    map-side; the known refinement for petabyte corpora (stride-s
    sampling + local verify-extend, s <= span_target - window + 1) trades
    shuffle volume for a verify pass and is documented here rather than
    implemented: at bench scale stride 1 IS the exact method."""
    w = 16
    d = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_TOKS_SPARK).alias("toks")
    )
    spans = d.filter(F.size("toks") >= w).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(toks) - {w - 1}),"
                f" i -> md5(concat_ws(' ', slice(toks, i, {w}))))"
            )
        ).alias("span_hash"),
    )
    return (
        spans.groupBy("span_hash")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(
            F.desc("n_docs"), F.desc("n_occ"), F.asc("span_hash")
        )
        .limit(20)
    )


def q_txt_line_dedup(spark, sf_dir):
    """Cross-document boilerplate removal — the frequent-line filter of
    C4 / CCNet / RefinedWeb (drop any line that repeats across >= k
    documents: navbars, cookie banners, license footers). The synthetic
    corpus carries no newlines, so a "line" is realized as each
    non-overlapping 8-token segment (the operator is delimiter-generic;
    only the segmentation expression changes for real text). Two stages:
    (1) segment -> groupBy(segment text) -> the frequent set (>= 3
    distinct docs); (2) anti-join docs' segments against it, count
    survivors per doc. Scale: stage 1 is one hash shuffle with map-side
    combine; the frequent set is tiny by construction (boilerplate), so
    stage 2's anti-join broadcasts — no second corpus shuffle."""
    seg_expr = (
        "transform(sequence(0, CAST(floor(size(toks)/8) AS INT) - 1),"
        " i -> concat_ws(' ', slice(toks, i*8 + 1, 8)))"
    )
    d = (
        _docs(spark, sf_dir)
        .select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
        .filter(F.size("toks") >= 8)
        .select("doc_id", F.explode(F.expr(seg_expr)).alias("seg"))
    )
    frequent = (
        d.groupBy("seg")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 3)
        .select("seg")
    )
    kept = d.join(F.broadcast(frequent), "seg", "left_anti")
    return (
        d.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_seg"))
        .join(
            kept.groupBy("doc_id").agg(
                F.count(F.lit(1)).cast("long").alias("n_kept")
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "n_seg",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
        .orderBy("doc_id")
    )


_MINHASH_PERMS = 128  # real-recall signature width (was a toy 8 until r4)


def _minhash_band_rows(n_docs: int) -> int:
    """Scale-aware rows-per-band r = clamp(2, 8, ceil(log2(n)/4)): for any
    fixed background Jaccard j0 < 1 of unrelated pairs, a band collision
    has probability j0^r, so growing r with log2(n) keeps EXPECTED random
    band collisions ~linear in corpus size instead of quadratic — the same
    scale-aware argument as the embedding-LSH band width. The sweet spot
    moves with r ((1/b)^(1/r) threshold), which is the honest trade: more
    docs -> candidates reserved for more-similar pairs."""
    import math as _m

    return int(min(8, max(2, _m.ceil(_m.log2(max(n_docs, 2)) / 4.0))))


_MINHASH_PAIR_CACHE: dict[str, DataFrame] = {}


def q_dd_minhash_lsh(spark, sf_dir, num_perms: int = _MINHASH_PERMS,
                     band_rows: int | None = None):
    """MinHash + LSH near-dup candidates: 3-token shingles -> ``num_perms``
    md5-derived min-hashes -> ``num_perms // r`` bands of ``r`` rows ->
    band-bucket self-join. The banding join is the scale path: candidate
    generation never compares all pairs, and r defaults to the scale-aware
    shape (see _minhash_band_rows) so random collisions stay linear in
    corpus size. The md5(j:shingle) hash contract is unchanged, so the
    DuckDB oracle reproduces signatures bit-for-bit at any shape.

    The default-shape candidate set is memoized per sf_dir as a cached
    DataFrame (r5): the three dedup stages (candidates -> verify ->
    clustering) share ONE banding computation — the same reuse a
    production pipeline gets by materializing the candidate table."""
    key = os.path.basename(os.path.normpath(sf_dir)) or "default"
    default_shape = num_perms == _MINHASH_PERMS and band_rows is None
    if default_shape and key in _MINHASH_PAIR_CACHE:
        return _MINHASH_PAIR_CACHE[key]
    d = _docs(spark, sf_dir).select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
    if band_rows is None:
        # n from footer/catalog metadata, NOT a corpus pass (r5 — at 100 TB
        # a count() here would be a full scan before the real job)
        band_rows = _minhash_band_rows(_table_rows(sf_dir, "documents"))
    # guard: a doc with <3 tokens has NO 3-shingles — sequence(0, size-3)
    # would otherwise produce a descending range and slice() would throw
    sh = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 3 THEN "
                "transform(sequence(0, size(toks)-3), "
                "i -> concat_ws(' ', slice(toks, i+1, 3))) "
                "ELSE array() END"
            )
        ).alias("sh"),
    ).distinct()
    n_used = (num_perms // band_rows) * band_rows  # whole bands only
    seeds = F.explode(F.expr(f"sequence(0, {n_used - 1})")).alias("j")
    hashed = sh.select("doc_id", "sh", seeds).withColumn(
        "h",
        F.conv(F.substring(F.md5(F.concat_ws(":", F.col("j"), F.col("sh"))), 1, 8), 16, 10).cast("long"),
    )
    mh = hashed.groupBy("doc_id", "j").agg(F.min("h").alias("mh"))
    # bands of r consecutive signature rows (key = j-ordered minhash concat)
    bands = (
        mh.withColumn("band", (F.col("j") / band_rows).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.concat_ws(
                "_",
                F.expr("transform(sort_array(collect_list(struct(j, mh))), s -> CAST(s.mh AS STRING))"),
            ).alias("key")
        )
    )
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .distinct()
        .orderBy("a", "b")
    )
    if default_shape:
        _MINHASH_PAIR_CACHE[key] = pairs.cache()
        return _MINHASH_PAIR_CACHE[key]
    return pairs


def q_dd_simhash(spark, sf_dir):
    """SimHash document fingerprint: 32-bit md5-derived token hashes,
    per-bit +/-1 vote over all token occurrences, sign -> bit.

    Computed per-doc in ONE ``mapInArrow`` pass (numpy bit votes): zero
    shuffle and shuffle-free scan volume ∝ tokens — not tokens×32 as the
    naive explode(bit)-groupBy shape would cost. md5 runs once per UNIQUE
    token per batch (Arrow dictionary_encode), matching the DuckDB oracle's
    ``md5(t)[:8]`` hex-prefix integer exactly."""
    import numpy as np  # noqa: PLC0415

    def kernel(batches):
        import hashlib  # noqa: PLC0415

        import pyarrow as pa  # noqa: PLC0415
        import pyarrow.compute as pc  # noqa: PLC0415

        bitpos = np.arange(32, dtype=np.int64)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            doc_ids = rb.column("doc_id").to_numpy(zero_copy_only=False)
            toks = rb.column("toks")
            lens = (
                pc.fill_null(pc.list_value_length(toks), 0)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            enc = pc.dictionary_encode(pc.list_flatten(toks))
            uniq = enc.dictionary.to_pylist()
            codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            uh = np.fromiter(
                (
                    int.from_bytes(hashlib.md5(u.encode()).digest()[:4], "big")
                    for u in uniq
                ),
                dtype=np.int64,
                count=len(uniq),
            )
            h = uh[codes]
            # (n_tokens, 32) ±1 votes; per-doc sums via reduceat on the
            # row-start offsets of docs that have tokens
            votes = (((h[:, None] >> bitpos) & 1) * 2 - 1).astype(np.int32)
            starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
            nz = lens > 0
            if not nz.any():
                continue
            sums = np.add.reduceat(votes, starts[nz], axis=0)
            bits = (sums > 0).astype(np.int64)
            sim = (bits << bitpos).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [pa.array(doc_ids[nz]), pa.array(sim)],
                schema=pa.schema([("doc_id", pa.int64()), ("simhash", pa.int64())]),
            )

    d = _docs(spark, sf_dir).select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
    return d.mapInArrow(kernel, schema="doc_id long, simhash long").orderBy("doc_id")


def _jaccard_verify(tok: DataFrame, cand: DataFrame, tau_x1m: int = 600000) -> DataFrame:
    """Exact Jaccard over a CANDIDATE pair set: count shared tokens per pair
    by routing each candidate's token lists through two equi-joins (rows ∝
    Σ over candidates of doc size — bounded by the candidate count, never by
    token df), then apply the integer-micro threshold. ``tok``: (doc_id, t)
    distinct tokens; ``cand``: (a, b) pairs."""
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ta = tok.select(F.col("doc_id").alias("a"), "t")
    tb = tok.select(F.col("doc_id").alias("b"), "t")
    inter = (
        cand.join(ta, "a")        # candidate pairs × a's tokens
        .join(tb, ["b", "t"])     # keep tokens b also has
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "a").join(sb, "b")
        .withColumn(
            "j_x1m",
            F.floor(
                F.col("inter").cast("double") * 1000000.0
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
                + 0.5
            ).cast("long"),
        )
        .filter(F.col("j_x1m") >= tau_x1m)
        .select("a", "b", "j_x1m")
        .orderBy("a", "b")
    )


def q_nd_jaccard(spark, sf_dir):
    """Token-set Jaccard near-dup within source groups at τ=0.6, via PPJoin
    prefix filtering (Bayardo et al., "Scaling Up All Pairs Similarity
    Search", WWW'07): order each doc's distinct tokens by global rarity
    (df asc, token asc) and join only on each doc's PREFIX — the first
    ``|d| - ⌈τ·|d|⌉ + 1`` rarest tokens. Two docs with J ≥ τ must share a
    prefix token (overlap ≥ ⌈τ·max(|a|,|b|)⌉), so the candidate set is
    EXACT (no false negatives) while a stopword shared by k docs no longer
    yields O(k²) pair rows — only its (rare-token) prefix occurrences join.
    Candidates are then verified exactly (_jaccard_verify). This is the
    shape that survives a 100 TB corpus; the naive inverted-index join is
    quadratic in per-token df."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "source", F.explode(F.array_distinct(F.expr(_TOKS_SPARK))).alias("t")
    )
    df_t = d.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("t"))
    # doc size rides the SAME doc_id window partitioning as the rank — no
    # separate sizes join/shuffle on the prefix path
    ranked = (
        d.join(df_t, "t")
        .withColumn("rk", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        # prefix length |d| - ceil(0.6|d|) + 1; ceil(3n/5) = (3n+4) div 5
        .filter(F.col("rk") <= F.col("n") - F.floor((3 * F.col("n") + 4) / 5) + 1)
        .select("doc_id", "source", "t")
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .distinct()
    )
    return _jaccard_verify(d.select("doc_id", "t"), cand)


def q_dd_lsh_verify(spark, sf_dir):
    """The full two-stage near-dup pipeline: MinHash-LSH candidate
    generation (q_dd_minhash_lsh, 128 perms, scale-aware band shape)
    chained into exact Jaccard verification — band-bucket join proposes,
    token-intersection join disposes. Output: candidate pairs whose TRUE
    token-set Jaccard ≥ 0.5 (sub-threshold on purpose: the banding has
    partial recall near its sweet spot, so the verify stage is doing real
    filtering here, not rubber-stamping)."""
    key = os.path.basename(os.path.normpath(sf_dir)) or "default"
    if key in _LSH_VERIFY_CACHE:
        return _LSH_VERIFY_CACHE[key]
    cand = q_dd_minhash_lsh(spark, sf_dir)
    tok = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.array_distinct(F.expr(_TOKS_SPARK))).alias("t")
    )
    res = _jaccard_verify(tok, cand, tau_x1m=500000).cache()
    _LSH_VERIFY_CACHE[key] = res
    return res


#: verified-pair memo shared with dd_cluster_cc (see q_dd_minhash_lsh)
_LSH_VERIFY_CACHE: dict[str, DataFrame] = {}


def cc_labels(edges: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Connected-component labels for an undirected pair graph given as
    (a, b) edge rows: -> (node, lbl) with lbl = min node id of the
    component. Iterative min-label propagation — see q_dd_cluster_cc's
    docstring for the algorithm/scale discussion. Raises on no fixpoint
    within ``max_rounds``."""
    e = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).cache()
    labels = (
        e.select(F.col("a").alias("node")).distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        msgs = e.join(
            labels.withColumnRenamed("node", "a"), "a"
        ).select(F.col("b").alias("node"), "lbl")
        new = (
            labels.unionByName(msgs)
            .groupBy("node").agg(F.min("lbl").alias("lbl"))
            .localCheckpoint()
        )
        changed = (
            new.join(labels.withColumnRenamed("lbl", "old"), "node")
            .filter(F.col("lbl") != F.col("old"))
            .count()
        )
        labels = new
        if changed == 0:
            return labels
    raise AssertionError(f"cc_labels: no fixpoint in {max_rounds} rounds")


def q_dd_cluster_cc(spark, sf_dir):
    """Near-duplicate CLUSTERING — the stage a real 100 TB dedup pipeline
    runs AFTER pair generation: connected components over the verified
    near-dup pair graph (the dd_lsh_verify edges), so transitive chains
    a~b~c collapse to one cluster with one representative (min doc_id)
    even when a and c themselves fall below the pair threshold.

    Algorithm: iterative min-label propagation — each round every node
    takes the minimum label among itself and its neighbors (one shuffle
    per round: edges ⋈ labels, groupBy node min). Rounds needed = graph
    diameter; near-dup clusters are shallow (dup chains, not paths), and
    the adversarial-chain fix is the published large-star/small-star
    reformulation (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) which converges in O(log n) rounds with the same
    per-round join shape — this implementation keeps the plain rounds
    (cap 20, raises on non-convergence) because the per-round plan is
    identical and the cap is the documented scale knob. Lineage is
    truncated per round (localCheckpoint) so the iterative self-join
    never compounds the plan. The convergence check collects ONE scalar
    per round (count of changed labels) — driver-bounded.

    Output: (doc_id, cluster, csize) for every node of the pair graph;
    cluster = min doc_id of the component (the kept representative).
    Oracle: DuckDB recursive reachability closure + min label."""
    edges = q_dd_lsh_verify(spark, sf_dir).select("a", "b")
    labels = cc_labels(edges)
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("csize"))
    return (
        labels.join(sizes, "lbl")
        .select(
            F.col("node").cast("long").alias("doc_id"),
            F.col("lbl").cast("long").alias("cluster"),
            F.col("csize").cast("long").alias("csize"),
        )
        .orderBy("doc_id")
    )


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k over embeddings (the ANN baseline): fold-
    ordered dot product in Spark SQL higher-order functions (JVM, no Python
    in the hot path); distributed TakeOrderedAndProject top-k."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0]
    qv = [float(x) for x in qrow["embedding"]]
    nq = 0.0
    for x in qv:
        nq = nq + x * x
    qlit = F.array(*[F.lit(x) for x in qv])
    d = emb.filter(F.col("vec_id") != 0).withColumn("qv", qlit)
    d = d.withColumn(
        "dot",
        F.expr(
            "aggregate(zip_with(embedding, qv, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        ),
    ).withColumn(
        "na",
        F.expr(
            "aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        ),
    )
    d = d.withColumn(
        "cos_x1m",
        F.floor(F.col("dot") / (F.sqrt(F.col("na")) * F.lit(math.sqrt(nq))) * 1000000.0 + 0.5).cast("long"),
    )
    top = d.orderBy(F.desc("cos_x1m"), F.asc("vec_id")).limit(10)
    w = Window.orderBy(F.desc("cos_x1m"), F.asc("vec_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "vec_id", F.col("label").cast("long").alias("label"), "cos_x1m", "rank"
    )


def q_ann_lsh_bucket(spark, sf_dir):
    """Random-hyperplane LSH bucketing — the ANN scale path: 8 deterministic
    md5-seeded hyperplanes, sign bits -> bucket id; at scale, top-k runs
    within (a few probes of) one bucket instead of the full corpus."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    cols = []
    for j in range(_N_PLANES):
        plane = F.array(*[F.lit(w) for w in _PLANES[j]])
        dot = F.expr(
            f"aggregate(zip_with(embedding, plane_{j}, (x, y) -> CAST(x AS DOUBLE) * y), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        emb = emb.withColumn(f"plane_{j}", plane)
        cols.append(F.when(dot > 0.0, F.lit(1 << j)).otherwise(F.lit(0)))
    bucket = cols[0]
    for c in cols[1:]:
        bucket = bucket + c
    return emb.select("vec_id", bucket.cast("long").alias("bucket")).orderBy("vec_id")


def _bucket4_col():
    """4-plane (16-bucket) coarse LSH bucket expression — the blocking
    table for composed bucket-local top-k and embedding near-dup."""
    cols = []
    exprs = []
    for j in range(4):
        lit = "array(" + ", ".join(repr(w) for w in _PLANES[j]) + ")"
        dot = (
            f"aggregate(zip_with(embedding, {lit}, (x, y) -> CAST(x AS DOUBLE) * y), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        exprs.append(f"CASE WHEN {dot} > 0.0 THEN {1 << j} ELSE 0 END")
    return F.expr(" + ".join(exprs))


_COS_X1M = (
    "CAST(floor("
    "aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    " / (sqrt(aggregate(transform(ea, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    " * sqrt(aggregate(transform(eb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)))"
    " * 1000000.0 + 0.5) AS BIGINT)"
)


def _fold_norm(vals) -> float:
    """sqrt of the SEQUENTIAL left-fold of squares — the exact same IEEE
    op order as the engine/oracle list folds, so a python-side norm equals
    the SQL-side one bit-for-bit."""
    acc = 0.0
    for x in vals:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def _cos6_expr(lit_vals, lit_norm: float):
    """x1m integer cosine between the row's int-scaled vector column v6
    and a python literal vector (fold-ordered dot, norm literal)."""
    arr = "array(" + ", ".join("CAST(%r AS DOUBLE)" % float(x) for x in lit_vals) + ")"
    dot = (
        f"aggregate(zip_with(v6, {arr}, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    nv = (
        "aggregate(transform(v6, x -> x * x), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return F.expr(
        f"CAST(floor({dot} / (sqrt({nv}) * CAST({lit_norm!r} AS DOUBLE)) "
        "* 1000000.0 + 0.5) AS BIGINT)"
    )


def _ivf_params(n: int) -> tuple[int, int]:
    """Scale-aware IVF shape: K = clamp(8, 4096, ceil(sqrt(n))) cells so a
    cell holds ~sqrt(n) vectors (the classic IVF balance point — both the
    coarse scan over K centroids and the fine scan over probed cells grow
    ~sqrt(n) instead of n), nprobe = clamp(2, 64, ceil(sqrt(K))). The
    formula is pure SQL arithmetic so the DuckDB oracle derives the SAME
    shape from count(*)."""
    k = int(min(4096, max(8, math.ceil(math.sqrt(max(n, 1))))))
    nprobe = int(min(64, max(2, math.ceil(math.sqrt(k)))))
    return k, nprobe


def _ivf_assign_udf(cent_rows: "list[tuple[int, list[float]]]"):
    """Vectorized nearest-centroid assignment: a mapInPandas batch kernel
    computing the int-scaled cosine of every row against every centroid
    with one int64 matrix product (numpy). Cluster ids and tie-breaks
    (max cosine, then LOWEST cluster id) replicate the SQL oracle's
    row_number ordering; the int64 dot is EXACT, so it equals the
    oracle's sequential double fold whenever that fold stays under 2^53
    (documented bound — holds with orders of magnitude to spare for
    unit-norm embeddings at the tested scales)."""
    import numpy as _np
    import pandas as _pd

    ids = _np.array([j for j, _ in cent_rows], dtype=_np.int64)
    C = _np.array([v for _, v in cent_rows], dtype=_np.int64)  # K x dim
    normC = _np.sqrt((C.astype(_np.float64) ** 2).sum(axis=1))

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = _np.array(pdf["v6"].tolist(), dtype=_np.int64)
            dot = X @ C.T  # exact int64
            nv = _np.sqrt((X.astype(_np.float64) ** 2).sum(axis=1))
            cx = _np.floor(
                dot.astype(_np.float64) / (nv[:, None] * normC[None, :])
                * 1000000.0 + 0.5
            ).astype(_np.int64)
            best = cx.argmax(axis=1)  # ties -> first = lowest cluster id
            yield _pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cluster": ids[best]}
            )

    return assign


def q_ann_ivf_flat(spark, sf_dir):
    """IVF-flat ANN — the coarse-quantizer scale path the LSH buckets
    don't cover. r5 makes the shape SCALE-AWARE: K = clamp(8, 4096,
    ceil(sqrt(n))) cells seeded by the K vectors with the smallest
    md5(vec_id) (a deterministic, order-free sample both engines
    reproduce), one Lloyd assignment round, then the query probes the
    nprobe = clamp(2, 64, ceil(sqrt(K))) nearest cells and ranks their
    candidates exactly. n comes from Parquet footer metadata (catalog
    stats — no counting pass).

    Determinism contract (everything reproducible by the DuckDB oracle):
    vectors are int-scaled (floor(x*1e6+0.5)); a centroid is the exact
    INTEGER per-dim SUM of its members (cosine is scale-invariant, so
    cos(v, sum) == cos(v, mean) and the n_j division never happens);
    row-vs-centroid assignment runs as an int64 matrix product inside a
    mapInPandas kernel (exact, order-free — equal to the oracle's
    sequential double fold under the documented 2^53 bound), candidate
    scoring keeps the JVM fold. Driver pulls are bounded by K (seeds,
    cell sums: K*64 longs), never by n. At scale: seeding is a
    TakeOrderedAndProject over md5 keys, assignment one broadcast of K
    centroids + a map-side kernel, cell sums one groupBy(cluster, dim)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = _table_rows(sf_dir, "embeddings")
    k, nprobe = _ivf_params(n)
    e6 = emb.select(
        "vec_id", "label",
        F.expr(
            "transform(embedding, x -> "
            "CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE))"
        ).alias("v6"),
    )
    seed_rows = (
        e6.orderBy(
            F.md5(F.col("vec_id").cast("string").cast("binary")).asc(),
            F.col("vec_id").asc(),
        )
        .limit(k)
        .collect()  # bounded: K <= 4096 rows
    )
    seeds = sorted(
        (int(r["vec_id"]), [float(x) for x in r["v6"]]) for r in seed_rows
    )
    assign1 = e6.select("vec_id", "v6").mapInPandas(
        _ivf_assign_udf(seeds), "vec_id long, cluster long"
    )
    sums = (
        e6.join(assign1, "vec_id")
        .select("cluster", F.posexplode("v6").alias("dim", "val"))
        .groupBy("cluster", "dim")
        .agg(F.sum(F.col("val").cast("long")).alias("s"))
        .collect()  # bounded: <= K*64 rows
    )
    cent: dict[int, list[int]] = {}
    for r in sums:
        cent.setdefault(int(r["cluster"]), [0] * 64)[int(r["dim"])] = int(r["s"])
    cents = sorted((j, [float(x) for x in v]) for j, v in cent.items())
    assign2 = e6.select("vec_id", "v6").mapInPandas(
        _ivf_assign_udf(cents), "vec_id long, cluster long"
    )

    q6 = [
        float(x)
        for x in e6.filter(F.col("vec_id") == 0).collect()[0]["v6"]
    ]
    nq6 = _fold_norm(q6)
    probe_sc = []
    for j, cv in cents:
        acc = 0.0
        for x, y in zip(q6, cv):
            acc = acc + float(x) * float(y)
        cx = math.floor(acc / (nq6 * _fold_norm(cv)) * 1000000.0 + 0.5)
        probe_sc.append((-cx, j))
    probes = [j for _, j in sorted(probe_sc)[:nprobe]]

    cand = (
        e6.join(assign2, "vec_id")
        .filter(F.col("cluster").isin([int(p) for p in probes]))
        .filter(F.col("vec_id") != 0)
        .withColumn("cos_x1m", _cos6_expr(q6, nq6))
    )
    w = Window.orderBy(F.desc("cos_x1m"), F.asc("vec_id"))
    return (
        cand.orderBy(F.desc("cos_x1m"), F.asc("vec_id")).limit(5)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .select(
            "vec_id",
            F.col("label").cast("long").alias("label"),
            "cluster",
            "cos_x1m",
            "rank",
        )
    )


def q_ann_lsh_topk(spark, sf_dir):
    """The COMPOSED ANN scale path (the missing piece beyond bucket
    assignment): query vector -> its coarse LSH bucket -> exact cosine
    top-5 WITHIN the bucket only. At scale the bucketed table is
    partitioned by bucket, so the probe touches one partition instead of
    the corpus; multiprobe = union of a few neighboring buckets."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    b = emb.withColumn("bucket", _bucket4_col())
    qb = b.filter(F.col("vec_id") == 0).select("bucket", "embedding").collect()[0]
    qv = [float(x) for x in qb["embedding"]]
    cand = b.filter((F.col("bucket") == int(qb["bucket"])) & (F.col("vec_id") != 0))
    cand = cand.withColumn("qv", F.array(*[F.lit(x) for x in qv]))
    cand = cand.withColumn(
        "cos_x1m",
        F.expr(_COS_X1M.replace("ea", "embedding").replace("eb", "qv")),
    )
    top = cand.orderBy(F.desc("cos_x1m"), F.asc("vec_id")).limit(5)
    w = Window.orderBy(F.desc("cos_x1m"), F.asc("vec_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "vec_id", "cos_x1m", "rank"
    )


# scale-aware embedding LSH: 2 bands, each of w sign bits where
# w = clamp(4, 24, ceil(log2 n)) — random-pair band collision is 2^-w, so
# expected random candidates ≈ bands * n^2 / 2^w ≈ bands * n stays LINEAR in
# corpus size (the fixed 4-bit bands of the old version were Θ(n²/16)).
# The oracle reproduces w in-SQL (substr truncation of a max-width bit
# string), so both engines derive it from the same table count.
_EMB_BANDS = 2
_EMB_MAX_BITS = 24


def _emb_band_bits(n: int) -> int:
    return min(_EMB_MAX_BITS, max(4, math.ceil(math.log2(max(n, 2)))))


def _emb_bands_df(emb: DataFrame, w: int) -> DataFrame:
    """(vec_id, band, key) — band keys as '0'/'1' strings of width w. One
    zero-shuffle mapInPandas pass: hyperplanes are regenerated inside the
    kernel (pure function of (plane, dim) via md5) and the dot products are
    a sequential-in-d double fold, the exact op order of the oracle's
    list_reduce left fold — sign decisions match bit-for-bit. No literal
    arrays in the plan (the old 8x64-literal version spent seconds in plan
    compile)."""
    import numpy as np
    import pandas as pd

    # plane index space is banded at _EMB_MAX_BITS stride (band b's bits are
    # planes b*MAX_BITS .. b*MAX_BITS+w-1), so widening w extends each band's
    # key without renumbering the other band's planes — the oracle's substr
    # truncation relies on this
    plane_ids = [
        band * _EMB_MAX_BITS + c for band in range(_EMB_BANDS) for c in range(w)
    ]
    nplanes = len(plane_ids)

    def band_keys(batches):
        P = np.array(
            [[_plane_weight(j, d) for d in range(_DIM)] for j in plane_ids],
            dtype=np.float64,
        )
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            # strict left fold over dims (acc + v_d*p_d), matching DuckDB's
            # list_reduce order so borderline signs can never diverge
            acc = np.zeros((len(pdf), nplanes), dtype=np.float64)
            for d in range(_DIM):
                acc += V[:, d : d + 1] * P[:, d]
            bits = np.where(acc > 0.0, "1", "0").astype("U1")
            vec_ids = pdf["vec_id"].to_numpy(np.int64)
            out_ids = np.tile(vec_ids, _EMB_BANDS)
            out_band = np.repeat(np.arange(_EMB_BANDS, dtype=np.int32), len(pdf))
            keys = []
            for band in range(_EMB_BANDS):
                seg = bits[:, band * w : (band + 1) * w]
                key = seg[:, 0]
                for c in range(1, w):
                    key = np.char.add(key, seg[:, c])
                keys.append(key)
            yield pd.DataFrame(
                {"vec_id": out_ids, "band": out_band, "key": np.concatenate(keys)}
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        band_keys, schema="vec_id long, band int, key string"
    )


def _emb_candidates(emb: DataFrame, w: int) -> DataFrame:
    """Banded self-join: a pair is a candidate iff ANY band key matches —
    never an all-pairs join."""
    bands = _emb_bands_df(emb, w)
    a, b2 = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("a"), F.col("b.vec_id").alias("b"))
        .distinct()
    )


def q_ann_lsh_multiprobe(spark, sf_dir):
    """Multiprobe ANN (the recall lever the plain bucket probe lacks): probe
    the query's coarse LSH bucket AND every Hamming-distance-1 neighbor
    (flip one of the 4 sign bits — the signature bits most likely to differ
    for a true neighbor near a hyperplane), exact cosine top-5 within the
    probed set. At scale the bucketed table is partitioned by bucket, so
    this touches 5 of 16 partitions instead of the corpus; recall rises
    from 1 bucket's ~cos-cone to its 1-bit neighborhood."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    b = emb.withColumn("bucket", _bucket4_col())
    qb = b.filter(F.col("vec_id") == 0).select("bucket", "embedding").collect()[0]
    qv = [float(x) for x in qb["embedding"]]
    probes = [int(qb["bucket"]) ^ m for m in (0, 1, 2, 4, 8)]
    cand = b.filter(F.col("bucket").isin(probes) & (F.col("vec_id") != 0))
    cand = cand.withColumn("qv", F.array(*[F.lit(x) for x in qv]))
    cand = cand.withColumn(
        "cos_x1m",
        F.expr(_COS_X1M.replace("ea", "embedding").replace("eb", "qv")),
    )
    top = cand.orderBy(F.desc("cos_x1m"), F.asc("vec_id")).limit(5)
    w = Window.orderBy(F.desc("cos_x1m"), F.asc("vec_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "vec_id", "cos_x1m", "rank"
    )


def q_dd_embed_cosine(spark, sf_dir):
    """Embedding-cosine near-dup — scale-aware LSH-banded candidate
    generation (2 bands of w = clamp(4, 24, ceil(log2 n)) hyperplane sign
    bits, so expected random candidates stay LINEAR in corpus size) followed
    by exact cosine verification at τ=0.4 (integer-micro threshold). The
    band width the oracle derives in-SQL from count(*) equals the one
    computed here from the Parquet footer row count (catalog metadata —
    no corpus pass)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    # n from footer/catalog metadata, NOT a corpus pass (r5)
    w = _emb_band_bits(_table_rows(sf_dir, "embeddings"))
    cand = _emb_candidates(emb, w)
    ea = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    verified = (
        cand.join(ea, "a").join(eb, "b")
        .withColumn("cos_x1m", F.expr(_COS_X1M))
        .filter(F.col("cos_x1m") >= 400000)
        .select("a", "b", "cos_x1m")
        .orderBy("a", "b")
    )
    return verified


def q_nd_shingle_jaccard(spark, sf_dir):
    """n-gram (3-token shingle) Jaccard near-dup: MinHash-LSH candidates
    (q_dd_minhash_lsh) verified exactly on the DISTINCT SHINGLE sets at
    τ=0.8 — the full n-gram dedup pipeline (candidates are proposed and
    verified on the same shingle universe, unlike dd_lsh_verify which
    verifies on token sets)."""
    cand = q_dd_minhash_lsh(spark, sf_dir)
    d = _docs(spark, sf_dir).select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
    sh = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 3 THEN "
                "transform(sequence(0, size(toks)-3), "
                "i -> concat_ws(' ', slice(toks, i+1, 3))) "
                "ELSE array() END"
            )
        ).alias("t"),
    ).distinct()
    return _jaccard_verify(sh, cand, tau_x1m=800000)


def q_txt_quality(spark, sf_dir):
    """Quality scoring: token count, type count, type-token ratio and mean
    token length (integer-scaled) — the doc-quality features of a training
    data pipeline."""
    d = _docs(spark, sf_dir).select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
    d = d.filter(F.size("toks") > 0)
    return d.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_types"),
        F.floor(
            F.size(F.array_distinct("toks")).cast("double") * 1000000.0
            / F.size("toks").cast("double") + 0.5
        ).cast("long").alias("ttr_x1m"),
        F.floor(
            F.expr("aggregate(toks, CAST(0 AS BIGINT), (a, x) -> a + length(x))").cast("double")
            * 1000000.0 / F.size("toks").cast("double") + 0.5
        ).cast("long").alias("mean_len_x1m"),
    ).orderBy("doc_id")


def q_txt_token_count(spark, sf_dir):
    """Corpus token statistics per source partition (the lineage counters of
    a data pipeline)."""
    d = _docs(spark, sf_dir).select("doc_id", "source", F.expr(_TOKS_SPARK).alias("toks"))
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size("toks")).cast("long").alias("n_tokens"),
        )
        .orderBy("source")
    )


def q_txt_langid(spark, sf_dir):
    """Language-ID heuristic: function-word hits per doc (n-gram/stopword
    profile); deterministic marker lists."""
    d = _docs(spark, sf_dir).select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
    en = F.size(F.array_intersect("toks", F.array(F.lit("the"), F.lit("a"), F.lit("of"))))
    hits = F.size(F.expr("filter(toks, x -> x IN ('the', 'a', 'of'))"))
    return d.select(
        "doc_id",
        hits.cast("long").alias("en_hits"),
        F.when(en > 0, F.lit("en")).otherwise(F.lit("und")).alias("pred_lang"),
    ).orderBy("doc_id")


def q_txt_fingerprint(spark, sf_dir):
    """Rolling polynomial document fingerprint: left fold of
    (acc*31 + md5int(token) % 1000003) % 1000000007 over the token stream."""
    d = _docs(spark, sf_dir).select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
    fp = F.expr(
        "aggregate(transform(toks, t -> CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % 1000003), "
        "CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % 1000000007)"
    )
    return d.select("doc_id", fp.alias("fp")).orderBy("doc_id")


def q_txt_decontam(spark, sf_dir):
    """Train/test n-gram decontamination — the overlap check a training
    pipeline runs before shipping a dataset (the 13-gram check of the
    GPT-3/PaLM data cards, here 3-token shingles at this corpus's ~40-token
    doc length). Benchmark set = docs with doc_id % 31 == 0; a train doc is
    contaminated iff it shares >= 1 shingle with any benchmark doc; output
    = per-doc count of distinct shared shingles. Scale shape: the
    benchmark shingle set is small by construction and BROADCAST, so the
    train side is one scan + hash probe — never a corpus x corpus join;
    at 100 TB the benchmark side (real eval suites: a few MB of n-grams)
    still broadcasts."""
    d = _docs(spark, sf_dir).select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
    sh = d.filter(F.size("toks") >= 3).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 2),"
                " i -> concat_ws(' ', slice(toks, i, 3)))"
            )
        ).alias("shingle"),
    )
    test_sh = sh.filter(F.col("doc_id") % 31 == 0).select("shingle").distinct()
    train = sh.filter(F.col("doc_id") % 31 != 0)
    hits = (
        train.join(F.broadcast(test_sh), "shingle")
        .select("doc_id", "shingle")
        .distinct()
    )
    return (
        hits.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .orderBy("doc_id")
    )


#: PII patterns shared by the Spark and DuckDB sides — kept in the
#: Java-regex ∩ RE2 subset (character classes, bounded quantifiers, \b;
#: no lookaround/backrefs)
_PII_EMAIL_RX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE_RX = r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"
_PII_IP_RX = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

#: deterministic synthetic-PII injection (the corpus carries none): a
#: per-doc email, US-style phone and IPv4, derived from doc_id so both
#: engines rebuild the identical string
_PII_TEXT_SQL = (
    "text || ' contact user' || CAST(doc_id AS STRING) || "
    "'@example.com call 555-' || substr(CAST(1000 + doc_id % 900 AS STRING), 2) || "
    "'-' || CAST(1000 + doc_id % 9000 AS STRING) || "
    "' host 10.' || CAST(doc_id % 256 AS STRING) || '.0.' || "
    "CAST(doc_id % 250 AS STRING)"
)


def q_txt_pii_scrub(spark, sf_dir):
    """PII scrubbing — the redaction pass every web-scale training
    pipeline runs before packing: detect + replace emails / US-style
    phone numbers / IPv4 addresses with typed placeholder tokens, and
    count each class per document (the audit trail). Map-side only
    (regexp_count/regexp_replace, JVM codegen, zero shuffle — linear at
    100 TB). The corpus carries no PII, so a deterministic synthetic
    email+phone+IP per doc is injected first (SQL-reproducible from
    doc_id); the scrub regexes live in the Java∩RE2 subset so the DuckDB
    oracle runs the same patterns. Output pins counts AND the md5 of the
    scrubbed text (placeholder positions included)."""
    d = _docs(spark, sf_dir).withColumn("pii", F.expr(_PII_TEXT_SQL))
    scrub = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("pii"), _PII_EMAIL_RX, "<EMAIL>"),
            _PII_PHONE_RX, "<PHONE>",
        ),
        _PII_IP_RX, "<IP>",
    )
    return (
        d.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.regexp_count(F.col("pii"), F.lit(_PII_EMAIL_RX))
            .cast("long").alias("n_email"),
            F.regexp_count(F.col("pii"), F.lit(_PII_PHONE_RX))
            .cast("long").alias("n_phone"),
            # IPs counted on the email/phone-scrubbed text, mirroring the
            # replace order (an IP-looking run inside a longer match must
            # not double-count)
            F.regexp_count(
                F.regexp_replace(
                    F.regexp_replace(F.col("pii"), _PII_EMAIL_RX, "<EMAIL>"),
                    _PII_PHONE_RX, "<PHONE>",
                ),
                F.lit(_PII_IP_RX),
            ).cast("long").alias("n_ip"),
            F.md5(scrub.cast("binary")).alias("scrubbed_md5"),
        )
        .orderBy("doc_id")
    )


def q_web_url_canon(spark, sf_dir):
    """URL canonicalization dedup — the web-pipeline classic: the same
    page crawled under scheme/host case variants, default ports,
    tracking parameters and fragments must collapse to ONE canonical
    key. Deterministic messy URLs are synthesized per doc (the corpus
    has no url column; SQL-reproducible from doc_id/source), then
    canonicalized componentwise — parse host/path/id with anchored
    regexes, lowercase the host, drop the default port, keep only the
    content-bearing ``id`` parameter, drop utm_*/ref/fragment — and
    rebuilt. Dedup = hash groupBy on the canonical key (map-side
    extraction, ONE linear shuffle — the dd_exact plan shape). Output:
    canonical url, duplicate count, kept representative (min doc_id)."""
    d = _docs(spark, sf_dir).withColumn("url", F.expr(_URL_MESSY_SQL))
    canon = F.concat(
        F.lit("https://"),
        F.lower(F.regexp_extract(F.col("url"), r"^[A-Za-z]+://([^/:?#]+)", 1)),
        F.regexp_extract(F.col("url"), r"://[^/?#]+(/[^?#]*)", 1),
        F.lit("?id="),
        F.regexp_extract(F.col("url"), r"[?&]id=(\d+)", 1),
    )
    return (
        d.select(canon.alias("canonical"), F.col("doc_id"))
        .groupBy("canonical")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.min("doc_id").cast("long").alias("keep_doc"),
        )
        .orderBy("canonical")
    )


#: messy-URL synthesis shared with the oracle: scheme/host case noise,
#: the default :443 port, a utm tracking param, a ref param, a fragment —
#: only source, path bucket and id survive canonicalization
_URL_MESSY_SQL = (
    "CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END || "
    "CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END || "
    "'.Example.COM' || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END || "
    "'/p' || CAST(doc_id % 7 AS STRING) || "
    "'?utm_source=feed&ref=r' || CAST(doc_id % 3 AS STRING) || "
    "'&id=' || CAST(doc_id % 20 AS STRING) || '#frag'"
)


def q_txt_repetition(spark, sf_dir):
    """Within-doc repetition ratio (the Gopher/MassiveText duplicate-n-gram
    quality filter): fraction of 3-token shingles that are duplicates,
    integer-micro. Pure JVM higher-order functions, no shuffle — the
    filter a quality gate applies to every document at ingest."""
    d = _docs(spark, sf_dir).select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
    d = d.filter(F.size("toks") >= 3).select(
        "doc_id",
        F.expr(
            "transform(sequence(1, size(toks) - 2),"
            " i -> concat_ws(' ', slice(toks, i, 3)))"
        ).alias("tg"),
    )
    return d.select(
        "doc_id",
        F.size("tg").cast("long").alias("n_3grams"),
        F.size(F.array_distinct("tg")).cast("long").alias("n_distinct"),
        F.floor(
            (F.size("tg") - F.size(F.array_distinct("tg"))).cast("double")
            * 1000000.0 / F.size("tg").cast("double") + 0.5
        ).cast("long").alias("dup_frac_x1m"),
    ).orderBy("doc_id")


def q_pipe_chunk_sliding(spark, sf_dir):
    """Sliding-window chunking — the tokenize-and-window step every LLM
    training pipeline runs over its corpus: each doc's token stream is cut
    into windows of 64 tokens with stride 48 (16-token overlap), the last
    window keeping its natural (shorter) length. Pure Catalyst higher-order
    functions (transform/sequence/slice + posexplode) — no Python in the
    row path, so the op runs at whole-stage-codegen speed and scales
    linearly in corpus tokens. Chunks are identified content-first
    (md5 of the joined window) so the oracle can hash-compare."""
    d = _docs(spark, sf_dir).select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
    d = d.filter(F.size("toks") > 0)
    d = d.withColumn(
        "__n",
        F.expr("CAST(ceil(greatest(size(toks) - 64, 0) / 48.0) AS INT) + 1"),
    )
    chunks = d.select(
        "doc_id",
        F.posexplode(
            F.expr("transform(sequence(0, __n - 1), i -> slice(toks, i*48+1, 64))")
        ).alias("chunk_id", "chunk"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size("chunk").cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", "chunk")).alias("chunk_md5"),
    )


def q_pipe_pack_offset(spark, sf_dir):
    """Sequence packing by stream offset — the context-assembly step of an
    LLM training pipeline: the corpus's token streams are concatenated in
    doc_id order into one virtual stream cut into fixed 2048-token
    contexts; each document is assigned the context (shard) where its
    FIRST token lands plus its offset inside that context. Documents
    straddle context boundaries — the standard streaming-packing
    semantics, so shard sizes are exactly 2048 with zero padding.

    The global running offset is a SCALABLE two-level scan, never a
    single-partition global window: (1) per-bucket token sums (buckets =
    doc_id ranges of 1024 docs) are prefix-summed with a window over the
    SMALL bucket-sums frame (corpus/1024 rows — add a third level for
    >10^10 docs, same recursion the index builder's distributed docid
    rank uses, index/builder.py assign_sorted_docids); (2) a window
    cumsum WITHIN each bounded bucket adds the local part. The bucket
    offsets broadcast-join back (metadata-sized)."""
    cap = 2048
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.expr(_TOKS_SPARK)).cast("long").alias("n_tokens"),
        (F.floor(F.col("doc_id") / F.lit(1024))).cast("long").alias("__bucket"),
    )
    bsums = d.groupBy("__bucket").agg(F.sum("n_tokens").alias("__bsum"))
    wb = (
        Window.orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boff = bsums.select(
        "__bucket",
        F.coalesce(F.sum("__bsum").over(wb), F.lit(0)).alias("__boff"),
    )
    wd = (
        Window.partitionBy("__bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    so = (
        d.join(F.broadcast(boff), "__bucket")
        .withColumn(
            "__so",
            F.col("__boff") + F.coalesce(F.sum("n_tokens").over(wd), F.lit(0)),
        )
    )
    return so.select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("__so") / cap).cast("long").alias("shard"),
        (F.col("__so") % cap).cast("long").alias("shard_offset"),
    ).orderBy("doc_id")


def q_pipe_stratified_sample(spark, sf_dir):
    """Stratified deterministic sampling by language (the dataset-mixing /
    quota-sampling step of a multilingual pipeline): per-stratum keep-rates
    (en 50%, de/fr 25%, everything else 10%), membership decided by a
    content-free md5(doc_id) bucket so the sample is bit-reproducible
    across runs, engines, and partitionings. No shuffle: hash + filter per
    row, map-side only."""
    d = _docs(spark, sf_dir).select("doc_id", "lang")
    bucket = (
        F.expr("conv(substring(md5(cast(doc_id AS string)), 1, 8), 16, 10)")
        .cast("long") % 100
    )
    rate = (
        F.when(F.col("lang") == "en", F.lit(50))
        .when(F.col("lang").isin("de", "fr"), F.lit(25))
        .otherwise(F.lit(10))
    )
    return (
        d.filter(bucket < rate)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def q_pipe_source_weights(spark, sf_dir):
    """Dataset-mixture materialization with UPSAMPLING — the
    epochs-per-source step of an LLM train run (e.g. wiki x2.5, books
    x1, CC x0.25): per-source weight w emits floor(w) full copies of
    every doc plus one more for the md5(doc_id)-bucketed fraction, so
    the mixture is bit-reproducible across runs/engines/partitionings
    (the same content-free bucket as pipe_stratified_sample, which only
    DOWN-samples). No shuffle: weight lookup + sequence-explode per row,
    map-side only; output rows carry copy_idx so downstream packing
    sees distinct repeats."""
    d = _docs(spark, sf_dir).select("doc_id", "source")
    w = F.expr(
        "CASE source WHEN 'src0' THEN 250 WHEN 'src1' THEN 100 "
        "WHEN 'src2' THEN 25 ELSE 0 END"
    )
    bucket = (
        F.expr("conv(substring(md5(cast(doc_id AS string)), 1, 8), 16, 10)")
        .cast("long") % 100
    )
    copies = (w / 100).cast("long") + F.when(
        bucket < w % 100, F.lit(1)
    ).otherwise(F.lit(0))
    d = d.withColumn("copies", copies).filter(F.col("copies") > 0)
    return (
        d.select(
            "doc_id",
            "source",
            F.explode(F.expr("sequence(1, copies)")).alias("ci"),
        )
        .select(
            "doc_id", "source", F.col("ci").cast("long").alias("copy_idx")
        )
        .orderBy("doc_id", "copy_idx")
    )


def q_txt_unigram_surprisal(spark, sf_dir):
    """Corpus-unigram-LM surprisal — the exact-arithmetic proxy for the
    CCNet/RefinedWeb LM-perplexity quality filter: token surprisal
    -ln p(t) under the corpus's own unigram model, integer-micro per
    TOKEN (floor(ln(total/count)*1e6 + 0.5), the engine's exact-int
    convention) so the per-doc SUM is order-free integer arithmetic —
    bit-reproducible across engines, no float association hazard.
    Plan: one token-count shuffle, then tokens join counts on term and
    integer-sum per doc; at web scale the unigram table is too big to
    broadcast, and this join-on-term formulation is the shape that
    survives (the optimizer may still broadcast a small table — at
    sf0.1 the vocabulary IS small)."""
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.expr(_TOKS_SPARK)).alias("t")
    )
    counts = toks.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    # total folded into the SAME lazy plan via a broadcast 1-row cross
    # join — no driver collect, no persist to leak, no extra corpus
    # pass (AQE reuses the counts exchange for the scalar aggregate)
    total_df = counts.agg(F.sum("cnt").cast("double").alias("total"))
    per_tok = (
        toks.join(counts, "t")
        .crossJoin(F.broadcast(total_df))
        .select(
            "doc_id",
            F.floor(
                F.log(F.col("total") / F.col("cnt").cast("double"))
                * 1000000.0 + 0.5
            ).cast("long").alias("sur"),
        )
    )
    return (
        per_tok.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            F.sum("sur").cast("long").alias("surprisal_micro"),
        )
        .orderBy("doc_id")
    )


_LANG_MARKERS = {
    "de": ("der", "die", "das", "und"),
    "en": ("the", "of", "with", "this"),
    "es": ("el", "los", "las", "una"),
    "fr": ("le", "la", "les", "des"),
}


def q_txt_langid_ngram(spark, sf_dir):
    """Language-ID by function-word profile (the n-gram-heuristic family):
    per-language marker-token hit counts, argmax with lexicographic
    tie-break, 'und' when nothing hits — the classifier shape of a real
    langid stage with deterministic profiles."""
    d = _docs(spark, sf_dir).select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
    hit_cols = {}
    for lang, marks in _LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in marks)
        hit_cols[lang] = F.expr(f"size(filter(toks, x -> x IN ({lst})))")
    best = None
    for lang in sorted(_LANG_MARKERS):  # lexicographic tie-break: first wins ties
        c = hit_cols[lang]
        if best is None:
            best = F.when(c > 0, F.lit(lang)).otherwise(F.lit("und"))
            best_n = c
        else:
            best = F.when(c > best_n, F.lit(lang)).otherwise(best)
            best_n = F.greatest(best_n, c)
    return d.select(
        "doc_id",
        *[hit_cols[lang].cast("long").alias(f"{lang}_hits") for lang in sorted(_LANG_MARKERS)],
        best.alias("pred_lang"),
    ).orderBy("doc_id")


# GPT2-style pre-tokenizer regex, restricted to constructs with identical
# semantics in Java regex (Spark) and RE2 (DuckDB)
_BPE_RE = r"'(s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+"


def q_txt_token_bpe(spark, sf_dir):
    """Token counting two ways (the budget estimators of a training
    pipeline): whitespace tokens and a BPE-ish pre-tokenizer regex count
    (GPT2-family shape), both as JVM-side regexp_extract_all — no Python
    in the path."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    return d.select(
        "doc_id",
        F.expr("size(filter(split(text, ' '), x -> x != ''))").cast("long").alias("n_ws"),
        # F.lit passes the pattern verbatim — an F.expr string literal would
        # swallow the \s escape (Spark SQL literals drop unknown escapes).
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), F.lit(0)))
        .cast("long")
        .alias("n_bpe"),
    ).orderBy("doc_id")


def q_txt_quality_ratios(spark, sf_dir):
    """Quality-score ratio features: stopword ratio, alphabetic-character
    ratio, whitespace ratio (integer-micro) — the punct/stopword family of
    doc-quality filters."""
    stop = "'the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'"
    d = _docs(spark, sf_dir).select("doc_id", "text", F.expr(_TOKS_SPARK).alias("toks"))
    d = d.filter(F.size("toks") > 0)
    return d.select(
        "doc_id",
        F.floor(
            F.expr(f"size(filter(toks, x -> x IN ({stop})))").cast("double")
            * 1000000.0 / F.size("toks").cast("double") + 0.5
        ).cast("long").alias("stop_ratio_x1m"),
        F.floor(
            F.expr("length(regexp_replace(text, '[^a-z]', ''))").cast("double")
            * 1000000.0 / F.length("text").cast("double") + 0.5
        ).cast("long").alias("alpha_ratio_x1m"),
        F.floor(
            F.expr("length(regexp_replace(text, '[^ ]', ''))").cast("double")
            * 1000000.0 / F.length("text").cast("double") + 0.5
        ).cast("long").alias("space_ratio_x1m"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------- #
# registry
# --------------------------------------------------------------------------- #


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's correctness gate covers the first 50
    # entries. Rotation policy (r5): every entry CHANGED this round
    # comes first (scripts/check_gate_order.py enforces it), and the
    # remaining window slots are filled with the entries whose last
    # green gate row is OLDEST (all r2 as of this rotation), so
    # long-ungated carry-overs cycle back through the gate instead of
    # sitting behind the cap forever. Trailing entries were all gated
    # green in r3/r4, unchanged since, with in-repo suite coverage.
    return {
        "ft_lang_router": q_ft_lang_router,
        "ft_cjk_bigram": q_ft_cjk_bigram,
        "ft_lang_router_ptnl": q_ft_lang_router_ptnl,
        "ft_lang_router_multi": q_ft_lang_router_multi,
        "ft_lang_router_xeu": q_ft_lang_router_xeu,
        "ft_lang_router_misc": q_ft_lang_router_misc,
        "ft_lang_router_six": q_ft_lang_router_six,
        "ft_thai_tcc": q_ft_thai_tcc,
        "ft_shingle": q_ft_shingle,
        "ft_common_grams": q_ft_common_grams,
        "ft_leading_wildcard": q_ft_leading_wildcard,
        "ft_pattern_analyzer": q_ft_pattern_analyzer,
        "ft_path_hierarchy": q_ft_path_hierarchy,
        "ft_edge_ngram": q_ft_edge_ngram,
        "ft_char_ngram": q_ft_char_ngram,
        "ft_auto_stop": q_ft_auto_stop,
        "ft_ib_ll": q_ft_ib_ll,
        "ft_synonym_collapse": q_ft_synonym_collapse,
        "ft_percolate": q_ft_percolate,
        "ft_classic_tfidf": q_ft_classic_tfidf,
        "ft_lm_dirichlet": q_ft_lm_dirichlet,
        "ft_search_batch": q_ft_search_batch,
        "ft_lm_jm": q_ft_lm_jm,
        "ft_dfr_ineb2": q_ft_dfr_ineb2,
        "dd_exact_substring": q_dd_exact_substring,
        "txt_line_dedup": q_txt_line_dedup,
        "pipe_source_weights": q_pipe_source_weights,
        "txt_unigram_surprisal": q_txt_unigram_surprisal,
        "ft_span_nested_unord": q_ft_span_nested_unord,
        "ft_complex_phrase": q_ft_complex_phrase,
        "ft_surround": q_ft_surround,
        "ft_simple_qp": q_ft_simple_qp,
        "ft_xml_qp": q_ft_xml_qp,
        "ft_facet_hierarchy": q_ft_facet_hierarchy,
        "ft_lucene_rank": q_ft_lucene_rank,
        "dd_minhash_lsh": q_dd_minhash_lsh,
        "dd_embed_cosine": q_dd_embed_cosine,
        "dd_lsh_verify": q_dd_lsh_verify,
        "dd_cluster_cc": q_dd_cluster_cc,
        "ann_ivf_flat": q_ann_ivf_flat,
        "txt_pii_scrub": q_txt_pii_scrub,
        "web_url_canon": q_web_url_canon,
        "ft_term_range": q_ft_term_range,
        "ft_dismax": q_ft_dismax,
        "ft_match_all_count": q_ft_match_all_count,
        "ft_total_hits": q_ft_total_hits,
        "ft_search_after": q_ft_search_after,
        "ft_facet_lang": q_ft_facet_lang,
        "ft_group_top_source": q_ft_group_top_source,
        "ft_term_dictionary": q_ft_term_dictionary,
        "ft_doc_norms": q_ft_doc_norms,
        "ft_field_keyword": q_ft_field_keyword,
        "ft_field_mixed": q_ft_field_mixed,
        "ft_filtered_range": q_ft_filtered_range,
        "ft_mlt": q_ft_mlt,
        "ft_highlight": q_ft_highlight,
        "ft_rescore": q_ft_rescore,
        "ft_sort_by_field": q_ft_sort_by_field,
        "ft_regexp": q_ft_regexp,
        "ft_common_terms": q_ft_common_terms,
        "ft_fuzzy_scored": q_ft_fuzzy_scored,
        "ft_multi_phrase": q_ft_multi_phrase,
        "ft_suggest": q_ft_suggest,
        "ft_spell": q_ft_spell,
        "dd_simhash": q_dd_simhash,
        "nd_jaccard": q_nd_jaccard,
        "ann_lsh_bucket": q_ann_lsh_bucket,
        "ann_lsh_topk": q_ann_lsh_topk,
        "txt_quality": q_txt_quality,
        "txt_token_count": q_txt_token_count,
        "txt_langid": q_txt_langid,
        "txt_fingerprint": q_txt_fingerprint,
        "ft_phrase_sloppy": q_ft_phrase_sloppy,
        "ft_suggest_analyzed": q_ft_suggest_analyzed,
        "ft_span_field": q_ft_span_field,
        "ft_prefix_scored_field": q_ft_prefix_scored_field,
        "ft_span_near": q_ft_span_near,
        "ft_span_near_unord": q_ft_span_near_unord,
        "ft_span_syn": q_ft_span_syn,
        "ft_span_first": q_ft_span_first,
        "ft_span_or": q_ft_span_or,
        "ft_span_not": q_ft_span_not,
        "ft_span_nested": q_ft_span_nested,
        "pipe_pack_offset": q_pipe_pack_offset,
        "nd_shingle_jaccard": q_nd_shingle_jaccard,
        "ft_field_title": q_ft_field_title,
        "ft_dismax_fields": q_ft_dismax_fields,
        "ft_sorted_range": q_ft_sorted_range,
        "ft_sorted_early_topk": q_ft_sorted_early_topk,
        "ft_cached_filter": q_ft_cached_filter,
        "ft_group_two_pass": q_ft_group_two_pass,
        "ft_terms_filter": q_ft_terms_filter,
        "ft_dup_filter": q_ft_dup_filter,
        "ft_group_count": q_ft_group_count,
        "pipe_chunk_sliding": q_pipe_chunk_sliding,
        "ft_fuzzy_suggest": q_ft_fuzzy_suggest,
        "ft_join_scores": q_ft_join_scores,
        "ft_facet_ts_range": q_ft_facet_ts_range,
        "txt_decontam": q_txt_decontam,
        "txt_repetition": q_txt_repetition,
        "pipe_stratified_sample": q_pipe_stratified_sample,
        "web_extract_text": q_web_extract_text,
        "ft_recency_boost": q_ft_recency_boost,
        "ft_boosting": q_ft_boosting,
        "ft_drilldown": q_ft_drilldown,
        "txt_langid_ngram": q_txt_langid_ngram,
        "txt_token_bpe": q_txt_token_bpe,
        "txt_quality_ratios": q_txt_quality_ratios,
        "ft_ts_range": q_ft_ts_range,
        "ft_sort_by_ts": q_ft_sort_by_ts,
        "ft_highlight_multi": q_ft_highlight_multi,
        "ann_lsh_multiprobe": q_ann_lsh_multiprobe,
        "ft_term_topk": q_ft_term_topk,
        "ft_bool_and": q_ft_bool_and,
        "ft_bool_or": q_ft_bool_or,
        "ft_bool_not": q_ft_bool_not,
        "ft_bool_msm": q_ft_bool_msm,
        "ft_req_opt": q_ft_req_opt,
        "ft_phrase": q_ft_phrase,
        "ft_prefix": q_ft_prefix,
        "ft_wildcard": q_ft_wildcard,
        "ft_fuzzy": q_ft_fuzzy,
        "dd_exact": q_dd_exact,
        "ann_cosine_topk": q_ann_cosine_topk,
    }


# --------------------------------------------------------------------------- #
# oracle SQL (DuckDB dialect; same table views pre-registered by the driver)
# --------------------------------------------------------------------------- #


def _sum_scored(idxs: list[int]) -> str:
    """OR-shape: union of per-term integer scores, sum per doc."""
    unions = " UNION ALL ".join(f"SELECT doc_id, s FROM s{i}" for i in idxs)
    return f"(SELECT doc_id, CAST(sum(s) AS BIGINT) AS score, count(*) AS n FROM ({unions}) GROUP BY doc_id)"


def _lucene32_sql() -> str:
    """DuckDB REAL (float32) oracle for the ft_lucene_rank battery — the
    same seven shapes q_ft_lucene_rank runs, scored with bit-faithful
    float32 BM25 (SURVEY §4.4 / BM25Similarity.cs op order).

    DuckDB's REAL arithmetic is genuine float32 (measured: +,-,*,/ and
    chained expressions over 20k random float32 pairs are bit-identical to
    numpy float32, and CAST(ln(...) AS REAL) matches float32(log1p(...))
    for every df in 1..123457) — so the whole scoring chain is expressed
    with REAL operands and NO intermediate casts, mirroring
    scoring/bm25.py exactly:

    - idf32      = CAST(ln(1 + (N - df + .5)/(df + .5)) AS REAL)
                   (double inner math, one float cast — BM25.idf)
    - avgdl32    = CAST(sum_ttf / maxdoc AS REAL)
    - norm byte  = byte315(1f / f32(sqrt(dl))) via exponent arithmetic:
                   v32 = REAL 1/CAST(sqrt(dl) AS REAL); E = floor(log2 v32)
                   (boundary-corrected); byte = (E+31)*4 + floor(frac*4)
                   — 2 explicit mantissa bits, zero exp 15
                   (SmallFloat.cs:146-160; verified == numpy LUT for every
                   doclen 1..65535)
    - NORM_TABLE[b] = REAL 1 / REAL(decode(b)^2), decode(b) =
                   2^(b//4-31) * (1 + (b%4)/4) exact in double
                   (BM25Similarity.cs:143-154; verified == numpy table)
    - cache      = 1.2f*((1f-0.75f) + 0.75f*tbl/avgdl32)  (all REAL ops)
    - per-clause score = (idf32*(k1+1)f * f32(freq)) / (f32(freq)+cache)
    - clause scores accumulate in DOUBLE and cast to REAL once
      (oracle.py _eval/_eval_boolean convention), rank by
      (score32 DESC, doc_id ASC), top 10 per shape.

    Positional shapes reuse the exact_int entries' anchor enumeration:
    sloppy nearest-adjusted-position (n=2, SloppyPhraseScorer.cs
    PhraseFreq), ordered-span greedy chain, nested-span inner-enumeration
    + gap-sum (NearSpansOrdered) — freq = double sum of 1/(1+matchLength)
    slop factors, cast to REAL once at scoring."""
    k1p1 = "CAST(CAST(1.2 AS REAL) + CAST(1.0 AS REAL) AS REAL)"

    def idf32(df_sql: str) -> str:
        return (
            f"CAST(ln(1.0 + (st.maxdoc - {df_sql} + 0.5)"
            f"/({df_sql} + 0.5)) AS REAL)"
        )

    def idf_dbl(df_sql: str) -> str:
        return (
            f"ln(1.0 + (st.maxdoc - {df_sql} + 0.5)/({df_sql} + 0.5))"
        )

    # per-clause REAL score from a (doc_id, f) relation and a REAL weight
    def score32(f: str, w: str) -> str:
        return f"({w} * {f}) / ({f} + n.nrm)"

    terms = ["data", "spark", "part", "filter", "merge"]
    tctes = []
    for i, t in enumerate(terms):
        tctes.append(
            f"t{i} AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM tok "
            f"WHERE term = '{t}' GROUP BY doc_id)"
        )
        tctes.append(f"df{i} AS (SELECT count(*)::DOUBLE AS df FROM t{i})")
        # single-term float32 score (TermScorer): w32 = idf32 * (k1+1)f
        tctes.append(
            f"s{i} AS (SELECT t.doc_id, CAST("
            + score32(
                "CAST(t.tf AS REAL)",
                f"({idf32(f'(SELECT df FROM df{i})')} * {k1p1})",
            )
            + f" AS DOUBLE) AS s FROM t{i} t "
            "JOIN nrm n USING (doc_id) CROSS JOIN st)"
        )

    def multi_weight(idxs: list[int]) -> str:
        """float32(sum of double idfs) * (k1+1)f — PhraseWeight/SpanWeight."""
        s = " + ".join(idf_dbl(f"(SELECT df FROM df{i})") for i in idxs)
        return f"(CAST({s} AS REAL) * {k1p1})"

    shapes = []
    # disj: data OR spark — double-summed clause scores, one REAL cast
    shapes.append(
        "SELECT 'disj' AS shape, doc_id, CAST(sum(s) AS REAL) AS score32 "
        "FROM (SELECT doc_id, s FROM s0 UNION ALL SELECT doc_id, s FROM s1) "
        "GROUP BY doc_id"
    )
    # conj: data AND spark
    shapes.append(
        "SELECT 'conj' AS shape, a.doc_id, CAST(a.s + b.s AS REAL) AS score32 "
        "FROM s0 a JOIN s1 b USING (doc_id)"
    )
    # phrase: "part filter" — freq = adjacent pairs, idf = sum(idf part,filter)
    shapes.append(
        "SELECT 'phrase' AS shape, p.doc_id, CAST(CAST("
        + score32("CAST(p.pf AS REAL)", multi_weight([2, 3]))
        + " AS DOUBLE) AS REAL) AS score32 FROM ("
        "  SELECT a.doc_id, count(*)::DOUBLE AS pf"
        "  FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1"
        "  WHERE a.term = 'part' AND b.term = 'filter' GROUP BY a.doc_id"
        ") p JOIN nrm n USING (doc_id) CROSS JOIN st"
    )
    # msm: >=2 of (data, spark, merge)
    shapes.append(
        "SELECT 'msm' AS shape, doc_id, CAST(sum(s) AS REAL) AS score32 "
        "FROM (SELECT doc_id, s FROM s0 UNION ALL SELECT doc_id, s FROM s1 "
        "      UNION ALL SELECT doc_id, s FROM s4) "
        "GROUP BY doc_id HAVING count(*) >= 2"
    )
    # sloppy: "part filter"~2 — nearest adjusted position per anchor,
    # freq = double sum of 1/(1+|adj-anchor|), REAL cast once at scoring
    shapes.append(
        "SELECT 'sloppy' AS shape, p.doc_id, CAST(CAST("
        + score32("CAST(p.pf AS REAL)", multi_weight([2, 3]))
        + " AS DOUBLE) AS REAL) AS score32 FROM ("
        "  SELECT doc_id, sum(1.0 / (1.0 + ml)) AS pf FROM ("
        "    SELECT a.doc_id AS doc_id, a.pos AS apos,"
        "           min(abs((b.pos - 1) - a.pos)) AS ml"
        "    FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id"
        "      AND abs((b.pos - 1) - a.pos) <= 2"
        "    WHERE a.term = 'part' AND b.term = 'filter'"
        "    GROUP BY a.doc_id, a.pos"
        "  ) GROUP BY doc_id"
        ") p JOIN nrm n USING (doc_id) CROSS JOIN st"
    )
    # span: SpanNear(data, merge, slop=2, ordered) — greedy next-start
    # chain; matchLength = bpos - apos + 1; freq += 1/(1+matchLength)
    shapes.append(
        "SELECT 'span' AS shape, p.doc_id, CAST(CAST("
        + score32("CAST(p.pf AS REAL)", multi_weight([0, 4]))
        + " AS DOUBLE) AS REAL) AS score32 FROM ("
        "  SELECT doc_id, sum(1.0 / (bpos - apos + 2.0)) AS pf FROM ("
        "    SELECT a.doc_id AS doc_id, a.pos AS apos, min(b.pos) AS bpos"
        "    FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id AND b.pos >= a.pos + 1"
        "    WHERE a.term = 'data' AND b.term = 'merge'"
        "    GROUP BY a.doc_id, a.pos"
        "  ) WHERE bpos - apos - 1 <= 2 GROUP BY doc_id"
        ") p JOIN nrm n USING (doc_id) CROSS JOIN st"
    )
    # span_nested: SpanNear(SpanNear(data, merge, slop=1), spark, slop=2)
    # — inner spans (apos-1, bpos) 0-based, outer chains the next spark
    # unit span; gap = (cpos-1) - bpos <= 2; freq += 1/(cpos - apos + 2)
    shapes.append(
        "SELECT 'span_nested' AS shape, p.doc_id, CAST(CAST("
        + score32("CAST(p.pf AS REAL)", multi_weight([0, 4, 1]))
        + " AS DOUBLE) AS REAL) AS score32 FROM ("
        "  SELECT doc_id, sum(1.0 / (cpos - apos + 2.0)) AS pf FROM ("
        "    SELECT i.doc_id AS doc_id, i.apos AS apos, min(c.pos) AS cpos"
        "    FROM ("
        "      SELECT a.doc_id AS doc_id, a.pos AS apos, min(b.pos) AS bpos"
        "      FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id AND b.pos >= a.pos + 1"
        "      WHERE a.term = 'data' AND b.term = 'merge'"
        "      GROUP BY a.doc_id, a.pos"
        "      HAVING min(b.pos) - a.pos - 1 <= 1"
        "    ) i JOIN tokp c ON c.doc_id = i.doc_id AND c.pos >= i.bpos + 1"
        "    WHERE c.term = 'spark'"
        "    GROUP BY i.doc_id, i.apos, i.bpos"
        "    HAVING (min(c.pos) - 1) - i.bpos <= 2"
        "  ) GROUP BY doc_id"
        ") p JOIN nrm n USING (doc_id) CROSS JOIN st"
    )

    return (
        _SQL_PREFIX
        + f""",
tokp AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(1, len(toks) + 1)) AS pos
  FROM (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents)
),
-- per-doc byte315 norm byte -> float32 cache value (SmallFloat.cs:146-160,
-- BM25Similarity.cs:143-154,226-232; bit-validated vs the numpy kernel)
nrm AS (
  SELECT doc_id,
         CAST(1.2 AS REAL) * ((CAST(1.0 AS REAL) - CAST(0.75 AS REAL))
           + CAST(0.75 AS REAL)
             * (CAST(1.0 AS REAL) / CAST(
                  pow(2.0, CAST(byte // 4 AS BIGINT) - 31) * (1.0 + (byte % 4) / 4.0)
                * (pow(2.0, CAST(byte // 4 AS BIGINT) - 31) * (1.0 + (byte % 4) / 4.0))
               AS REAL))
             / CAST(st.sum_ttf / st.maxdoc AS REAL)) AS nrm
  FROM (
    SELECT doc_id,
           CAST((e + 31) * 4
                + floor((CAST(v32 AS DOUBLE) * pow(2.0, -e) - 1.0) * 4.0)
             AS BIGINT) AS byte
    FROM (
      SELECT doc_id, v32,
             CASE WHEN CAST(v32 AS DOUBLE) / pow(2.0, e0) >= 2.0 THEN e0 + 1
                  WHEN CAST(v32 AS DOUBLE) / pow(2.0, e0) < 1.0 THEN e0 - 1
                  ELSE e0 END AS e
      FROM (
        SELECT doc_id, v32,
               CAST(floor(log2(CAST(v32 AS DOUBLE))) AS BIGINT) AS e0
        FROM (SELECT doc_id, CAST(1.0 AS REAL) / CAST(sqrt(dl) AS REAL) AS v32 FROM dl)
      )
    )
  ) CROSS JOIN st
),
"""
        + ",\n".join(tctes)
        + ",\nbattery AS (\n  "
        + "\n  UNION ALL\n  ".join(f"({s})" for s in shapes)
        + "\n)\n"
        + "SELECT shape, doc_id, rank FROM ("
        "  SELECT shape, doc_id, CAST(row_number() OVER ("
        "    PARTITION BY shape ORDER BY score32 DESC, doc_id ASC"
        "  ) AS BIGINT) AS rank FROM battery"
        ") WHERE rank <= 10 ORDER BY shape, rank"
    )


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["ft_term_topk"] = (
        _SQL_PREFIX + _term_ctes(["data"])
        + ", scored AS (SELECT doc_id, s AS score FROM s0) "
        + _TOPK_TAIL.format(k=10)
    )

    o["ft_bool_and"] = (
        _SQL_PREFIX + _term_ctes(["table", "group"])
        + ", scored AS (SELECT a.doc_id, CAST(a.s + b.s AS BIGINT) AS score "
        "FROM s0 a JOIN s1 b USING (doc_id)) "
        + _TOPK_TAIL.format(k=10)
    )

    o["ft_bool_or"] = (
        _SQL_PREFIX + _term_ctes(["spark", "merge", "vector"])
        + f", scored AS (SELECT doc_id, score FROM {_sum_scored([0, 1, 2])}) "
        + _TOPK_TAIL.format(k=10)
    )

    o["ft_bool_not"] = (
        _SQL_PREFIX + _term_ctes(["table", "window"])
        + ", scored AS (SELECT doc_id, s AS score FROM s0 "
        "WHERE doc_id NOT IN (SELECT doc_id FROM t1)) "
        + _TOPK_TAIL.format(k=10)
    )

    o["ft_bool_msm"] = (
        _SQL_PREFIX + _term_ctes(["spark", "query", "merge"])
        + f", u AS (SELECT * FROM {_sum_scored([0, 1, 2])}), "
        "scored AS (SELECT doc_id, score FROM u WHERE n >= 2) "
        + _TOPK_TAIL.format(k=10)
    )

    o["ft_req_opt"] = (
        _SQL_PREFIX + _term_ctes(["data", "spark"])
        + ", scored AS (SELECT a.doc_id, CAST(a.s + COALESCE(b.s, 0) AS BIGINT) AS score "
        "FROM s0 a LEFT JOIN s1 b USING (doc_id)) "
        + _TOPK_TAIL.format(k=10)
    )

    # phrase: position table via zipped unnest, freq = adjacent-position pairs
    o["ft_phrase"] = (
        _SQL_PREFIX + _term_ctes(["part", "filter"])
        + f""",
tokp AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(1, len(toks) + 1)) AS pos
  FROM (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents)
),
pf AS (
  SELECT a.doc_id, count(*)::DOUBLE AS pf
  FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'part' AND b.term = 'filter'
  GROUP BY a.doc_id
),
idfs AS (
  SELECT (ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t0) + 0.5)/((SELECT count(*) FROM t0) + 0.5))
        + ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t1) + 0.5)/((SELECT count(*) FROM t1) + 0.5))) AS idf_sum,
        st.maxdoc, st.sum_ttf
  FROM st
),
scored AS (
  SELECT p.doc_id, CAST(floor((i.idf_sum * 2.2 * p.pf)
    / (p.pf + 1.2*(0.25 + (0.75*d.dl)/(i.sum_ttf/i.maxdoc))) * 1000000.0 + 0.5) AS BIGINT) AS score
  FROM pf p JOIN dl d USING (doc_id) CROSS JOIN idfs i
)
"""
        + _TOPK_TAIL.format(k=10)
    )

    # sloppy phrase: per 'part' anchor, the nearest adjusted 'filter'
    # position (adj = pos - 1) within +-slop; matchLength = that distance
    # (n=2: the window is exactly |adj - anchor|); each anchor contributes
    # the micro-unit slop factor floor(1e6/(1+matchLength)+0.5), summed
    # exactly and divided once — bit-identical to the engine kernel
    o["ft_phrase_sloppy"] = (
        _SQL_PREFIX + _term_ctes(["part", "filter"])
        + f""",
tokp AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(1, len(toks) + 1)) AS pos
  FROM (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents)
),
pf AS (
  SELECT doc_id, CAST(sum(sf) AS DOUBLE) / 1000000.0 AS pf FROM (
    SELECT a.doc_id AS doc_id, a.pos AS apos,
           CAST(floor(1000000.0 / (1.0 + min(abs((b.pos - 1) - a.pos))) + 0.5) AS BIGINT) AS sf
    FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id
      AND abs((b.pos - 1) - a.pos) <= 2
    WHERE a.term = 'part' AND b.term = 'filter'
    GROUP BY a.doc_id, a.pos
  ) GROUP BY doc_id
),
idfs AS (
  SELECT (ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t0) + 0.5)/((SELECT count(*) FROM t0) + 0.5))
        + ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t1) + 0.5)/((SELECT count(*) FROM t1) + 0.5))) AS idf_sum,
        st.maxdoc, st.sum_ttf
  FROM st
),
scored AS (
  SELECT p.doc_id, CAST(floor((i.idf_sum * 2.2 * p.pf)
    / (p.pf + 1.2*(0.25 + (0.75*d.dl)/(i.sum_ttf/i.maxdoc))) * 1000000.0 + 0.5) AS BIGINT) AS score
  FROM pf p JOIN dl d USING (doc_id) CROSS JOIN idfs i
)
"""
        + _TOPK_TAIL.format(k=10)
    )

    # analyzed suggester with context: candidates = 'me%' dictionary terms,
    # weight = df among docs containing the context term 'data'
    o["ft_suggest_analyzed"] = (
        _SQL_PREFIX
        + """,
ctx AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'data'),
scored AS (
  SELECT t.term, count(DISTINCT t.doc_id) AS df
  FROM tok t JOIN ctx USING (doc_id)
  WHERE t.term LIKE 'me%'
  GROUP BY t.term
)
SELECT term, CAST(df AS BIGINT) AS df FROM scored
ORDER BY df DESC, term ASC LIMIT 10
"""
    )

    # lang-routed analysis: the tok CTE applies the FrenchLightStemmer
    # image of the fixed 31-word corpus vocabulary to lang='fr' docs (the
    # entry guards the closure; stemmer pinned by tests/test_french.py) —
    # then the ordinary 2-term disjunction scoring over the routed terms
    _r = _ROUTED["langroute"].routes
    _fr_case = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in _r["fr"].route_map.items()
    )
    _de_case = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in _r["de"].route_map.items()
    )
    _es_case = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in _r["es"].route_map.items()
    )
    o["ft_lang_router"] = (
        f"""
WITH tok AS (
  SELECT doc_id,
         CASE WHEN lang = 'fr' THEN CASE t {_fr_case} ELSE t END
              WHEN lang = 'de' THEN CASE t {_de_case} ELSE t END
              WHEN lang = 'es' THEN CASE t {_es_case} ELSE t END
              ELSE t END AS term
  FROM (SELECT doc_id, lang, unnest({_TOKS_DUCK}) AS t FROM documents)
),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS maxdoc,
              (SELECT count(*) FROM tok)::DOUBLE AS sum_ttf)
"""
        + _term_ctes(["tabl", "table"])
        + f", scored AS (SELECT doc_id, score FROM {_sum_scored([0, 1])}) "
        + _TOPK_TAIL.format(k=10)
    )

    # pt/nl routing (r5): same shape as ft_lang_router over the DERIVED
    # lang2 column and the pt/nl stem images
    _r = _ROUTED["langroute2"].routes
    _pt_case = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in _r["pt"].route_map.items()
    )
    _nl_case = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in _r["nl"].route_map.items()
    )
    o["ft_lang_router_ptnl"] = (
        f"""
WITH tok AS (
  SELECT doc_id,
         CASE WHEN lang2 = 'pt' THEN CASE t {_pt_case} ELSE t END
              WHEN lang2 = 'nl' THEN CASE t {_nl_case} ELSE t END
              ELSE t END AS term
  FROM (SELECT doc_id, {_ROUTED["langroute2"].relabel} AS lang2, unnest({_TOKS_DUCK}) AS t
        FROM documents)
),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS maxdoc,
              (SELECT count(*) FROM tok)::DOUBLE AS sum_ttf)
"""
        + _term_ctes(["tabl", "table"])
        + f", scored AS (SELECT doc_id, score FROM {_sum_scored([0, 1])}) "
        + _TOPK_TAIL.format(k=10)
    )

    # ru/sv/ar/id routing (r5): the route maps compose word map + stemmer,
    # so the tok CTE rewrites each routed surface token straight to its
    # indexed term (identity outside the maps); the entry's per-route
    # guard proves each composition against the real chains per run
    _r = _ROUTED["langroute3"].routes
    o["ft_lang_router_multi"] = (
        f"""
WITH tok AS (
  SELECT doc_id,
         CASE WHEN lang3 = 'ru' THEN {_word_map_case('t', _r["ru"].route_map)}
              WHEN lang3 = 'sv' THEN {_word_map_case('t', _r["sv"].route_map)}
              WHEN lang3 = 'ar' THEN {_word_map_case('t', _r["ar"].route_map)}
              WHEN lang3 = 'id' THEN {_word_map_case('t', _r["id"].route_map)}
              ELSE t END AS term
  FROM (SELECT doc_id, {_ROUTED["langroute3"].relabel} AS lang3, unnest({_TOKS_DUCK}) AS t
        FROM documents)
),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS maxdoc,
              (SELECT count(*) FROM tok)::DOUBLE AS sum_ttf)
"""
        + _term_ctes(_route_probes("langroute3"))
        + f", scored AS (SELECT doc_id, score FROM {_sum_scored([0, 1, 2, 3])}) "
        + _TOPK_TAIL.format(k=10)
    )

    # fi/hu/no/da/cs/bg/fa/hi, el/tr/ro/lv and ca/eu/hy/ga/gl/br routing
    # (r5): the route maps are the COMPLETE chain image over the corpus
    # vocabulary (Latin-script stemmers rewrite unmapped ascii too), so the
    # tok CTE rewrites every routed token straight to its indexed term; the
    # entry's route guard proves each composition against the real chains
    # per run
    for name, tag in (
        ("ft_lang_router_xeu", "langroute4"),
        ("ft_lang_router_misc", "langroute5"),
        ("ft_lang_router_six", "langroute6"),
    ):
        row = _ROUTED[tag]
        arms = " ".join(
            f"WHEN {row.column} = '{lang}' THEN "
            f"{_word_map_case('t', r.route_map)}"
            for lang, r in row.routes.items()
        )
        probes = _route_probes(tag)
        o[name] = (
            f"""
WITH tok AS (
  SELECT doc_id, CASE {arms} ELSE t END AS term
  FROM (SELECT doc_id, {row.relabel} AS {row.column}, unnest({_TOKS_DUCK}) AS t
        FROM documents)
),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS maxdoc,
              (SELECT count(*) FROM tok)::DOUBLE AS sum_ttf)
"""
            + _term_ctes(probes)
            + f", scored AS (SELECT doc_id, score FROM "
              f"{_sum_scored(list(range(len(probes))))}) "
            + _TOPK_TAIL.format(k=10)
        )

    # Thai TCC bigrams (r5): token stream rebuilt from the embedded
    # per-word cluster-bigram expansions (space-joined literals, proved
    # against the real chain by q_ft_thai_tcc's guard), scored with the
    # shared exact-int formula over the src18 stratum
    _thai_arms = " ".join(
        f"WHEN '{w}' THEN '{_THAI_EXPANSIONS[w]}'" for w in _THAI_WORD_MAP
    )
    o["ft_thai_tcc"] = (
        f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(CASE t {_thai_arms} ELSE t END, ' ')) AS term
  FROM (SELECT doc_id, unnest({_TOKS_DUCK}) AS t
        FROM documents WHERE source = 'src18')
),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
st AS (SELECT (SELECT count(*) FROM documents
               WHERE source = 'src18')::DOUBLE AS maxdoc,
              (SELECT count(*) FROM tok)::DOUBLE AS sum_ttf)
"""
        + _term_ctes(["ตารา", "แถว"])
        + f", scored AS (SELECT doc_id, score FROM {_sum_scored([0, 1])}) "
        + _TOPK_TAIL.format(k=10)
    )

    # Shingles (r5): unigrams UNION windowed ' '-joined pairs rebuild the
    # ShingleFilter stream; dl = 2n-1 falls out of the union
    _shingle_base = (
        f"b AS (SELECT doc_id, {_TOKS_DUCK} AS t FROM documents),\n"
        "tok AS (\n"
        "  SELECT doc_id, t[i] AS term FROM\n"
        "    (SELECT doc_id, t, unnest(range(1, len(t)+1)) AS i FROM b)\n"
        "  UNION ALL\n"
        "  SELECT doc_id, t[i] || ' ' || t[i+1] AS term FROM\n"
        "    (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM b)\n"
        "),\n"
        "dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),\n"
        "st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS maxdoc,\n"
        "              (SELECT count(*) FROM tok)::DOUBLE AS sum_ttf)"
    )
    o["ft_shingle"] = (
        "WITH " + _shingle_base
        + _term_ctes(["hash join", "the row"])
        + f", scored AS (SELECT doc_id, score FROM {_sum_scored([0, 1])}) "
        + _TOPK_TAIL.format(k=10)
    )

    # CommonGrams (r5): '_' bigrams only at common-word boundaries; the
    # common set is the same 33-word English stop list the chain uses
    from lucenenet_spark.analysis.analyzer import ENGLISH_STOP_WORDS

    _cg_set = ", ".join(f"'{w}'" for w in sorted(ENGLISH_STOP_WORDS))
    _cg_base = (
        f"b AS (SELECT doc_id, {_TOKS_DUCK} AS t FROM documents),\n"
        "tok AS (\n"
        "  SELECT doc_id, t[i] AS term FROM\n"
        "    (SELECT doc_id, t, unnest(range(1, len(t)+1)) AS i FROM b)\n"
        "  UNION ALL\n"
        "  SELECT doc_id, t[i] || '_' || t[i+1] AS term FROM\n"
        "    (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM b)\n"
        f"  WHERE t[i] IN ({_cg_set}) OR t[i+1] IN ({_cg_set})\n"
        "),\n"
        "dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),\n"
        "st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS maxdoc,\n"
        "              (SELECT count(*) FROM tok)::DOUBLE AS sum_ttf)"
    )
    o["ft_common_grams"] = (
        "WITH " + _cg_base
        + _term_ctes(["the_table", "a_query"])
        + f", scored AS (SELECT doc_id, score FROM {_sum_scored([0, 1])}) "
        + _TOPK_TAIL.format(k=10)
    )

    # Leading wildcard via the reversed index (r5): the oracle states the
    # SPEC directly — forward tokens ending in 'er' — which the engine
    # answers as a prefix seek over reversed terms
    o["ft_leading_wildcard"] = (
        _SQL_PREFIX
        + "SELECT DISTINCT doc_id, CAST(1000000 AS BIGINT) AS score FROM tok "
        "WHERE term LIKE '%er' ORDER BY doc_id"
    )

    # PatternAnalyzer (r5): same split regex via string_split_regex over
    # the same derived text
    _pat_text = "lower(text || ' id' || CAST(doc_id % 10 AS VARCHAR))"
    _pat_toks = (
        f"list_filter(string_split_regex({_pat_text}, '[^a-z]+'), "
        "x -> x <> '')"
    )
    o["ft_pattern_analyzer"] = (
        f"""
WITH tok AS (
  SELECT doc_id, unnest({_pat_toks}) AS term FROM documents
),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS maxdoc,
              (SELECT count(*) FROM tok)::DOUBLE AS sum_ttf)
"""
        + _term_ctes(["id", "table"])
        + f", scored AS (SELECT doc_id, score FROM {_sum_scored([0, 1])}) "
        + _TOPK_TAIL.format(k=10)
    )

    # IB LL-D-H2 (r5): lambda and tfn computed per row in a subquery
    _ib_terms = ["order", "part"]
    _ib_tfs = ",\n".join(
        f"t{i} AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM tok "
        f"WHERE term = '{t}' GROUP BY doc_id)"
        for i, t in enumerate(_ib_terms)
    )
    _ib_scores = " UNION ALL ".join(
        f"SELECT doc_id, CAST(floor(-ln(lam / (tfn + lam))"
        f" * 1000000.0 + 0.5) AS BIGINT) AS s "
        f"FROM (SELECT t.doc_id,"
        f" t.tf * log2(1.0 + (st.sum_ttf / st.maxdoc) / d.dl) AS tfn,"
        f" ((SELECT count(*) FROM t{i}) + 1.0) / (st.maxdoc + 1.0) AS lam"
        f" FROM t{i} t JOIN dl d USING (doc_id) CROSS JOIN st)"
        for i in range(len(_ib_terms))
    )
    o["ft_ib_ll"] = (
        _SQL_PREFIX
        + ", " + _ib_tfs
        + f""",
scored AS (
  SELECT doc_id, CAST(sum(s) AS BIGINT) AS score
  FROM ({_ib_scores}) GROUP BY doc_id
)
"""
        + _TOPK_TAIL.format(k=10)
    )

    # Auto stopwords (r5): per-term df gate mirrored in SQL
    _as_terms = ["small", "the", "dup"]
    _as_tfs = ",\n".join(
        f"t{i} AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM tok "
        f"WHERE term = '{t}' GROUP BY doc_id)"
        for i, t in enumerate(_as_terms)
    )
    _as_scores = " UNION ALL ".join(
        f"SELECT t.doc_id, CAST(floor("
        f"(ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t{i}) + 0.5)"
        f"/((SELECT count(*) FROM t{i}) + 0.5)) * 2.2 * t.tf)"
        f" / (t.tf + 1.2*(0.25 + (0.75*d.dl)/(st.sum_ttf/st.maxdoc)))"
        f" * 1000000.0 + 0.5) AS BIGINT) AS s "
        f"FROM t{i} t JOIN dl d USING (doc_id) CROSS JOIN st "
        f"WHERE (SELECT count(*) FROM t{i}) <= 0.77 * st.maxdoc"
        for i in range(len(_as_terms))
    )
    o["ft_auto_stop"] = (
        _SQL_PREFIX
        + ", " + _as_tfs
        + f""",
scored AS (
  SELECT doc_id, CAST(sum(s) AS BIGINT) AS score
  FROM ({_as_scores}) GROUP BY doc_id
)
"""
        + _TOPK_TAIL.format(k=10)
    )

    # Edge n-grams (r5): prefixes 2..5 of every token
    _edge_base = (
        "tok AS (\n"
        "  SELECT doc_id, substr(t, 1, k) AS term FROM\n"
        "    (SELECT doc_id, t, unnest(range(2, least(5, length(t)) + 1)) AS k\n"
        f"     FROM (SELECT doc_id, unnest({_TOKS_DUCK}) AS t FROM documents))\n"
        "),\n"
        "dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),\n"
        "st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS maxdoc,\n"
        "              (SELECT count(*) FROM tok)::DOUBLE AS sum_ttf)"
    )
    o["ft_edge_ngram"] = (
        "WITH " + _edge_base
        + _term_ctes(["quer", "tab"])
        + f", scored AS (SELECT doc_id, score FROM {_sum_scored([0, 1])}) "
        + _TOPK_TAIL.format(k=10)
    )

    # Character trigrams (r5): all length-3 windows of every token
    _gram_base = (
        "tok AS (\n"
        "  SELECT doc_id, substr(t, i, 3) AS term FROM\n"
        "    (SELECT doc_id, t, unnest(range(1, length(t) - 1)) AS i\n"
        f"     FROM (SELECT doc_id, unnest({_TOKS_DUCK}) AS t FROM documents)\n"
        "     WHERE length(t) >= 3)\n"
        "),\n"
        "dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),\n"
        "st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS maxdoc,\n"
        "              (SELECT count(*) FROM tok)::DOUBLE AS sum_ttf)"
    )
    o["ft_char_ngram"] = (
        "WITH " + _gram_base
        + _term_ctes(["uer", "abl"])
        + f", scored AS (SELECT doc_id, score FROM {_sum_scored([0, 1])}) "
        + _TOPK_TAIL.format(k=10)
    )

    # Synonym collapse (r5): the same alias>canonical map over the
    # oracle's token stream
    o["ft_synonym_collapse"] = (
        f"""
WITH tok AS (
  SELECT doc_id,
         CASE t WHEN 'line' THEN 'row' WHEN 'scan' THEN 'query' ELSE t END
           AS term
  FROM (SELECT doc_id, unnest({_TOKS_DUCK}) AS t FROM documents)
),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS maxdoc,
              (SELECT count(*) FROM tok)::DOUBLE AS sum_ttf)
"""
        + _term_ctes(["row", "query"])
        + f", scored AS (SELECT doc_id, score FROM {_sum_scored([0, 1])}) "
        + _TOPK_TAIL.format(k=10)
    )

    # Classic TF-IDF (r5): sqrt(tf)*idf^2/sqrt(dl) per-term micro floor,
    # coord as a rational floor — each step restated in SQL
    _classic_terms = ["table", "group", "vector"]
    _classic_tfs = ",\n".join(
        f"t{i} AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM tok "
        f"WHERE term = '{t}' GROUP BY doc_id)"
        for i, t in enumerate(_classic_terms)
    )
    _classic_scores = " UNION ALL ".join(
        f"SELECT doc_id, CAST(floor(sqrt(t{i}.tf) * "
        f"((1.0 + ln(st.maxdoc / ((SELECT count(*) FROM t{i}) + 1.0))) * "
        f"(1.0 + ln(st.maxdoc / ((SELECT count(*) FROM t{i}) + 1.0)))) "
        f"/ sqrt(d.dl) * 1000000.0 + 0.5) AS BIGINT) AS s "
        f"FROM t{i} JOIN dl d USING (doc_id) CROSS JOIN st"
        for i in range(len(_classic_terms))
    )
    o["ft_classic_tfidf"] = (
        _SQL_PREFIX
        + ", " + _classic_tfs
        + f""",
scored AS (
  SELECT doc_id,
         CAST(floor(sum(s) * count(*) / {len(_classic_terms)}.0) AS BIGINT)
           AS score
  FROM ({_classic_scores}) GROUP BY doc_id
)
"""
        + _TOPK_TAIL.format(k=10)
    )

    # LM Dirichlet (r5): ln(1 + tf/(mu*p)) + ln(mu/(dl+mu)), mu=2000, each
    # term's contribution clamped at 0 (LMDirichletSimilarity.cs:77)
    _lm_terms = ["query", "stream"]
    _lm_tfs = ",\n".join(
        f"t{i} AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM tok "
        f"WHERE term = '{t}' GROUP BY doc_id)"
        for i, t in enumerate(_lm_terms)
    )
    _lm_scores = " UNION ALL ".join(
        f"SELECT doc_id, CAST(floor(greatest(ln(1.0 + t{i}.tf / (2000.0 * "
        f"((SELECT sum(tf) FROM t{i}) / st.sum_ttf))) + "
        f"ln(2000.0 / (d.dl + 2000.0)), 0.0) * 1000000.0 + 0.5) AS BIGINT) AS s "
        f"FROM t{i} JOIN dl d USING (doc_id) CROSS JOIN st"
        for i in range(len(_lm_terms))
    )
    o["ft_lm_dirichlet"] = (
        _SQL_PREFIX
        + ", " + _lm_tfs
        + f""",
scored AS (
  SELECT doc_id, CAST(sum(s) AS BIGINT) AS score
  FROM ({_lm_scores}) GROUP BY doc_id
)
"""
        + _TOPK_TAIL.format(k=10)
    )

    # LM Jelinek-Mercer (r5): (1.0 - 0.7) spelled out so both engines
    # compute the identical IEEE double
    _jm_terms = ["merge", "window"]
    _jm_tfs = ",\n".join(
        f"t{i} AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM tok "
        f"WHERE term = '{t}' GROUP BY doc_id)"
        for i, t in enumerate(_jm_terms)
    )
    _jm_scores = " UNION ALL ".join(
        f"SELECT doc_id, CAST(floor(ln(1.0 + ((1.0 - 0.7) * t{i}.tf / d.dl)"
        f" / (0.7 * ((SELECT sum(tf) FROM t{i}) / st.sum_ttf)))"
        f" * 1000000.0 + 0.5) AS BIGINT) AS s "
        f"FROM t{i} JOIN dl d USING (doc_id) CROSS JOIN st"
        for i in range(len(_jm_terms))
    )
    o["ft_lm_jm"] = (
        _SQL_PREFIX
        + ", " + _jm_tfs
        + f""",
scored AS (
  SELECT doc_id, CAST(sum(s) AS BIGINT) AS score
  FROM ({_jm_scores}) GROUP BY doc_id
)
"""
        + _TOPK_TAIL.format(k=10)
    )

    # DFR I(ne)B2 (r5): tfn computed once per row in a subquery; ne's
    # pow and both log2 factors restated in SQL in the engine's op order
    _dfr_terms = ["filter", "batch"]
    _dfr_tfs = ",\n".join(
        f"t{i} AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM tok "
        f"WHERE term = '{t}' GROUP BY doc_id)"
        for i, t in enumerate(_dfr_terms)
    )
    _dfr_scores = " UNION ALL ".join(
        f"SELECT doc_id, CAST(floor((tfn * "
        f"log2((maxdoc + 1.0) / (maxdoc * (1.0 - pow((maxdoc - 1.0) / maxdoc,"
        f" (SELECT sum(tf) FROM t{i}))) + 0.5)))"
        f" * (((SELECT sum(tf) FROM t{i}) + 2.0)"
        f" / (((SELECT count(*) FROM t{i}) + 1.0) * (tfn + 1.0)))"
        f" * 1000000.0 + 0.5) AS BIGINT) AS s "
        f"FROM (SELECT t.doc_id, st.maxdoc AS maxdoc,"
        f" t.tf * log2(1.0 + (st.sum_ttf / st.maxdoc) / d.dl) AS tfn"
        f" FROM t{i} t JOIN dl d USING (doc_id) CROSS JOIN st)"
        for i in range(len(_dfr_terms))
    )
    o["ft_dfr_ineb2"] = (
        _SQL_PREFIX
        + ", " + _dfr_tfs
        + f""",
scored AS (
  SELECT doc_id, CAST(sum(s) AS BIGINT) AS score
  FROM ({_dfr_scores}) GROUP BY doc_id
)
"""
        + _TOPK_TAIL.format(k=10)
    )

    # Percolation (r5): each registered query restated as an independent
    # SQL predicate over the same token stream
    o["ft_percolate"] = f"""
WITH d AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents)
SELECT doc_id, query_id FROM (
  SELECT doc_id, 'q_term' AS query_id FROM d
    WHERE list_contains(toks, 'vector')
  UNION ALL
  SELECT doc_id, 'q_and' FROM d
    WHERE list_contains(toks, 'table') AND list_contains(toks, 'group')
  UNION ALL
  SELECT doc_id, 'q_msm' FROM d
    WHERE CAST(list_contains(toks, 'spark') AS INT)
        + CAST(list_contains(toks, 'merge') AS INT)
        + CAST(list_contains(toks, 'stream') AS INT) >= 2
  UNION ALL
  SELECT doc_id, 'q_not' FROM d
    WHERE list_contains(toks, 'query') AND NOT list_contains(toks, 'slow')
  UNION ALL
  SELECT doc_id, 'q_phrase' FROM d
    WHERE len(list_filter(range(1, len(toks)),
              i -> toks[i] = 'the' AND toks[i+1] = 'row')) > 0
  UNION ALL
  SELECT doc_id, 'q_prefix' FROM d
    WHERE len(list_filter(toks, x -> x LIKE 'wi%')) > 0
) ORDER BY doc_id, query_id
"""

    # Exact repeated spans (r5): same 16-token windows + md5 fingerprints
    o["dd_exact_substring"] = f"""
WITH d AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
w AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks) - 14),
                i -> md5(array_to_string(toks[i:i+15], ' ')))) AS span_hash
  FROM d WHERE len(toks) >= 16
)
SELECT span_hash,
       count(DISTINCT doc_id)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_occ
FROM w GROUP BY span_hash
HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, n_occ DESC, span_hash ASC LIMIT 20
"""

    # Source-weight mixture (r5): same weights, bucket, and repeat count
    o["pipe_source_weights"] = """
WITH d AS (
  SELECT doc_id, source,
         CASE source WHEN 'src0' THEN 250 WHEN 'src1' THEN 100
              WHEN 'src2' THEN 25 ELSE 0 END AS w,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 100 AS b
  FROM documents
),
c AS (SELECT doc_id, source,
             w // 100 + CASE WHEN b < w % 100 THEN 1 ELSE 0 END AS copies
      FROM d)
SELECT doc_id, source, CAST(unnest(range(1, copies + 1)) AS BIGINT) AS copy_idx
FROM c WHERE copies > 0 ORDER BY doc_id, copy_idx
"""

    # Unigram surprisal (r5): same counts, same per-token integer micro
    o["txt_unigram_surprisal"] = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS_DUCK}) AS t FROM documents),
cnt AS (SELECT t, count(*)::DOUBLE AS c FROM tok GROUP BY t),
tot AS (SELECT sum(c) AS total FROM cnt)
SELECT doc_id, count(*)::BIGINT AS n_toks,
       CAST(sum(CAST(floor(ln(tot.total / cnt.c) * 1000000.0 + 0.5)
                AS BIGINT)) AS BIGINT) AS surprisal_micro
FROM tok JOIN cnt USING (t) CROSS JOIN tot
GROUP BY doc_id ORDER BY doc_id
"""

    # Frequent-line removal (r5): same 8-token segments + >=3-doc set
    o["txt_line_dedup"] = f"""
WITH d AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
s AS (
  SELECT doc_id,
         unnest(list_transform(range(0, CAST(floor(len(toks)/8) AS INT)),
                i -> array_to_string(toks[i*8+1:i*8+8], ' '))) AS seg
  FROM d WHERE len(toks) >= 8
),
f AS (SELECT seg FROM s GROUP BY seg HAVING count(DISTINCT doc_id) >= 3),
a AS (SELECT doc_id, count(*)::BIGINT AS n_seg FROM s GROUP BY doc_id),
b AS (SELECT doc_id, count(*)::BIGINT AS n_kept FROM s
      WHERE seg NOT IN (SELECT seg FROM f) GROUP BY doc_id)
SELECT a.doc_id, a.n_seg,
       CAST(coalesce(b.n_kept, 0) AS BIGINT) AS n_kept
FROM a LEFT JOIN b ON a.doc_id = b.doc_id ORDER BY a.doc_id
"""

    # PathHierarchy (r5): each doc emits its two ancestor prefixes
    o["ft_path_hierarchy"] = (
        """
WITH tok AS (
  SELECT doc_id, source AS term FROM documents
  UNION ALL
  SELECT doc_id, source || '/' || lang AS term FROM documents
),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS maxdoc,
              (SELECT count(*) FROM tok)::DOUBLE AS sum_ttf)
"""
        + _term_ctes(["src5/en", "src3"])
        + f", scored AS (SELECT doc_id, score FROM {_sum_scored([0, 1])}) "
        + _TOPK_TAIL.format(k=10)
    )

    # CJK bigrams (r5): rebuild the zh stratum's ideographic text with the
    # same word->han map, window it into overlapping codepoint bigrams
    # (substring pairs == CJKBigramFilter's run bigrams; a 1-codepoint doc
    # keeps its unigram), and score the query bigram with the shared
    # exact-int formula over the BIGRAM token stream's dl/df/ttf
    _cjk_b1 = _CJK_CHAR_MAP["the"] + _CJK_CHAR_MAP["row"]
    _cjk_b2 = _CJK_CHAR_MAP["table"] + _CJK_CHAR_MAP["table"]
    o["ft_cjk_bigram"] = f"""
WITH m AS (
  SELECT doc_id, coalesce(list_aggregate(
           list_transform({_TOKS_DUCK}, x -> {_cjk_map_case('x')}),
           'string_agg', ''), '') AS s
  FROM documents WHERE lang = 'zh'
),
ctok AS (
  SELECT doc_id,
         CASE WHEN length(s) = 1 THEN s ELSE substring(s, i, 2) END AS term
  FROM (SELECT doc_id, s, unnest(range(1, greatest(length(s), 2))) AS i FROM m)
  WHERE length(s) >= 1
),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM ctok GROUP BY doc_id),
st AS (SELECT (SELECT count(*) FROM m)::DOUBLE AS maxdoc,
              (SELECT count(*) FROM ctok)::DOUBLE AS sum_ttf),
t0 AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM ctok
       WHERE term = '{_cjk_b1}' GROUP BY doc_id),
t1 AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM ctok
       WHERE term = '{_cjk_b2}' GROUP BY doc_id),
s0 AS (SELECT t.doc_id, CAST(floor(
        (ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t0) + 0.5)
         /((SELECT count(*) FROM t0) + 0.5)) * 2.2 * t.tf)
        / (t.tf + 1.2*(0.25 + (0.75*d.dl)/(st.sum_ttf/st.maxdoc)))
        * 1000000.0 + 0.5) AS BIGINT) AS s
       FROM t0 t JOIN dl d USING (doc_id) CROSS JOIN st),
s1 AS (SELECT t.doc_id, CAST(floor(
        (ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t1) + 0.5)
         /((SELECT count(*) FROM t1) + 0.5)) * 2.2 * t.tf)
        / (t.tf + 1.2*(0.25 + (0.75*d.dl)/(st.sum_ttf/st.maxdoc)))
        * 1000000.0 + 0.5) AS BIGINT) AS s
       FROM t1 t JOIN dl d USING (doc_id) CROSS JOIN st),
scored AS (
  SELECT doc_id, CAST(sum(s) AS BIGINT) AS score FROM (
    SELECT doc_id, s FROM s0 UNION ALL SELECT doc_id, s FROM s1
  ) GROUP BY doc_id
)
""" + _TOPK_TAIL.format(k=10)

    # spans: anchor-enumerated matches over the 1-based tokp position table
    # (relative offsets equal the engine's 0-based ones), with the
    # reference's SpanScorer sloppyFreq damping: each anchor contributes
    # 1/(1+matchLength), matchLength = covering window size (`mexpr`, in
    # terms of the anchor a.pos and the chain end min(b.pos)). Integer
    # micro-unit slop factors summed exactly, divided once — the same
    # bit-reproducible arithmetic the engine kernel uses. ordered n=2: the
    # chain end is the nearest 'b' strictly after the anchor within the
    # window; unordered n=2: the nearest 'b' either side.
    def _span_pf(t0: str, t1: str, cond: str, mexpr: str) -> str:
        return f"""
tokp AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(1, len(toks) + 1)) AS pos
  FROM (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents)
),
pf AS (
  SELECT doc_id, CAST(sum(sf) AS DOUBLE) / 1000000.0 AS pf FROM (
    SELECT a.doc_id AS doc_id, a.pos AS apos,
           CAST(floor(1000000.0 / (1.0 + ({mexpr})) + 0.5) AS BIGINT) AS sf
    FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id AND ({cond})
    WHERE a.term = '{t0}' AND b.term = '{t1}'
    GROUP BY a.doc_id, a.pos
  ) GROUP BY doc_id
),
idfs AS (
  SELECT (ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t0) + 0.5)/((SELECT count(*) FROM t0) + 0.5))
        + ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t1) + 0.5)/((SELECT count(*) FROM t1) + 0.5))) AS idf_sum,
        st.maxdoc, st.sum_ttf
  FROM st
),
scored AS (
  SELECT p.doc_id, CAST(floor((i.idf_sum * 2.2 * p.pf)
    / (p.pf + 1.2*(0.25 + (0.75*d.dl)/(i.sum_ttf/i.maxdoc))) * 1000000.0 + 0.5) AS BIGINT) AS score
  FROM pf p JOIN dl d USING (doc_id) CROSS JOIN idfs i
)
"""

    o["ft_span_near"] = (
        _SQL_PREFIX + _term_ctes(["data", "merge"]) + ","
        + _span_pf(
            "data", "merge",
            "b.pos > a.pos AND b.pos <= a.pos + 3",
            "min(b.pos) - a.pos + 1",  # End - Start of the greedy chain
        )
        + _TOPK_TAIL.format(k=10)
    )

    # span_syn: SpanNear over a SpanOr child — anchors are the deduped
    # union of the member terms' positions (DISTINCT a.pos), the chain rule
    # is the ordered n=2 window, and idf sums over ALL THREE member terms
    # in clause order (data, vector, merge) to match the engine's float64
    # summation order exactly
    o["ft_span_syn"] = (
        _SQL_PREFIX + _term_ctes(["data", "vector", "merge"])
        + f""",
tokp AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(1, len(toks) + 1)) AS pos
  FROM (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents)
),
pf AS (
  SELECT doc_id, CAST(sum(sf) AS DOUBLE) / 1000000.0 AS pf FROM (
    SELECT a.doc_id AS doc_id, a.pos AS apos,
           CAST(floor(1000000.0 / (1.0 + (min(b.pos) - a.pos + 1)) + 0.5) AS BIGINT) AS sf
    FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id
      AND b.pos > a.pos AND b.pos <= a.pos + 3
    WHERE a.term IN ('data', 'vector') AND b.term = 'merge'
    GROUP BY a.doc_id, a.pos
  ) GROUP BY doc_id
),
idfs AS (
  SELECT (ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t0) + 0.5)/((SELECT count(*) FROM t0) + 0.5))
        + ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t1) + 0.5)/((SELECT count(*) FROM t1) + 0.5))
        + ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t2) + 0.5)/((SELECT count(*) FROM t2) + 0.5))) AS idf_sum,
        st.maxdoc, st.sum_ttf
  FROM st
),
scored AS (
  SELECT p.doc_id, CAST(floor((i.idf_sum * 2.2 * p.pf)
    / (p.pf + 1.2*(0.25 + (0.75*d.dl)/(i.sum_ttf/i.maxdoc))) * 1000000.0 + 0.5) AS BIGINT) AS score
  FROM pf p JOIN dl d USING (doc_id) CROSS JOIN idfs i
)
"""
        + _TOPK_TAIL.format(k=10)
    )

    # nested spans: the inner SpanNear('data','merge',slop=1) enumerates
    # one span per anchor — (a.pos, greedy chain end min(b.pos)+1), kept
    # iff b - a <= 2 (the unit-span gap-sum rule at slop 1); the outer
    # ordered chain picks the first 'spark' strictly after the inner end
    # (c.pos > bpos, i.e. unit start >= inner end) and keeps anchors iff
    # the gap c - b - 1 <= 2 (outer slop); each surviving anchor
    # contributes sloppyFreq(covering window c + 1 - a) in integer
    # micro-units; idf sums over all three member terms in clause order
    # (data, merge, spark) to match the engine's float64 summation order
    o["ft_span_nested"] = (
        _SQL_PREFIX + _term_ctes(["data", "merge", "spark"])
        + f""",
tokp AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(1, len(toks) + 1)) AS pos
  FROM (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents)
),
inner_sp AS (
  SELECT a.doc_id AS doc_id, a.pos AS apos, min(b.pos) AS bpos
  FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id AND b.pos > a.pos
  WHERE a.term = 'data' AND b.term = 'merge'
  GROUP BY a.doc_id, a.pos
  HAVING min(b.pos) - a.pos <= 2
),
pf AS (
  SELECT doc_id, CAST(sum(sf) AS DOUBLE) / 1000000.0 AS pf FROM (
    SELECT i.doc_id AS doc_id, i.apos AS apos,
           CAST(floor(1000000.0 / (1.0 + (min(c.pos) + 1 - i.apos)) + 0.5) AS BIGINT) AS sf
    FROM inner_sp i JOIN tokp c ON c.doc_id = i.doc_id AND c.pos > i.bpos
    WHERE c.term = 'spark'
    GROUP BY i.doc_id, i.apos, i.bpos
    HAVING min(c.pos) - i.bpos - 1 <= 2
  ) GROUP BY doc_id
),
idfs AS (
  SELECT (ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t0) + 0.5)/((SELECT count(*) FROM t0) + 0.5))
        + ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t1) + 0.5)/((SELECT count(*) FROM t1) + 0.5))
        + ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t2) + 0.5)/((SELECT count(*) FROM t2) + 0.5))) AS idf_sum,
        st.maxdoc, st.sum_ttf
  FROM st
),
scored AS (
  SELECT p.doc_id, CAST(floor((i.idf_sum * 2.2 * p.pf)
    / (p.pf + 1.2*(0.25 + (0.75*d.dl)/(i.sum_ttf/i.maxdoc))) * 1000000.0 + 0.5) AS BIGINT) AS score
  FROM pf p JOIN dl d USING (doc_id) CROSS JOIN idfs i
)
"""
        + _TOPK_TAIL.format(k=10)
    )

    # taxonomy-tree facet (r5): ROLLUP grouping sets = counts at every
    # tree level (root / host / host+lang) in one aggregation
    o["ft_facet_hierarchy"] = f'''
WITH tok AS (
  SELECT doc_id, unnest({_TOKS_DUCK}) AS term FROM documents
),
m AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'data'),
j AS (
  SELECT d.source || '.example.com' AS host, d.lang AS lang
  FROM documents d JOIN m USING (doc_id)
)
SELECT CAST(CASE WHEN host IS NULL THEN 0 WHEN lang IS NULL THEN 1 ELSE 2 END AS BIGINT) AS level,
       COALESCE(host, '') AS host, COALESCE(lang, '') AS lang,
       count(*)::BIGINT AS cnt
FROM j GROUP BY ROLLUP (host, lang)
ORDER BY level, host, lang
'''

    # ComplexPhraseQueryParser lowering (r5): '"(table row) val*"~3' ->
    # ordered SpanNear over a (table|row) union clause and a dictionary-
    # expanded val* clause. Union positions per clause; greedy chain = the
    # nearest val* position after the anchor; idf sums table + row + every
    # distinct val* term's df (all-member-stats SpanWeight).
    o["ft_complex_phrase"] = f'''
WITH tok AS (
  SELECT doc_id, unnest({_TOKS_DUCK}) AS term FROM documents
),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS maxdoc,
              (SELECT count(*) FROM tok)::DOUBLE AS sum_ttf),
tokp AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(1, len(toks) + 1)) AS pos
  FROM (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents)
),
pf AS (
  SELECT doc_id, CAST(sum(sf) AS DOUBLE) / 1000000.0 AS pf FROM (
    SELECT a.doc_id AS doc_id, a.pos AS apos,
           CAST(floor(1000000.0 / (1.0 + (min(b.pos) + 1 - a.pos)) + 0.5) AS BIGINT) AS sf
    FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id AND b.pos > a.pos
    WHERE a.term IN ('table', 'row') AND b.term LIKE 'val%'
    GROUP BY a.doc_id, a.pos
    HAVING min(b.pos) - a.pos - 1 <= 3
  ) GROUP BY doc_id
),
dfs AS (
  SELECT (SELECT count(DISTINCT doc_id) FROM tok WHERE term = 'table')::DOUBLE AS df_t,
         (SELECT count(DISTINCT doc_id) FROM tok WHERE term = 'row')::DOUBLE AS df_r
),
idfe AS (
  SELECT COALESCE(sum(ln(1.0 + (st.maxdoc - e.df + 0.5)/(e.df + 0.5))), 0.0) AS idf_exp
  FROM (SELECT count(DISTINCT doc_id)::DOUBLE AS df FROM tok
        WHERE term LIKE 'val%' GROUP BY term) e CROSS JOIN st
),
idfs AS (
  SELECT (ln(1.0 + (st.maxdoc - d.df_t + 0.5)/(d.df_t + 0.5))
        + ln(1.0 + (st.maxdoc - d.df_r + 0.5)/(d.df_r + 0.5))
        + i.idf_exp) AS idf_sum,
        st.maxdoc, st.sum_ttf
  FROM st CROSS JOIN dfs d CROSS JOIN idfe i
),
scored AS (
  SELECT p.doc_id, CAST(floor((i.idf_sum * 2.2 * p.pf)
    / (p.pf + 1.2*(0.25 + (0.75*d.dl)/(i.sum_ttf/i.maxdoc))) * 1000000.0 + 0.5) AS BIGINT) AS score
  FROM pf p JOIN dl d USING (doc_id) CROSS JOIN idfs i
)
''' + _TOPK_TAIL.format(k=10)


    # unordered-outer nesting (r5): same inner enumeration; the outer pick
    # is the nearest-START 'spark' span per anchor (row_number over
    # (|delta|, delta)), then NearSpansUnordered's matchLength -
    # totalLength <= slop over the joint window [min start, max end]
    # (0-based: inner span = (apos-1, bpos), spark span = (cpos-1, cpos))
    o["ft_span_nested_unord"] = (
        _SQL_PREFIX + _term_ctes(["data", "merge", "spark"])
        + f""",
tokp AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(1, len(toks) + 1)) AS pos
  FROM (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents)
),
inner_sp AS (
  SELECT a.doc_id AS doc_id, a.pos AS apos, min(b.pos) AS bpos
  FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id AND b.pos > a.pos
  WHERE a.term = 'data' AND b.term = 'merge'
  GROUP BY a.doc_id, a.pos
  HAVING min(b.pos) - a.pos <= 2
),
pick AS (
  SELECT doc_id, apos, bpos, cpos FROM (
    SELECT i.doc_id AS doc_id, i.apos AS apos, i.bpos AS bpos, c.pos AS cpos,
           row_number() OVER (PARTITION BY i.doc_id, i.apos
             ORDER BY abs(c.pos - i.apos) ASC, c.pos - i.apos ASC) AS rn
    FROM inner_sp i JOIN tokp c ON c.doc_id = i.doc_id AND c.term = 'spark'
  ) WHERE rn = 1
),
pf AS (
  SELECT doc_id, CAST(sum(sf) AS DOUBLE) / 1000000.0 AS pf FROM (
    SELECT doc_id,
           CAST(floor(1000000.0
             / (1.0 + (greatest(bpos, cpos) - least(apos - 1, cpos - 1)))
             + 0.5) AS BIGINT) AS sf
    FROM pick
    WHERE (greatest(bpos, cpos) - least(apos - 1, cpos - 1))
          - (bpos - apos + 2) <= 2
  ) GROUP BY doc_id
),
idfs AS (
  SELECT (ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t0) + 0.5)/((SELECT count(*) FROM t0) + 0.5))
        + ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t1) + 0.5)/((SELECT count(*) FROM t1) + 0.5))
        + ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t2) + 0.5)/((SELECT count(*) FROM t2) + 0.5))) AS idf_sum,
        st.maxdoc, st.sum_ttf
  FROM st
),
scored AS (
  SELECT p.doc_id, CAST(floor((i.idf_sum * 2.2 * p.pf)
    / (p.pf + 1.2*(0.25 + (0.75*d.dl)/(i.sum_ttf/i.maxdoc))) * 1000000.0 + 0.5) AS BIGINT) AS score
  FROM pf p JOIN dl d USING (doc_id) CROSS JOIN idfs i
)
"""
        + _TOPK_TAIL.format(k=10)
    )

    # Surround dialect (r5): '3w(data, merge) or 2n(query, join)' — two
    # independent span pseudo-terms (ordered window 3 / unordered window
    # 2), each scored exactly like ft_span_near / ft_span_near_unord, the
    # SHOULD disjunction summing the integer micro-unit clause scores
    o["ft_surround"] = (
        _SQL_PREFIX + _term_ctes(["data", "merge", "query", "join"])
        + f""",
tokp AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(1, len(toks) + 1)) AS pos
  FROM (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents)
),
pf1 AS (
  SELECT doc_id, CAST(sum(sf) AS DOUBLE) / 1000000.0 AS pf FROM (
    SELECT a.doc_id AS doc_id, a.pos AS apos,
           CAST(floor(1000000.0 / (1.0 + (min(b.pos) - a.pos + 1)) + 0.5) AS BIGINT) AS sf
    FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id
      AND b.pos > a.pos AND b.pos <= a.pos + 3
    WHERE a.term = 'data' AND b.term = 'merge'
    GROUP BY a.doc_id, a.pos
  ) GROUP BY doc_id
),
pf2 AS (
  SELECT doc_id, CAST(sum(sf) AS DOUBLE) / 1000000.0 AS pf FROM (
    SELECT a.doc_id AS doc_id, a.pos AS apos,
           CAST(floor(1000000.0 / (1.0 + (min(abs(b.pos - a.pos)) + 1)) + 0.5) AS BIGINT) AS sf
    FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id
      AND abs(b.pos - a.pos) <= 2
    WHERE a.term = 'query' AND b.term = 'join'
    GROUP BY a.doc_id, a.pos
  ) GROUP BY doc_id
),
idf1 AS (
  SELECT (ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t0) + 0.5)/((SELECT count(*) FROM t0) + 0.5))
        + ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t1) + 0.5)/((SELECT count(*) FROM t1) + 0.5))) AS idf_sum,
        st.maxdoc, st.sum_ttf
  FROM st
),
idf2 AS (
  SELECT (ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t2) + 0.5)/((SELECT count(*) FROM t2) + 0.5))
        + ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t3) + 0.5)/((SELECT count(*) FROM t3) + 0.5))) AS idf_sum,
        st.maxdoc, st.sum_ttf
  FROM st
),
sc1 AS (
  SELECT p.doc_id, CAST(floor((i.idf_sum * 2.2 * p.pf)
    / (p.pf + 1.2*(0.25 + (0.75*d.dl)/(i.sum_ttf/i.maxdoc))) * 1000000.0 + 0.5) AS BIGINT) AS s
  FROM pf1 p JOIN dl d USING (doc_id) CROSS JOIN idf1 i
),
sc2 AS (
  SELECT p.doc_id, CAST(floor((i.idf_sum * 2.2 * p.pf)
    / (p.pf + 1.2*(0.25 + (0.75*d.dl)/(i.sum_ttf/i.maxdoc))) * 1000000.0 + 0.5) AS BIGINT) AS s
  FROM pf2 p JOIN dl d USING (doc_id) CROSS JOIN idf2 i
),
scored AS (
  SELECT doc_id, CAST(sum(s) AS BIGINT) AS score FROM (
    SELECT doc_id, s FROM sc1 UNION ALL SELECT doc_id, s FROM sc2
  ) GROUP BY doc_id
)
"""
        + _TOPK_TAIL.format(k=10)
    )

    # Simple dialect (r5): 'data + merge | "part filter"' — MUST data,
    # MUST merge (conjunction: both present, scores sum), SHOULD exact
    # phrase (ReqOptSum: adds when the adjacency pair exists)
    o["ft_simple_qp"] = (
        _SQL_PREFIX + _term_ctes(["data", "merge", "part", "filter"])
        + f""",
tokp AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(1, len(toks) + 1)) AS pos
  FROM (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents)
),
pfq AS (
  SELECT a.doc_id, count(*)::DOUBLE AS pf
  FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'part' AND b.term = 'filter'
  GROUP BY a.doc_id
),
idfp AS (
  SELECT (ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t2) + 0.5)/((SELECT count(*) FROM t2) + 0.5))
        + ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t3) + 0.5)/((SELECT count(*) FROM t3) + 0.5))) AS idf_sum,
        st.maxdoc, st.sum_ttf
  FROM st
),
scp AS (
  SELECT p.doc_id, CAST(floor((i.idf_sum * 2.2 * p.pf)
    / (p.pf + 1.2*(0.25 + (0.75*d.dl)/(i.sum_ttf/i.maxdoc))) * 1000000.0 + 0.5) AS BIGINT) AS s
  FROM pfq p JOIN dl d USING (doc_id) CROSS JOIN idfp i
),
scored AS (
  SELECT a.doc_id, CAST(a.s + b.s + COALESCE(p.s, 0) AS BIGINT) AS score
  FROM s0 a JOIN s1 b USING (doc_id) LEFT JOIN scp p USING (doc_id)
)
"""
        + _TOPK_TAIL.format(k=10)
    )

    # XML dialect (r5): MUST data + SHOULD unordered span(query, join,
    # slop 1) — ReqOptSum: data's score plus the span pseudo-term's
    # integer micro-score when present
    o["ft_xml_qp"] = (
        _SQL_PREFIX + _term_ctes(["data", "query", "join"])
        + f""",
tokp AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(1, len(toks) + 1)) AS pos
  FROM (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents)
),
pfx AS (
  SELECT doc_id, CAST(sum(sf) AS DOUBLE) / 1000000.0 AS pf FROM (
    SELECT a.doc_id AS doc_id, a.pos AS apos,
           CAST(floor(1000000.0 / (1.0 + (min(abs(b.pos - a.pos)) + 1)) + 0.5) AS BIGINT) AS sf
    FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id
      AND abs(b.pos - a.pos) <= 2
    WHERE a.term = 'query' AND b.term = 'join'
    GROUP BY a.doc_id, a.pos
  ) GROUP BY doc_id
),
idfx AS (
  SELECT (ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t1) + 0.5)/((SELECT count(*) FROM t1) + 0.5))
        + ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t2) + 0.5)/((SELECT count(*) FROM t2) + 0.5))) AS idf_sum,
        st.maxdoc, st.sum_ttf
  FROM st
),
spx AS (
  SELECT p.doc_id, CAST(floor((i.idf_sum * 2.2 * p.pf)
    / (p.pf + 1.2*(0.25 + (0.75*d.dl)/(i.sum_ttf/i.maxdoc))) * 1000000.0 + 0.5) AS BIGINT) AS s
  FROM pfx p JOIN dl d USING (doc_id) CROSS JOIN idfx i
),
scored AS (
  SELECT a.doc_id, CAST(a.s + COALESCE(x.s, 0) AS BIGINT) AS score
  FROM s0 a LEFT JOIN spx x USING (doc_id)
)
"""
        + _TOPK_TAIL.format(k=10)
    )

    # span on the TITLE text field: positions over the title tokenization,
    # damped greedy-chain slop factors, title dl/avgdl and title dfs
    _TOKT = (
        "list_filter(string_split_regex(lower(substr(text, 1, 80)), "
        "'[^a-z0-9]+'), x -> x <> '')"
    )

    def _title_df(t: str) -> str:
        return f"(SELECT count(DISTINCT doc_id) FROM tokpt WHERE term = '{t}')"

    o["ft_span_field"] = f"""
WITH tokpt AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(1, len(toks) + 1)) AS pos
  FROM (SELECT doc_id, {_TOKT} AS toks FROM documents)
),
dlt AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tokpt GROUP BY doc_id),
stt AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS maxdoc,
               (SELECT count(*) FROM tokpt)::DOUBLE AS sum_ttf),
pf AS (
  SELECT doc_id, CAST(sum(sf) AS DOUBLE) / 1000000.0 AS pf FROM (
    SELECT a.doc_id AS doc_id, a.pos AS apos,
           CAST(floor(1000000.0 / (2.0 + min(b.pos) - a.pos) + 0.5) AS BIGINT) AS sf
    FROM tokpt a JOIN tokpt b ON b.doc_id = a.doc_id
      AND b.pos > a.pos AND b.pos <= a.pos + 3
    WHERE a.term = 'data' AND b.term = 'merge'
    GROUP BY a.doc_id, a.pos
  ) GROUP BY doc_id
),
idfs AS (
  SELECT (ln(1.0 + (stt.maxdoc - {_title_df('data')} + 0.5)/({_title_df('data')} + 0.5))
        + ln(1.0 + (stt.maxdoc - {_title_df('merge')} + 0.5)/({_title_df('merge')} + 0.5))) AS idf_sum,
        stt.maxdoc, stt.sum_ttf
  FROM stt
),
scored AS (
  SELECT p.doc_id, CAST(floor((i.idf_sum * 2.2 * p.pf)
    / (p.pf + 1.2*(0.25 + (0.75*d.dl)/(i.sum_ttf/i.maxdoc))) * 1000000.0 + 0.5) AS BIGINT) AS score
  FROM pf p JOIN dlt d USING (doc_id) CROSS JOIN idfs i
)
{_TOPK_TAIL.format(k=10)}
"""

    # scored prefix rewrite on the TITLE field: expansion = the title
    # vocabulary's 's%' terms, per-term BM25 with title norms/avgdl and
    # per-term df, disjunction-summed per doc (ScoringRewrite)
    o["ft_prefix_scored_field"] = f"""
WITH tokt AS (
  SELECT doc_id, unnest({_TOKT}) AS term FROM documents
),
dlt AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tokt GROUP BY doc_id),
stt AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS maxdoc,
               (SELECT count(*) FROM tokt)::DOUBLE AS sum_ttf),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tokt
       WHERE term LIKE 's%' GROUP BY doc_id, term),
dfp AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tokt
        WHERE term LIKE 's%' GROUP BY term),
s AS (
  SELECT t.doc_id, CAST(floor(
    (ln(1.0 + (st.maxdoc - f.df + 0.5)/(f.df + 0.5)) * 2.2 * t.tf)
    / (t.tf + 1.2*(0.25 + (0.75*d.dl)/(st.sum_ttf/st.maxdoc)))
    * 1000000.0 + 0.5) AS BIGINT) AS s
  FROM tf t JOIN dfp f USING (term) JOIN dlt d USING (doc_id) CROSS JOIN stt st
),
scored AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS score FROM s GROUP BY doc_id)
{_TOPK_TAIL.format(k=10)}
"""

    o["ft_span_near_unord"] = (
        _SQL_PREFIX + _term_ctes(["query", "join"]) + ","
        + _span_pf(
            "query", "join",
            "abs(b.pos - a.pos) <= 2",
            "min(abs(b.pos - a.pos)) + 1",  # max(end)-min(start), unit spans
        )
        + _TOPK_TAIL.format(k=10)
    )

    # span_first: tf truncated to the first 8 positions, idf from the FULL
    # document frequency of the term (the weight is the ordinary TermWeight;
    # only the spans enumeration is windowed — SpanFirstQuery.cs:33-49)
    o["ft_span_first"] = (
        _SQL_PREFIX + _term_ctes(["table"])
        + f""",
tokp AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(1, len(toks) + 1)) AS pos
  FROM (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents)
),
pf AS (
  -- each qualifying unit span contributes sloppyFreq(1) = 1/2
  SELECT doc_id, count(*)::DOUBLE * 0.5 AS pf FROM tokp
  WHERE term = 'table' AND pos <= 8 GROUP BY doc_id
),
idfs AS (
  SELECT ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t0) + 0.5)/((SELECT count(*) FROM t0) + 0.5)) AS idf_sum,
         st.maxdoc, st.sum_ttf
  FROM st
),
scored AS (
  SELECT p.doc_id, CAST(floor((i.idf_sum * 2.2 * p.pf)
    / (p.pf + 1.2*(0.25 + (0.75*d.dl)/(i.sum_ttf/i.maxdoc))) * 1000000.0 + 0.5) AS BIGINT) AS score
  FROM pf p JOIN dl d USING (doc_id) CROSS JOIN idfs i
)
"""
        + _TOPK_TAIL.format(k=10)
    )

    # span_or: union of spans == one pseudo-term whose tf is the summed
    # occurrences of the member terms, idf the sum of their idfs
    o["ft_span_or"] = (
        _SQL_PREFIX + _term_ctes(["data", "vector"])
        + f""",
pf AS (
  -- each member's unit span contributes sloppyFreq(1) = 1/2 (positions of
  -- distinct terms never collide, so plain count == deduped union count)
  SELECT doc_id, count(*)::DOUBLE * 0.5 AS pf FROM tok
  WHERE term IN ('data', 'vector') GROUP BY doc_id
),
idfs AS (
  SELECT (ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t0) + 0.5)/((SELECT count(*) FROM t0) + 0.5))
        + ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t1) + 0.5)/((SELECT count(*) FROM t1) + 0.5))) AS idf_sum,
        st.maxdoc, st.sum_ttf
  FROM st
),
scored AS (
  SELECT p.doc_id, CAST(floor((i.idf_sum * 2.2 * p.pf)
    / (p.pf + 1.2*(0.25 + (0.75*d.dl)/(i.sum_ttf/i.maxdoc))) * 1000000.0 + 0.5) AS BIGINT) AS score
  FROM pf p JOIN dl d USING (doc_id) CROSS JOIN idfs i
)
"""
        + _TOPK_TAIL.format(k=10)
    )

    # span_not: 'data' positions with no 'merge' in [pos-1, pos+1]; idf from
    # 'data' alone (the include term is the only relevance evidence)
    o["ft_span_not"] = (
        _SQL_PREFIX + _term_ctes(["data"])
        + f""",
tokp AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(1, len(toks) + 1)) AS pos
  FROM (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents)
),
pf AS (
  -- each surviving unit span contributes sloppyFreq(1) = 1/2
  SELECT doc_id, count(*)::DOUBLE * 0.5 AS pf FROM tokp a
  WHERE a.term = 'data' AND NOT EXISTS (
    SELECT 1 FROM tokp b WHERE b.doc_id = a.doc_id AND b.term = 'merge'
      AND b.pos BETWEEN a.pos - 1 AND a.pos + 1)
  GROUP BY doc_id
),
idfs AS (
  SELECT ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t0) + 0.5)/((SELECT count(*) FROM t0) + 0.5)) AS idf_sum,
         st.maxdoc, st.sum_ttf
  FROM st
),
scored AS (
  SELECT p.doc_id, CAST(floor((i.idf_sum * 2.2 * p.pf)
    / (p.pf + 1.2*(0.25 + (0.75*d.dl)/(i.sum_ttf/i.maxdoc))) * 1000000.0 + 0.5) AS BIGINT) AS score
  FROM pf p JOIN dl d USING (doc_id) CROSS JOIN idfs i
)
"""
        + _TOPK_TAIL.format(k=10)
    )

    o["ft_prefix"] = (
        _SQL_PREFIX
        + "SELECT DISTINCT doc_id, CAST(1000000 AS BIGINT) AS score FROM tok "
        "WHERE term LIKE 'wi%' ORDER BY doc_id"
    )

    o["ft_wildcard"] = (
        _SQL_PREFIX
        + "SELECT DISTINCT doc_id, CAST(1000000 AS BIGINT) AS score FROM tok "
        "WHERE regexp_full_match(term, 's.*k') ORDER BY doc_id"
    )

    o["ft_fuzzy"] = (
        _SQL_PREFIX
        + "SELECT DISTINCT doc_id, CAST(1000000 AS BIGINT) AS score FROM tok "
        "WHERE levenshtein(term, 'querry') <= 1 AND abs(length(term) - 6) <= 1 "
        "ORDER BY doc_id"
    )

    o["ft_term_range"] = (
        _SQL_PREFIX
        + "SELECT DISTINCT doc_id, CAST(1000000 AS BIGINT) AS score FROM tok "
        "WHERE term >= 'query' AND term <= 'sort' ORDER BY doc_id"
    )

    o["ft_dismax"] = (
        _SQL_PREFIX + _term_ctes(["spark", "data"])
        + ", u AS (SELECT doc_id, s FROM s0 UNION ALL SELECT doc_id, s FROM s1), "
        "scored AS (SELECT doc_id, CAST(max(s) AS BIGINT) AS score FROM u GROUP BY doc_id) "
        + _TOPK_TAIL.format(k=10)
    )

    o["ft_match_all_count"] = "SELECT count(*)::BIGINT AS cnt FROM documents"

    o["ft_total_hits"] = (
        _SQL_PREFIX
        + "SELECT count(DISTINCT doc_id)::BIGINT AS cnt FROM tok "
        "WHERE term IN ('query', 'sort')"
    )

    o["ft_search_after"] = (
        _SQL_PREFIX + _term_ctes(["data"])
        + ", scored AS (SELECT doc_id, s AS score FROM s0), "
        "ranked AS (SELECT doc_id, score, row_number() OVER "
        "(ORDER BY score DESC, doc_id ASC) AS rk FROM scored) "
        "SELECT doc_id, score, CAST(rk - 10 AS BIGINT) AS rank FROM ranked "
        "WHERE rk BETWEEN 11 AND 20 ORDER BY rk"
    )

    o["ft_facet_lang"] = (
        _SQL_PREFIX
        + ", m AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'data') "
        "SELECT d.lang, count(*)::BIGINT AS cnt FROM m JOIN documents d USING (doc_id) "
        "GROUP BY d.lang ORDER BY d.lang"
    )

    o["ft_group_top_source"] = (
        _SQL_PREFIX + _term_ctes(["data"])
        + ", scored AS (SELECT s0.doc_id, s0.s AS score, d.source "
        "FROM s0 JOIN documents d USING (doc_id)), "
        "r AS (SELECT source, doc_id, score, row_number() OVER "
        "(PARTITION BY source ORDER BY score DESC, doc_id ASC) AS rn FROM scored) "
        "SELECT source, doc_id, score FROM r WHERE rn = 1 ORDER BY source"
    )

    o["ft_term_dictionary"] = (
        _SQL_PREFIX
        + "SELECT term, count(DISTINCT doc_id)::BIGINT AS df, count(*)::BIGINT AS ttf "
        "FROM tok GROUP BY term ORDER BY term"
    )

    o["ft_doc_norms"] = (
        _SQL_PREFIX
        + ", c AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id) "
        "SELECT d.doc_id, CAST(COALESCE(c.n, 0) AS BIGINT) AS doclen "
        "FROM documents d LEFT JOIN c USING (doc_id) ORDER BY d.doc_id"
    )

    # keyword-field score = floor(idf * 1e6 + 0.5), idf over docs with the
    # value (engine contract: norms omitted, tf == 1 -> score == idf)
    o["ft_field_keyword"] = (
        "WITH st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS maxdoc), "
        "kdf AS (SELECT count(*)::DOUBLE AS df FROM documents WHERE lang = 'en') "
        "SELECT doc_id, CAST(floor(ln(1.0 + (st.maxdoc - kdf.df + 0.5)/(kdf.df + 0.5)) "
        "* 1000000.0 + 0.5) AS BIGINT) AS score "
        "FROM documents CROSS JOIN st CROSS JOIN kdf WHERE lang = 'en' ORDER BY doc_id"
    )

    o["ft_field_mixed"] = (
        _SQL_PREFIX + _term_ctes(["data"])
        + ", kdf AS (SELECT count(*)::DOUBLE AS df FROM documents WHERE lang = 'en'), "
        "kw AS (SELECT doc_id, CAST(floor(ln(1.0 + (st.maxdoc - kdf.df + 0.5)/(kdf.df + 0.5)) "
        "* 1000000.0 + 0.5) AS BIGINT) AS s "
        "FROM documents CROSS JOIN st CROSS JOIN kdf WHERE lang = 'en'), "
        "scored AS (SELECT a.doc_id, CAST(a.s + k.s AS BIGINT) AS score "
        "FROM s0 a JOIN kw k USING (doc_id)) "
        + _TOPK_TAIL.format(k=10)
    )

    o["ft_filtered_range"] = (
        _SQL_PREFIX + _term_ctes(["data"])
        + ", scored AS (SELECT s0.doc_id, s0.s AS score FROM s0 "
        "JOIN dl d USING (doc_id) WHERE d.dl BETWEEN 30 AND 80) "
        + _TOPK_TAIL.format(k=10)
    )

    # scoring-mode fuzzy: per (doc, expanded term) BM25, summed per doc —
    # same op order as _term_ctes but with the term set data-driven
    o["ft_fuzzy_scored"] = (
        _SQL_PREFIX
        + """,
fterm AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok
  WHERE levenshtein(term, 'querry') <= 1 AND abs(length(term) - 6) <= 1
  GROUP BY term
),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
  WHERE term IN (SELECT term FROM fterm) GROUP BY doc_id, term
),
ps AS (
  SELECT t.doc_id, CAST(floor(
    (ln(1.0 + (st.maxdoc - f.df + 0.5)/(f.df + 0.5)) * 2.2 * t.tf)
    / (t.tf + 1.2*(0.25 + (0.75*d.dl)/(st.sum_ttf/st.maxdoc)))
    * 1000000.0 + 0.5) AS BIGINT) AS s
  FROM tf t JOIN fterm f USING (term) JOIN dl d USING (doc_id) CROSS JOIN st
),
scored AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS score FROM ps GROUP BY doc_id)
"""
        + _TOPK_TAIL.format(k=10)
    )

    # multi-phrase "(data|part) filter": freq = DISTINCT slot-0 positions
    # with a slot-1 hit at pos+1; idf = idf(data)+idf(part)+idf(filter)
    o["ft_multi_phrase"] = (
        _SQL_PREFIX + _term_ctes(["data", "part", "filter"])
        + f""",
tokp AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(1, len(toks) + 1)) AS pos
  FROM (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents)
),
pf AS (
  SELECT a.doc_id, count(DISTINCT a.pos)::DOUBLE AS pf
  FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.term IN ('data', 'part') AND b.term = 'filter'
  GROUP BY a.doc_id
),
idfs AS (
  SELECT (ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t0) + 0.5)/((SELECT count(*) FROM t0) + 0.5))
        + ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t1) + 0.5)/((SELECT count(*) FROM t1) + 0.5))
        + ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t2) + 0.5)/((SELECT count(*) FROM t2) + 0.5))) AS idf_sum,
        st.maxdoc, st.sum_ttf
  FROM st
),
scored AS (
  SELECT p.doc_id, CAST(floor((i.idf_sum * 2.2 * p.pf)
    / (p.pf + 1.2*(0.25 + (0.75*d.dl)/(i.sum_ttf/i.maxdoc))) * 1000000.0 + 0.5) AS BIGINT) AS score
  FROM pf p JOIN dl d USING (doc_id) CROSS JOIN idfs i
)
"""
        + _TOPK_TAIL.format(k=10)
    )

    # MLT: rank input terms by tf*idf (df from data), keep best 4, score as
    # a BM25 disjunction — same op order as _term_ctes, term set data-driven
    o["ft_mlt"] = (
        _SQL_PREFIX
        + """,
mltin(term, tf) AS (VALUES ('data', 1.0), ('spark', 1.0), ('merge', 1.0),
                           ('vector', 1.0), ('dup', 1.0), ('hash', 1.0)),
cand AS (
  SELECT m.term, m.tf,
         (SELECT count(DISTINCT doc_id) FROM tok WHERE term = m.term)::DOUBLE AS df
  FROM mltin m
),
sel AS (
  SELECT term, df FROM cand CROSS JOIN st
  WHERE df >= 2
  ORDER BY tf * ln(1.0 + (st.maxdoc - df + 0.5)/(df + 0.5)) DESC, term DESC
  LIMIT 4
),
tfm AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
  WHERE term IN (SELECT term FROM sel) GROUP BY doc_id, term
),
ps AS (
  SELECT t.doc_id, CAST(floor(
    (ln(1.0 + (st.maxdoc - f.df + 0.5)/(f.df + 0.5)) * 2.2 * t.tf)
    / (t.tf + 1.2*(0.25 + (0.75*d.dl)/(st.sum_ttf/st.maxdoc)))
    * 1000000.0 + 0.5) AS BIGINT) AS s
  FROM tfm t JOIN sel f USING (term) JOIN dl d USING (doc_id) CROSS JOIN st
),
scored AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS score FROM ps GROUP BY doc_id)
"""
        + _TOPK_TAIL.format(k=10)
    )

    # CommonTerms: df-driven low/high split at 0.5*maxdoc; docs must match a
    # LOW term, every matched query term adds score; all-common fallback =
    # plain disjunction over the high terms (both branches expressed, the
    # populated one selected by EXISTS)
    o["ft_common_terms"] = (
        _SQL_PREFIX
        + """,
ct(term) AS (VALUES ('dup'), ('data'), ('spark')),
ctdf AS (
  SELECT c.term,
         (SELECT count(DISTINCT doc_id) FROM tok WHERE term = c.term)::DOUBLE AS df
  FROM ct c
),
lows AS (SELECT term FROM ctdf CROSS JOIN st WHERE df <= 0.5 * st.maxdoc),
tfm AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
  WHERE term IN (SELECT term FROM ct) GROUP BY doc_id, term
),
ps AS (
  SELECT t.doc_id, t.term, CAST(floor(
    (ln(1.0 + (st.maxdoc - f.df + 0.5)/(f.df + 0.5)) * 2.2 * t.tf)
    / (t.tf + 1.2*(0.25 + (0.75*d.dl)/(st.sum_ttf/st.maxdoc)))
    * 1000000.0 + 0.5) AS BIGINT) AS s
  FROM tfm t JOIN ctdf f USING (term) JOIN dl d USING (doc_id) CROSS JOIN st
),
lowdocs AS (SELECT DISTINCT doc_id FROM ps WHERE term IN (SELECT term FROM lows)),
scored_req AS (
  SELECT doc_id, CAST(sum(s) AS BIGINT) AS score FROM ps
  WHERE doc_id IN (SELECT doc_id FROM lowdocs) GROUP BY doc_id
),
scored_plain AS (
  SELECT doc_id, CAST(sum(s) AS BIGINT) AS score FROM ps
  WHERE term NOT IN (SELECT term FROM lows) GROUP BY doc_id
),
scored AS (
  SELECT * FROM scored_req WHERE EXISTS (SELECT 1 FROM lows)
  UNION ALL
  SELECT * FROM scored_plain WHERE NOT EXISTS (SELECT 1 FROM lows)
)
"""
        + _TOPK_TAIL.format(k=10)
    )

    # highlighter: same fragment arithmetic as query/highlight.py —
    # start0 = first match (0-based), lo = max(0, start0-60),
    # hi = min(len, lo+120), wrap matches, ellipses at cut edges
    o["ft_highlight"] = (
        _SQL_PREFIX + _term_ctes(["dup"])
        + """,
topk AS (
  SELECT doc_id, s AS score,
         CAST(row_number() OVER (ORDER BY s DESC, doc_id ASC) AS BIGINT) AS rank
  FROM s0 ORDER BY s DESC, doc_id ASC LIMIT 5
),
frag AS (
  SELECT t.doc_id, t.score, t.rank, d.text,
         greatest(0, position('dup' IN d.text) - 1 - 60) AS lo,
         least(length(d.text), greatest(0, position('dup' IN d.text) - 1 - 60) + 120) AS hi
  FROM topk t JOIN documents d USING (doc_id)
)
SELECT doc_id, score, rank,
       (CASE WHEN lo > 0 THEN '...' ELSE '' END)
       || regexp_replace(substr(text, lo + 1, hi - lo), '(?i)\\b(dup)\\b', '<b>\\1</b>', 'g')
       || (CASE WHEN hi < length(text) THEN '...' ELSE '' END) AS snippet
FROM frag ORDER BY rank
"""
    )

    o["ft_rescore"] = (
        _SQL_PREFIX + _term_ctes(["data", "spark"])
        + """,
topk AS (SELECT doc_id, s FROM s0 ORDER BY s DESC, doc_id ASC LIMIT 20),
scored AS (
  SELECT t.doc_id, CAST(t.s + 2.0 * COALESCE(u.s, 0) AS BIGINT) AS score
  FROM topk t LEFT JOIN s1 u USING (doc_id)
)
SELECT doc_id, score, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
FROM scored ORDER BY score DESC, doc_id ASC
"""
    )

    o["ft_sort_by_field"] = (
        _SQL_PREFIX
        + ", m AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'dup') "
        "SELECT m.doc_id, CAST(d.dl AS BIGINT) AS doclen "
        "FROM m JOIN dl d USING (doc_id) "
        "ORDER BY d.dl ASC, m.doc_id ASC LIMIT 10"
    )

    # warc_ts is a pure function of doc_id (epoch0 + (doc_id%100000) min),
    # so the oracle reproduces the timestamp range in BIGINT epoch space —
    # timezone-free on both engines
    o["ft_ts_range"] = (
        _SQL_PREFIX + _term_ctes(["data"])
        + ", scored AS (SELECT s0.doc_id, s0.s AS score FROM s0 "
        f"WHERE {_TS_EPOCH0} + (s0.doc_id % 100000) * 60 "
        f"BETWEEN {_TS_EPOCH0 + 120 * 60} AND {_TS_EPOCH0 + 300 * 60 - 1}) "
        + _TOPK_TAIL.format(k=10)
    )

    # sorted index: docid order == (warc_ts, url) order, so the engine's
    # score-desc/docid-asc tie-break is score DESC, ts ASC, url-string ASC
    o["ft_sorted_range"] = (
        _SQL_PREFIX + _term_ctes(["data"])
        + ", scored AS (SELECT s0.doc_id, s0.s AS score, "
        f"{_TS_EPOCH0} + (s0.doc_id % 100000) * 60 AS ts FROM s0 "
        f"WHERE {_TS_EPOCH0} + (s0.doc_id % 100000) * 60 "
        f"BETWEEN {_TS_EPOCH0 + 120 * 60} AND {_TS_EPOCH0 + 300 * 60 - 1}) "
        "SELECT doc_id, score, CAST(row_number() OVER "
        "(ORDER BY score DESC, ts ASC, ('doc://' || doc_id) ASC) AS BIGINT) "
        "AS rank FROM scored "
        "ORDER BY score DESC, ts ASC, ('doc://' || doc_id) ASC LIMIT 10"
    )

    o["ft_group_count"] = (
        _SQL_PREFIX
        + ", m AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'data') "
        f"SELECT count(DISTINCT CAST(floor(({_TS_EPOCH0} + (doc_id % 100000) "
        "* 60) / 3600.0) AS BIGINT)) AS n_groups FROM m"
    )

    o["ft_terms_filter"] = (
        _SQL_PREFIX + _term_ctes(["data"])
        + ", scored AS (SELECT s0.doc_id, s0.s AS score FROM s0 "
        "JOIN documents d ON d.doc_id = s0.doc_id "
        "WHERE d.lang IN ('de', 'fr')) "
        + _TOPK_TAIL.format(k=10)
    )

    o["ft_dup_filter"] = (
        _SQL_PREFIX + _term_ctes(["data"])
        + ", surv AS (SELECT min(doc_id) AS doc_id FROM dl GROUP BY dl), "
        "scored AS (SELECT s0.doc_id, s0.s AS score FROM s0 "
        "JOIN surv USING (doc_id)) "
        + _TOPK_TAIL.format(k=10)
    )

    o["ft_group_two_pass"] = (
        _SQL_PREFIX + _term_ctes(["data"])
        + f", g AS (SELECT s0.doc_id, s0.s AS score, "
        f"CAST(floor(({_TS_EPOCH0} + (s0.doc_id % 100000) * 60) / 3600.0) "
        "AS BIGINT) AS grp FROM s0), "
        "ranked AS (SELECT doc_id, score, grp, CAST(row_number() OVER "
        "(PARTITION BY grp ORDER BY score DESC, doc_id ASC) AS BIGINT) "
        "AS doc_rank FROM g), "
        "heads AS (SELECT grp, score AS top_score FROM ranked "
        "WHERE doc_rank = 1 ORDER BY top_score DESC, grp ASC LIMIT 5), "
        "tg AS (SELECT grp, CAST(row_number() OVER "
        "(ORDER BY top_score DESC, grp ASC) AS BIGINT) AS group_rank FROM heads) "
        "SELECT r.grp, t.group_rank, r.doc_id, r.score, r.doc_rank "
        "FROM ranked r JOIN tg t USING (grp) WHERE r.doc_rank <= 3"
    )

    o["ft_cached_filter"] = (
        _SQL_PREFIX + _term_ctes(["stream"])
        + ", scored AS (SELECT s0.doc_id, s0.s AS score FROM s0 "
        f"WHERE {_TS_EPOCH0} + (s0.doc_id % 100000) * 60 "
        f"BETWEEN {_TS_EPOCH0 + 300 * 60} AND {_TS_EPOCH0 + 600 * 60 - 1}) "
        + _TOPK_TAIL.format(k=10)
    )

    o["ft_sorted_early_topk"] = (
        _SQL_PREFIX
        + ", m AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'merge'), "
        f"scored AS (SELECT doc_id, CAST({_TS_EPOCH0} + (doc_id % 100000) * 60 "
        "AS BIGINT) AS ts_epoch FROM m) "
        "SELECT doc_id, ts_epoch, CAST(row_number() OVER "
        "(ORDER BY ts_epoch ASC, ('doc://' || doc_id) ASC) AS BIGINT) AS rank "
        "FROM scored ORDER BY ts_epoch ASC, ('doc://' || doc_id) ASC LIMIT 10"
    )

    o["ft_sort_by_ts"] = (
        _SQL_PREFIX
        + ", m AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'merge') "
        f"SELECT doc_id, CAST({_TS_EPOCH0} + (doc_id % 100000) * 60 AS BIGINT) "
        "AS ts_epoch FROM m "
        "ORDER BY ts_epoch DESC, doc_id ASC LIMIT 10"
    )

    o["ft_highlight_multi"] = (
        _SQL_PREFIX + _term_ctes(["data", "spark"])
        + f""",
scored AS (SELECT doc_id, score FROM {_sum_scored([0, 1])}),
topk AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
  FROM scored ORDER BY score DESC, doc_id ASC LIMIT 5
),
lists AS (
  -- fragments + top-3 selection in LIST space (a second unnest in this
  -- CTE chain silently binds wrong in DuckDB 1.0): struct order (ns, i)
  -- makes list_sort ascending == (score desc, position asc)
  SELECT t.doc_id, t.rank,
         regexp_extract_all(d.text, '(?s).{{1,100}}') AS frags
  FROM topk t JOIN documents d USING (doc_id)
),
sc AS (
  SELECT doc_id, rank,
    list_filter(
      list_transform(frags, (frag, i) -> struct_pack(
          ns := -len(regexp_extract_all(frag, '(?i)(data|spark)')),
          i := i - 1, frag := frag)),
      x -> x.ns < 0) AS sf
  FROM lists
),
best AS (
  SELECT doc_id, rank, list_sort(sf)[1:3] AS top3 FROM sc WHERE len(sf) > 0
)
SELECT doc_id, rank, CAST(len(top3) AS BIGINT) AS n_fragments,
  array_to_string(
    list_transform(
      list_sort(list_transform(top3, x -> struct_pack(i := x.i, frag := x.frag))),
      x -> regexp_replace(x.frag, '(?i)(data|spark)', '<b>\\1</b>', 'g')),
    '...') AS snippet
FROM best ORDER BY rank
"""
    )

    o["ft_regexp"] = (
        _SQL_PREFIX
        + "SELECT DISTINCT doc_id, CAST(1000000 AS BIGINT) AS score FROM tok "
        "WHERE regexp_full_match(term, 's(park|ort)') ORDER BY doc_id"
    )

    o["ft_suggest"] = (
        _SQL_PREFIX
        + "SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok "
        "WHERE term LIKE 's%' GROUP BY term "
        "ORDER BY df DESC, term ASC LIMIT 10"
    )

    o["ft_field_title"] = f"""
WITH tokt AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(substr(text, 1, 80)),
         '[^a-z0-9]+'), x -> x <> '')) AS term FROM documents
),
dlt AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tokt GROUP BY doc_id),
stt AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS maxdoc,
               (SELECT count(*) FROM tokt)::DOUBLE AS sum_ttf),
t0 AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM tokt
       WHERE term = 'data' GROUP BY doc_id),
s0 AS (
  SELECT t.doc_id, CAST(floor(
    (ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t0) + 0.5)
            / ((SELECT count(*) FROM t0) + 0.5)) * 2.2 * t.tf)
    / (t.tf + 1.2 * (0.25 + (0.75 * d.dl) / (st.sum_ttf / st.maxdoc)))
    * 1000000.0 + 0.5) AS BIGINT) AS s
  FROM t0 t JOIN dlt d USING (doc_id) CROSS JOIN stt st
),
scored AS (SELECT doc_id, s AS score FROM s0)
{_TOPK_TAIL.format(k=10)}
"""

    o["ft_dismax_fields"] = (
        _SQL_PREFIX + _term_ctes(["data"])
        + f""",
tokt AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(substr(text, 1, 80)),
         '[^a-z0-9]+'), x -> x <> '')) AS term FROM documents
),
dlt AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tokt GROUP BY doc_id),
stt AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS maxdoc,
               (SELECT count(*) FROM tokt)::DOUBLE AS sum_ttf),
tt0 AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM tokt
        WHERE term = 'data' GROUP BY doc_id),
st0 AS (
  SELECT t.doc_id, CAST(floor(
    (ln(1.0 + (st.maxdoc - (SELECT count(*) FROM tt0) + 0.5)
            / ((SELECT count(*) FROM tt0) + 0.5)) * 2.2 * t.tf)
    / (t.tf + 1.2 * (0.25 + (0.75 * d.dl) / (st.sum_ttf / st.maxdoc)))
    * 1000000.0 + 0.5) AS BIGINT) AS s
  FROM tt0 t JOIN dlt d USING (doc_id) CROSS JOIN stt st
),
u AS (SELECT doc_id, s FROM s0 UNION ALL SELECT doc_id, s FROM st0),
scored AS (SELECT doc_id, CAST(max(s) AS BIGINT) AS score FROM u GROUP BY doc_id)
{_TOPK_TAIL.format(k=10)}
"""
    )

    o["ft_search_batch"] = (
        _SQL_PREFIX + _term_ctes(["data", "join", "row"])
        + f""",
tokp AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(1, len(toks) + 1)) AS pos
  FROM (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents)
),
pf AS (
  SELECT a.doc_id, count(*)::DOUBLE AS pf
  FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'join' AND b.term = 'row'
  GROUP BY a.doc_id
),
idfs AS (
  SELECT (ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t1) + 0.5)/((SELECT count(*) FROM t1) + 0.5))
        + ln(1.0 + (st.maxdoc - (SELECT count(*) FROM t2) + 0.5)/((SELECT count(*) FROM t2) + 0.5))) AS idf_sum,
        st.maxdoc, st.sum_ttf
  FROM st
),
ph AS (
  SELECT p.doc_id, CAST(floor((i.idf_sum * 2.2 * p.pf)
    / (p.pf + 1.2*(0.25 + (0.75*d.dl)/(i.sum_ttf/i.maxdoc))) * 1000000.0 + 0.5) AS BIGINT) AS score
  FROM pf p JOIN dl d USING (doc_id) CROSS JOIN idfs i
),
u AS (
  SELECT 'q_data' AS query_id, doc_id, s AS score FROM s0
  UNION ALL
  SELECT 'q_join_row' AS query_id, doc_id, score FROM ph
)
SELECT query_id, doc_id, score, rank FROM (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
  FROM u
) WHERE rank <= 5
"""
    )

    o["ft_fuzzy_suggest"] = (
        _SQL_PREFIX
        + ", d AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df "
        "FROM tok GROUP BY term) "
        "SELECT term, df, "
        "CAST(levenshtein(substr(term, 1, 5), 'sperk') AS BIGINT) AS distance "
        "FROM d WHERE length(term) >= 5 "
        "AND levenshtein(substr(term, 1, 5), 'sperk') <= 1 "
        "ORDER BY distance ASC, df DESC, term ASC LIMIT 10"
    )

    o["ft_spell"] = (
        _SQL_PREFIX
        + ", d AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY term) "
        "SELECT term, df, CAST(levenshtein(term, 'tabel') AS BIGINT) AS distance FROM d "
        "WHERE levenshtein(term, 'tabel') <= 2 AND abs(length(term) - 5) <= 2 AND term <> 'tabel' "
        "ORDER BY distance ASC, df DESC, term ASC LIMIT 5"
    )

    o["dd_exact"] = (
        "SELECT md5(text) AS text_hash, count(*)::BIGINT AS cnt, "
        "CAST(min(doc_id) AS BIGINT) AS keep_doc "
        "FROM documents GROUP BY md5(text) ORDER BY text_hash"
    )

    minhash_ctes = f"""
WITH d AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
tokp AS (SELECT doc_id, unnest(toks) AS term, unnest(range(1, len(toks) + 1)) AS pos FROM d),
sh AS (
  SELECT DISTINCT a.doc_id, a.term || ' ' || b.term || ' ' || c.term AS sh
  FROM tokp a
  JOIN tokp b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN tokp c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
),
shape AS (
  -- scale-aware rows-per-band: clamp(2, 8, ceil(log2(n)/4)), whole bands
  -- only ({_MINHASH_PERMS} // r * r perms used) — mirrors _minhash_band_rows
  SELECT r, ({_MINHASH_PERMS} // r) * r AS n_used FROM (
    SELECT least(8, greatest(2, CAST(ceil(log2((SELECT count(*) FROM documents)) / 4.0) AS INT))) AS r
  )
),
hs AS (
  SELECT doc_id, j, min(CAST(concat('0x', substr(md5(j || ':' || sh), 1, 8)) AS BIGINT)) AS mh
  FROM sh CROSS JOIN (SELECT unnest(range(0, {_MINHASH_PERMS})) AS j)
  WHERE j < (SELECT n_used FROM shape)
  GROUP BY doc_id, j
),
bands AS (
  SELECT doc_id, CAST(j // (SELECT r FROM shape) AS INT) AS band,
         string_agg(CAST(mh AS VARCHAR), '_' ORDER BY j) AS key
  FROM hs GROUP BY doc_id, CAST(j // (SELECT r FROM shape) AS INT)
)"""

    o["dd_minhash_lsh"] = (
        minhash_ctes
        + """
SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
ORDER BY a, b
"""
    )

    o["dd_lsh_verify"] = (
        minhash_ctes
        + f""",
cand AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
ts AS (SELECT doc_id, list_sort(list_distinct({_TOKS_DUCK})) AS ts FROM documents)
SELECT c.a, c.b,
       CAST(floor(len(list_intersect(x.ts, y.ts))::DOUBLE * 1000000.0
            / len(list_distinct(list_concat(x.ts, y.ts)))::DOUBLE + 0.5) AS BIGINT) AS j_x1m
FROM cand c JOIN ts x ON x.doc_id = c.a JOIN ts y ON y.doc_id = c.b
WHERE CAST(floor(len(list_intersect(x.ts, y.ts))::DOUBLE * 1000000.0
      / len(list_distinct(list_concat(x.ts, y.ts)))::DOUBLE + 0.5) AS BIGINT) >= 500000
ORDER BY a, b
"""
    )

    # near-dup clustering (r5): reachability closure over the verified
    # pair graph (both directions), label = min reachable doc_id; sizes
    # by label. The recursive UNION dedups, so the closure terminates.
    o["dd_cluster_cc"] = (
        # the reachability CTE is recursive -> the WHOLE with-list needs
        # the RECURSIVE keyword (DuckDB applies it per-list, not per-CTE)
        minhash_ctes.replace("WITH d AS", "WITH RECURSIVE d AS", 1)
        + f""",
cand AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
ts AS (SELECT doc_id, list_sort(list_distinct({_TOKS_DUCK})) AS ts FROM documents),
ver AS (
  SELECT c.a, c.b
  FROM cand c JOIN ts x ON x.doc_id = c.a JOIN ts y ON y.doc_id = c.b
  WHERE CAST(floor(len(list_intersect(x.ts, y.ts))::DOUBLE * 1000000.0
        / len(list_distinct(list_concat(x.ts, y.ts)))::DOUBLE + 0.5) AS BIGINT) >= 500000
),
ed AS (SELECT a, b FROM ver UNION ALL SELECT b AS a, a AS b FROM ver),
nodes AS (SELECT DISTINCT a AS node FROM ed),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT x.node, e.b FROM reach x JOIN ed e ON e.a = x.r
),
lbl AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
sz AS (SELECT cluster, count(*)::BIGINT AS csize FROM lbl GROUP BY cluster)
SELECT CAST(l.node AS BIGINT) AS doc_id, CAST(l.cluster AS BIGINT) AS cluster,
       s.csize AS csize
FROM lbl l JOIN sz s USING (cluster) ORDER BY doc_id
"""
    )

    o["dd_simhash"] = f"""
WITH d AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS t FROM d),
th AS (SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) AS h FROM tok),
votes AS (
  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS b)
  GROUP BY doc_id, b
)
SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id ORDER BY doc_id
"""

    o["nd_jaccard"] = f"""
WITH d AS (SELECT doc_id, source, list_sort(list_distinct({_TOKS_DUCK})) AS ts FROM documents)
SELECT a.doc_id AS a, b.doc_id AS b,
       CAST(floor(len(list_intersect(a.ts, b.ts))::DOUBLE * 1000000.0
            / len(list_distinct(list_concat(a.ts, b.ts)))::DOUBLE + 0.5) AS BIGINT) AS j_x1m
FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE CAST(floor(len(list_intersect(a.ts, b.ts))::DOUBLE * 1000000.0
      / len(list_distinct(list_concat(a.ts, b.ts)))::DOUBLE + 0.5) AS BIGINT) >= 600000
ORDER BY a, b
"""

    # shared x1m-cosine SQL between an e6 vector column and another list
    # column — fold in dimension order, matching the Spark-side aggregate()
    def _cos6_sql(va: str, vb: str) -> str:
        def dot(a, b):
            return (
                f"list_reduce(list_transform(range(1, 65), i -> {a}[i] * {b}[i]), "
                "(a, b) -> a + b)"
            )
        return (
            f"CAST(floor({dot(va, vb)} / (sqrt({dot(va, va)}) * "
            f"sqrt({dot(vb, vb)})) * 1000000.0 + 0.5) AS BIGINT)"
        )

    o["ann_ivf_flat"] = f"""
WITH e6 AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(floor(x::DOUBLE * 1000000.0 + 0.5) AS DOUBLE)) AS v6
  FROM embeddings
),
par AS (
  SELECT CAST(least(4096, greatest(8, ceil(sqrt(count(*))))) AS BIGINT) AS k
  FROM e6
),
par2 AS (
  SELECT k, CAST(least(64, greatest(2, ceil(sqrt(k)))) AS BIGINT) AS nprobe
  FROM par
),
-- deterministic md5 sample: the K smallest md5(vec_id) rows seed the cells
seeds AS (
  SELECT vec_id AS j, v6 AS sv FROM e6
  ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
  LIMIT (SELECT k FROM par)
),
c1 AS (
  SELECT e.vec_id, s.j, {_cos6_sql("e.v6", "s.sv")} AS cx
  FROM e6 e CROSS JOIN seeds s
),
a1 AS (
  SELECT vec_id, j AS a1 FROM (
    SELECT vec_id, j,
           row_number() OVER (PARTITION BY vec_id ORDER BY cx DESC, j ASC) AS rn
    FROM c1) WHERE rn = 1
),
sums AS (
  SELECT a.a1 AS j, t.i AS dim, SUM(CAST(e.v6[t.i] AS BIGINT)) AS s
  FROM e6 e JOIN a1 a USING (vec_id)
  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t
  GROUP BY a.a1, t.i
),
cent AS (SELECT j, list(CAST(s AS DOUBLE) ORDER BY dim) AS cv FROM sums GROUP BY j),
c2 AS (
  SELECT e.vec_id, c.j, {_cos6_sql("e.v6", "c.cv")} AS cx
  FROM e6 e CROSS JOIN cent c
),
a2 AS (
  SELECT vec_id, j AS cluster FROM (
    SELECT vec_id, j,
           row_number() OVER (PARTITION BY vec_id ORDER BY cx DESC, j ASC) AS rn
    FROM c2) WHERE rn = 1
),
q AS (SELECT v6 AS qv FROM e6 WHERE vec_id = 0),
pr AS (
  SELECT c.j FROM cent c CROSS JOIN q
  ORDER BY {_cos6_sql("q.qv", "c.cv")} DESC, c.j ASC
  LIMIT (SELECT nprobe FROM par2)
),
f AS (
  SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
         CAST(a2.cluster AS BIGINT) AS cluster,
         {_cos6_sql("e.v6", "q.qv")} AS cos_x1m
  FROM e6 e JOIN a2 USING (vec_id) CROSS JOIN q
  WHERE a2.cluster IN (SELECT j FROM pr) AND e.vec_id != 0
)
SELECT vec_id, label, cluster, cos_x1m,
       CAST(row_number() OVER (ORDER BY cos_x1m DESC, vec_id ASC) AS BIGINT) AS rank
FROM f ORDER BY cos_x1m DESC, vec_id ASC LIMIT 5
"""

    o["ann_cosine_topk"] = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
nq AS (SELECT list_reduce(list_transform(range(1, len(qv) + 1), i -> qv[i]::DOUBLE * qv[i]::DOUBLE), (a, b) -> a + b) AS nq FROM q),
s AS (
  SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
         CAST(floor(
           list_reduce(list_transform(range(1, len(e.embedding) + 1), i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE), (a, b) -> a + b)
           / (sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE), (a, b) -> a + b))
              * sqrt(nq.nq))
           * 1000000.0 + 0.5) AS BIGINT) AS cos_x1m
  FROM embeddings e CROSS JOIN q CROSS JOIN nq
  WHERE e.vec_id != 0
)
SELECT vec_id, label, cos_x1m,
       CAST(row_number() OVER (ORDER BY cos_x1m DESC, vec_id ASC) AS BIGINT) AS rank
FROM s ORDER BY cos_x1m DESC, vec_id ASC LIMIT 10
"""

    plane_exprs = []
    for j in range(_N_PLANES):
        lit = "[" + ", ".join(repr(w) for w in _PLANES[j]) + "]"
        plane_exprs.append(
            f"CASE WHEN list_reduce(list_transform(range(1, {_DIM} + 1), "
            f"i -> embedding[i]::DOUBLE * ({lit})[i]), (a, b) -> a + b) > 0.0 "
            f"THEN {1 << j} ELSE 0 END"
        )
    o["ann_lsh_bucket"] = (
        "SELECT vec_id, CAST(" + " + ".join(plane_exprs) + " AS BIGINT) AS bucket "
        "FROM embeddings ORDER BY vec_id"
    )

    # 4-plane coarse bucket (16 buckets) for composed bucket-local top-k
    b4 = " + ".join(plane_exprs[:4])
    o["ann_lsh_topk"] = f"""
WITH b AS (SELECT vec_id, embedding, {b4} AS bucket FROM embeddings),
q AS (SELECT bucket, embedding AS qv FROM b WHERE vec_id = 0),
cand AS (
  SELECT e.vec_id,
         CAST(floor(list_reduce(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE), (x, y) -> x + y) / (sqrt(list_reduce(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE), (x, y) -> x + y)) * sqrt(list_reduce(list_transform(range(1, 65), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE), (x, y) -> x + y))) * 1000000.0 + 0.5) AS BIGINT) AS cos_x1m
  FROM b e CROSS JOIN q
  WHERE e.bucket = q.bucket AND e.vec_id != 0
)
SELECT vec_id, cos_x1m,
       CAST(row_number() OVER (ORDER BY cos_x1m DESC, vec_id ASC) AS BIGINT) AS rank
FROM cand ORDER BY cos_x1m DESC, vec_id ASC LIMIT 5
"""

    # scale-aware band width, mirrored in-SQL: all _EMB_BANDS*_EMB_MAX_BITS
    # sign bits are computed as '0'/'1' chars, concatenated per band, and
    # TRUNCATED to w = least(24, greatest(4, ceil(log2(count(*))))) — the
    # same width q_dd_embed_cosine derives from emb.count()
    # native list_dot_product == the sequential left fold bit-for-bit
    # (verified: 0 sign mismatches vs the list_reduce formulation, which
    # took ~20 s for 48 planes x 500 rows vs ~0 s native)
    n_emb_planes = _EMB_BANDS * _EMB_MAX_BITS
    bitsel = ", ".join(
        "CASE WHEN list_dot_product(emb_d, ["
        + ", ".join(repr(w) for w in [_plane_weight(j, d) for d in range(_DIM)])
        + f"]) > 0.0 THEN '1' ELSE '0' END AS b{j}"
        for j in range(n_emb_planes)
    )
    bandstrs = ", ".join(
        "concat("
        + ", ".join(f"b{band * _EMB_MAX_BITS + c}" for c in range(_EMB_MAX_BITS))
        + f") AS s{band}"
        for band in range(_EMB_BANDS)
    )
    bandrows = " UNION ALL ".join(
        f"SELECT vec_id, {band} AS band, "
        f"substr(s{band}, 1, (SELECT w FROM wsel)) AS key FROM strs"
        for band in range(_EMB_BANDS)
    )
    o["ann_lsh_multiprobe"] = f"""
WITH b AS (SELECT vec_id, embedding, {b4} AS bucket FROM embeddings),
q AS (SELECT bucket, embedding AS qv FROM b WHERE vec_id = 0),
cand AS (
  SELECT e.vec_id,
         CAST(floor(list_reduce(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE), (x, y) -> x + y) / (sqrt(list_reduce(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE), (x, y) -> x + y)) * sqrt(list_reduce(list_transform(range(1, 65), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE), (x, y) -> x + y))) * 1000000.0 + 0.5) AS BIGINT) AS cos_x1m
  FROM b e CROSS JOIN q
  WHERE xor(e.bucket, q.bucket) IN (0, 1, 2, 4, 8) AND e.vec_id != 0
)
SELECT vec_id, cos_x1m,
       CAST(row_number() OVER (ORDER BY cos_x1m DESC, vec_id ASC) AS BIGINT) AS rank
FROM cand ORDER BY cos_x1m DESC, vec_id ASC LIMIT 5
"""

    o["dd_embed_cosine"] = f"""
WITH wsel AS (SELECT least({_EMB_MAX_BITS}, greatest(4,
  CAST(ceil(log2((SELECT count(*) FROM embeddings))) AS INT))) AS w),
emb_cast AS (SELECT vec_id, embedding,
             list_transform(embedding, x -> x::DOUBLE) AS emb_d FROM embeddings),
bits AS (SELECT vec_id, embedding, {bitsel} FROM emb_cast),
strs AS (SELECT vec_id, {bandstrs} FROM bits),
bands AS ({bandrows}),
cand AS (
  SELECT DISTINCT a.vec_id AS a, b.vec_id AS b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
),
v AS (
  SELECT c.a, c.b,
         CAST(floor(list_reduce(list_transform(range(1, 65), i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE), (x, y) -> x + y) / (sqrt(list_reduce(list_transform(range(1, 65), i -> x.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE), (x, y) -> x + y)) * sqrt(list_reduce(list_transform(range(1, 65), i -> y.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE), (x, y) -> x + y))) * 1000000.0 + 0.5) AS BIGINT) AS cos_x1m
  FROM cand c
  JOIN embeddings x ON x.vec_id = c.a
  JOIN embeddings y ON y.vec_id = c.b
)
SELECT a, b, cos_x1m FROM v WHERE cos_x1m >= 400000 ORDER BY a, b
"""

    o["nd_shingle_jaccard"] = (
        minhash_ctes
        + """,
cand AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
ss AS (SELECT doc_id, list_sort(list(sh)) AS shs FROM sh GROUP BY doc_id)
SELECT c.a, c.b,
       CAST(floor(len(list_intersect(x.shs, y.shs))::DOUBLE * 1000000.0
            / len(list_distinct(list_concat(x.shs, y.shs)))::DOUBLE + 0.5) AS BIGINT) AS j_x1m
FROM cand c JOIN ss x ON x.doc_id = c.a JOIN ss y ON y.doc_id = c.b
WHERE CAST(floor(len(list_intersect(x.shs, y.shs))::DOUBLE * 1000000.0
      / len(list_distinct(list_concat(x.shs, y.shs)))::DOUBLE + 0.5) AS BIGINT) >= 800000
ORDER BY a, b
"""
    )

    o["txt_quality"] = f"""
WITH d AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
       CAST(floor(len(list_distinct(toks))::DOUBLE * 1000000.0 / len(toks)::DOUBLE + 0.5) AS BIGINT) AS ttr_x1m,
       CAST(floor(list_reduce(list_transform(toks, x -> CAST(length(x) AS BIGINT)), (a, b) -> a + b)::DOUBLE
            * 1000000.0 / len(toks)::DOUBLE + 0.5) AS BIGINT) AS mean_len_x1m
FROM d WHERE len(toks) > 0 ORDER BY doc_id
"""

    o["txt_token_count"] = f"""
WITH d AS (SELECT doc_id, source, {_TOKS_DUCK} AS toks FROM documents)
SELECT source, count(*)::BIGINT AS n_docs, CAST(sum(len(toks)) AS BIGINT) AS n_tokens
FROM d GROUP BY source ORDER BY source
"""

    o["txt_langid"] = f"""
WITH d AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents)
SELECT doc_id,
       CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of'))) AS BIGINT) AS en_hits,
       CASE WHEN len(list_filter(list_distinct(toks), x -> x IN ('the', 'a', 'of'))) > 0
            THEN 'en' ELSE 'und' END AS pred_lang
FROM d ORDER BY doc_id
"""

    o["txt_fingerprint"] = f"""
WITH d AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents)
SELECT doc_id,
       CAST(COALESCE(list_reduce(
         list_prepend(CAST(0 AS BIGINT), list_transform(toks, t -> CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % 1000003)),
         (acc, x) -> (acc * 31 + x) % 1000000007), 0) AS BIGINT) AS fp
FROM d ORDER BY doc_id
"""

    # join_scores: per-source sum of the per-doc integer-micro BM25 scores
    # of 'data' (the s0 CTE is the same scoring kernel every ft_ oracle
    # uses) + hit counts
    o["ft_join_scores"] = (
        _SQL_PREFIX + _term_ctes(["data"])
        + """
SELECT d.source,
       CAST(sum(s.s) AS BIGINT) AS score_total,
       count(*)::BIGINT AS n_from
FROM s0 s JOIN documents d USING (doc_id)
GROUP BY d.source ORDER BY d.source
"""
    )

    # ts-range facet: match set of 'merge' bucketed by epoch hour; warc_ts
    # was defined as epoch0 + (doc_id % 100000) minutes, so the bucket is
    # pure doc_id arithmetic on the oracle side (integer math both sides)
    o["ft_facet_ts_range"] = (
        _SQL_PREFIX
        + f""",
m AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'merge')
SELECT CAST(floor(({_TS_EPOCH0} + (doc_id % 100000) * 60) / 3600) AS BIGINT) AS hour_epoch,
       count(*)::BIGINT AS cnt
FROM m GROUP BY hour_epoch ORDER BY hour_epoch
"""
    )

    # decontam: 3-token shingles; DuckDB range(a,b) is stop-exclusive and
    # list slicing toks[i:i+2] is 1-based inclusive-both-ends == Spark's
    # sequence(1, n-2) + slice(toks, i, 3)
    o["txt_decontam"] = f"""
WITH d AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks) - 1),
                i -> array_to_string(toks[i:i+2], ' '))) AS shingle
  FROM d WHERE len(toks) >= 3
),
test_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 31 = 0),
hits AS (
  SELECT DISTINCT s.doc_id, s.shingle
  FROM sh s JOIN test_sh t USING (shingle)
  WHERE s.doc_id % 31 <> 0
)
SELECT doc_id, count(*)::BIGINT AS n_shared FROM hits GROUP BY doc_id ORDER BY doc_id
"""

    # PII scrub (r5): same injection + Java∩RE2 patterns; counts via
    # regexp_extract_all, global-flag replaces in the same order
    o["txt_pii_scrub"] = f"""
WITH p AS (SELECT doc_id, {_PII_TEXT_SQL} AS pii FROM documents),
s1 AS (SELECT doc_id, pii,
              regexp_replace(pii, '{_PII_EMAIL_RX}', '<EMAIL>', 'g') AS e
       FROM p),
s2 AS (SELECT doc_id, pii, e,
              regexp_replace(e, '{_PII_PHONE_RX}', '<PHONE>', 'g') AS ep
       FROM s1)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(regexp_extract_all(pii, '{_PII_EMAIL_RX}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(pii, '{_PII_PHONE_RX}')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(ep, '{_PII_IP_RX}')) AS BIGINT) AS n_ip,
       md5(regexp_replace(ep, '{_PII_IP_RX}', '<IP>', 'g')) AS scrubbed_md5
FROM s2 ORDER BY doc_id
"""

    # URL canonicalization dedup (r5): same messy-URL synthesis, same
    # componentwise parse-and-rebuild, hash groupBy on the canonical key
    o["web_url_canon"] = f"""
WITH u AS (SELECT doc_id, {_URL_MESSY_SQL} AS url FROM documents),
c AS (
  SELECT doc_id,
         'https://' || lower(regexp_extract(url, '^[A-Za-z]+://([^/:?#]+)', 1))
         || regexp_extract(url, '://[^/?#]+(/[^?#]*)', 1)
         || '?id=' || regexp_extract(url, '[?&]id=(\\d+)', 1) AS canonical
  FROM u
)
SELECT canonical, count(*)::BIGINT AS cnt, CAST(min(doc_id) AS BIGINT) AS keep_doc
FROM c GROUP BY canonical ORDER BY canonical
"""

    o["txt_repetition"] = f"""
WITH d AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
g AS (
  SELECT doc_id,
         list_transform(range(1, len(toks) - 1),
                        i -> array_to_string(toks[i:i+2], ' ')) AS tg
  FROM d WHERE len(toks) >= 3
)
SELECT doc_id,
       len(tg)::BIGINT AS n_3grams,
       len(list_distinct(tg))::BIGINT AS n_distinct,
       CAST(floor((len(tg) - len(list_distinct(tg)))::DOUBLE
            * 1000000.0 / len(tg)::DOUBLE + 0.5) AS BIGINT) AS dup_frac_x1m
FROM g ORDER BY doc_id
"""

    # sequence packing: one window cumsum over doc_id order reproduces the
    # engine's two-level distributed scan exactly (integer arithmetic)
    o["pipe_pack_offset"] = f"""
WITH t AS (
  SELECT doc_id, len({_TOKS_DUCK}) AS ntok FROM documents
),
so AS (
  SELECT doc_id, ntok,
         COALESCE(sum(ntok) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS so
  FROM t
)
SELECT doc_id,
       CAST(ntok AS BIGINT) AS n_tokens,
       CAST(floor(so / 2048) AS BIGINT) AS shard,
       CAST(so % 2048 AS BIGINT) AS shard_offset
FROM so ORDER BY doc_id
"""

    o["pipe_chunk_sliding"] = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents
),
t2 AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
c AS (
  SELECT doc_id,
         unnest(range(0, CAST(ceil(greatest(len(toks) - 64, 0) / 48.0)
                              AS BIGINT) + 1)) AS chunk_id,
         toks
  FROM t2
)
SELECT doc_id,
       chunk_id,
       CAST(len(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64]) AS BIGINT)
         AS n_tokens,
       md5(array_to_string(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' '))
         AS chunk_md5
FROM c
"""

    o["pipe_stratified_sample"] = """
SELECT doc_id, lang FROM documents
WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
      < CASE WHEN lang = 'en' THEN 50 WHEN lang IN ('de', 'fr') THEN 25 ELSE 10 END
ORDER BY doc_id
"""

    o["txt_langid_ngram"] = f"""
WITH d AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
h AS (
  SELECT doc_id,
    CAST(len(list_filter(toks, x -> x IN ('der','die','das','und'))) AS BIGINT) AS de_hits,
    CAST(len(list_filter(toks, x -> x IN ('the','of','with','this'))) AS BIGINT) AS en_hits,
    CAST(len(list_filter(toks, x -> x IN ('el','los','las','una'))) AS BIGINT) AS es_hits,
    CAST(len(list_filter(toks, x -> x IN ('le','la','les','des'))) AS BIGINT) AS fr_hits
  FROM d
)
SELECT doc_id, de_hits, en_hits, es_hits, fr_hits,
  CASE
    WHEN fr_hits > greatest(de_hits, en_hits, es_hits) THEN 'fr'
    WHEN es_hits > greatest(de_hits, en_hits) THEN 'es'
    WHEN en_hits > de_hits THEN 'en'
    WHEN de_hits > 0 THEN 'de'
    ELSE 'und' END AS pred_lang
FROM h ORDER BY doc_id
"""

    o["txt_token_bpe"] = (
        "SELECT doc_id, "
        "CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_ws, "
        r"CAST(len(regexp_extract_all(text, '''(s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+')) AS BIGINT) AS n_bpe "
        "FROM documents ORDER BY doc_id"
    )

    o["txt_quality_ratios"] = f"""
WITH d AS (SELECT doc_id, text, {_TOKS_DUCK} AS toks FROM documents)
SELECT doc_id,
  CAST(floor(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it')))::DOUBLE
       * 1000000.0 / len(toks)::DOUBLE + 0.5) AS BIGINT) AS stop_ratio_x1m,
  CAST(floor(length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE
       * 1000000.0 / length(text)::DOUBLE + 0.5) AS BIGINT) AS alpha_ratio_x1m,
  CAST(floor(length(regexp_replace(text, '[^ ]', '', 'g'))::DOUBLE
       * 1000000.0 / length(text)::DOUBLE + 0.5) AS BIGINT) AS space_ratio_x1m
FROM d WHERE len(toks) > 0 ORDER BY doc_id
"""

    # The Spark side REALLY runs wrap -> extract and counts byte-identical
    # round-trips; the oracle states the invariant the input_hint promises
    # (every row's extracted text is byte-identical): n_exact == n_docs.
    # Any extraction bug -> Spark n_exact < n_docs -> value-hash mismatch.
    o["web_extract_text"] = (
        "SELECT count(*)::BIGINT AS n_docs, count(*)::BIGINT AS n_exact, "
        "CAST(sum(strlen(text)) AS BIGINT) AS text_bytes FROM documents"
    )

    # warc_ts was defined as epoch0 + (doc_id % 100000) minutes, so the
    # recency weight is pure doc_id arithmetic on the oracle side
    o["ft_boosting"] = (
        _SQL_PREFIX + _term_ctes(["data"])
        + ", ctx AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'table'), "
        "scored AS (SELECT s0.doc_id, CAST(CASE WHEN s0.doc_id IN "
        "(SELECT doc_id FROM ctx) THEN floor(s0.s * 0.5) ELSE s0.s END AS BIGINT) "
        "AS score FROM s0) "
        + _TOPK_TAIL.format(k=10)
    )

    o["ft_drilldown"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS_DUCK}) AS term FROM documents
),
m AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'merge'),
sel AS (SELECT d.doc_id, d.source FROM documents d JOIN m USING (doc_id) WHERE d.lang = 'en')
SELECT source, count(*)::BIGINT AS cnt FROM sel GROUP BY source ORDER BY source
"""

    o["ft_recency_boost"] = (
        _SQL_PREFIX + _term_ctes(["data"])
        + ", scored AS (SELECT s0.doc_id, CAST(s0.s * (CASE WHEN "
        "(s0.doc_id % 100000) >= 65000 THEN 3 ELSE 1 END) AS BIGINT) AS score "
        "FROM s0) "
        + _TOPK_TAIL.format(k=10)
    )

    # r5: the float32 Lucene scoring battery finally gets a REAL SQL
    # oracle — DuckDB REAL arithmetic measured bit-identical to numpy
    # float32 (see _lucene32_sql docstring), so the seven-shape rank table
    # is now triple-checked: engine (float32 kernels) vs in-entry numpy
    # golden vs this independent DuckDB REAL pipeline.
    o["ft_lucene_rank"] = _lucene32_sql()

    return o
