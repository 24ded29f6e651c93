"""Round-3 robustness fixes (ADVICE.md items):

- the BPE pre-tokenizer regex reaches Spark verbatim (an F.expr string
  literal silently swallowed the \\s escape, diverging from the oracle on
  consecutive/leading whitespace)
- append_index docid base falls back to cumulative-sum semantics for
  pre-format-3 delta metas (maxdoc of a DELTA is its own doc count, not an
  absolute docid bound)
- a scored MTQ rewrite on a keyword field scores matches as boost*idf
  (norms omitted, tf=1) — the StringField contract — not with text-field
  length norms

The crashed-delete-op test of this round lives in test_storage.py.
"""

import json
import math
import os

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from lucenenet_spark.data.pages import pages_spark_df
from lucenenet_spark.index import (
    IndexConfig,
    IndexStorage,
    append_index,
    build_index,
)
from lucenenet_spark.index.builder import next_docid_base
from lucenenet_spark.index.storage import COMMIT_MARKER
from lucenenet_spark.query.ast import PrefixQuery
from lucenenet_spark.query.engine import Searcher

CFG = IndexConfig(num_partitions=4, bucket_width=2, flush_docs=64)


def test_bpe_regex_reaches_spark_verbatim(spark, tmp_path):
    """'a  b' has a double space: the intended GPT2-ish regex yields 2
    tokens; the broken literal (\\s dropped -> matches literal 's') gave 3.
    Full oracle cross-check on whitespace-heavy rows."""
    rows = [
        (0, "a  b"),
        (1, "  leading and   trailing  "),
        (2, "tab\tsep\nnewline"),
        (3, "it's the 1990s don't stop"),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(i, t, "en", "src") for i, t in rows],
        "doc_id long, text string, lang string, source string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "documents.parquet")
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'"
    )
    sdf = entrymod.q_txt_token_bpe(spark, sf_dir).toPandas()
    odf = con.execute(entrymod.oracle_sql()["txt_token_bpe"]).df()
    pd.testing.assert_frame_equal(
        sdf.reset_index(drop=True), odf.reset_index(drop=True), check_dtype=False
    )
    assert int(sdf.loc[sdf["doc_id"] == 0, "n_bpe"].iloc[0]) == 2


def test_append_docid_base_pre_format3_fallback(spark, tmp_path):
    """Strip next_docid from a delta's stats meta (pre-format-3 shape) and
    check the next append still allocates a non-colliding docid base via the
    cumulative-sum fallback."""
    out = str(tmp_path / "idx")
    pages = pages_spark_df(spark, 80, seed=1)
    build_index(spark, pages, out, CFG, overwrite=True)
    more = pages_spark_df(spark, 50, seed=2).withColumn(
        "url", F.concat(F.lit("gen1-"), F.col("url"))
    )
    append_index(spark, more, out, CFG)

    # rewrite BOTH stats metas to the old format (no next_docid)
    maxdocs = []
    for d in [out, *IndexStorage(out).delta_dirs()]:
        marker = os.path.join(d, "stats", COMMIT_MARKER)
        with open(marker) as f:
            m = json.load(f)
        m.pop("next_docid", None)
        maxdocs.append(int(m["maxdoc"]))
        with open(marker, "w") as f:
            json.dump(m, f)

    # old-format fallback: SUM of maxdocs, NOT max (the delta's maxdoc is
    # its own doc count — max() would collide with the base's docid range)
    total = sum(maxdocs)
    assert max(maxdocs) < total  # the scenario is actually discriminating
    assert next_docid_base(out) == total

    third = pages_spark_df(spark, 20, seed=3).withColumn(
        "url", F.concat(F.lit("gen2-"), F.col("url"))
    )
    n_third = third.count()
    summary = append_index(spark, third, out, CFG)
    assert summary["docid_base"] == total

    # no docid collisions across the composite index
    s = Searcher(spark, out)
    docids = [r.docid for r in s.docmap.select("docid").collect()]
    assert len(docids) == len(set(docids)) == total + n_third


def test_scored_rewrite_keyword_field_norms_omitted(spark, tmp_path):
    """PrefixQuery(field='lang', rewrite_method='scoring_boolean') must score
    every match boost*idf — the same norms-omitted score a keyword-field
    TermQuery gets — regardless of the doc's text length."""
    out = str(tmp_path / "idx")
    # texts of wildly different lengths so a norms leak would separate scores
    rows = []
    for i in range(40):
        lang = "en" if i % 2 == 0 else "eo"  # both match prefix 'e'
        text = "word " * (1 + (i * 7) % 29)
        rows.append((f"http://x/{i}", text.strip(), lang))
    pages = spark.createDataFrame(rows, "url string, text string, lang string")
    cfg = IndexConfig(
        num_partitions=4, bucket_width=2, flush_docs=16, keyword_fields=["lang"]
    )
    build_index(spark, pages, out, cfg, overwrite=True)
    maxdoc = 40
    idf = math.log(1.0 + (maxdoc - 20 + 0.5) / (20 + 0.5))  # df=20 for en AND eo
    q = PrefixQuery("e", field="lang", rewrite_method="scoring_boolean", boost=2.0)

    # float32 path: every match scores float32(idf)*float32(boost); any
    # doclen-norm leak would fan the scores out across the 29 text lengths
    hits32 = Searcher(spark, out, scoring="lucene").score_df(q).toPandas()
    assert len(hits32) == 40
    exp32 = float(np.float32(idf) * np.float32(2.0))
    assert np.allclose(hits32["score"], exp32, rtol=0, atol=1e-7)

    # exact_int path: floor(idf*boost*1e6 + 0.5), same constant for all
    hits_e = Searcher(spark, out, scoring="exact_int").score_df(q).toPandas()
    assert len(hits_e) == 40
    assert set(hits_e["score"]) == {float(math.floor(idf * 2.0 * 1e6 + 0.5))}
