"""Index build tests: deterministic docids, resume, invariants, byte-identity."""

import hashlib
import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucenenet_spark.data.pages import pages_spark_df
from lucenenet_spark.index import IndexBuilder, IndexConfig, IndexStorage, build_index
from lucenenet_spark.index.builder import BLOCK_SIZE, partition_id_expr
from lucenenet_spark.index.checkindex import verify

CFG = IndexConfig(num_partitions=8, bucket_width=2, flush_docs=64)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx"))
    pages = pages_spark_df(spark, 300, seed=42)
    summary = build_index(spark, pages, out, CFG, overwrite=True)
    return spark, pages, out, summary


def test_partition_id_expr_matches_repartition(spark):
    pages = pages_spark_df(spark, 200, seed=1)
    for P in (4, 8, 32):
        mism = (
            pages.select("url", partition_id_expr(P).alias("e"))
            .repartition(P, "url")
            .withColumn("r", F.spark_partition_id())
            .filter(F.col("e") != F.col("r"))
            .count()
        )
        assert mism == 0, f"hash-partition expr diverged at P={P}"


def test_checkindex_invariants(built):
    spark, _, out, _ = built
    results = verify(spark, out)
    assert results["ok"], results


def test_docids_deterministic_across_rebuilds(built, tmp_path_factory):
    spark, pages, out, _ = built
    out2 = str(tmp_path_factory.mktemp("idx2"))
    build_index(spark, pages, out2, CFG, overwrite=True)
    a = IndexStorage(out).read_stage(spark, "docmap").select("docid", "url").toPandas()
    b = IndexStorage(out2).read_stage(spark, "docmap").select("docid", "url").toPandas()
    a = a.sort_values("docid").reset_index(drop=True)
    b = b.sort_values("docid").reset_index(drop=True)
    assert (a["url"] == b["url"]).all()


def test_contiguous_docid_range_per_partition(built):
    spark, _, out, _ = built
    dm = IndexStorage(out).read_stage(spark, "docmap").toPandas()
    for pid, grp in dm.groupby("pid"):
        ids = np.sort(grp["docid"].values)
        assert (np.diff(ids) == 1).all(), f"pid {pid} docids not contiguous"


def test_resume_skips_committed_stages(built):
    spark, pages, out, _ = built
    summary2 = build_index(spark, pages, out, CFG, overwrite=False)
    assert all(s.get("skipped") for s in summary2["stages"].values()), summary2


def test_resume_reruns_uncommitted_stage(built):
    spark, pages, out, _ = built
    # simulate a crash mid-merge: remove the postings commit marker
    marker = os.path.join(out, "postings", "_COMMIT.json")
    os.remove(marker)
    summary = build_index(spark, pages, out, CFG, overwrite=False)
    assert summary["stages"]["partials"].get("skipped")
    assert not summary["stages"]["postings"].get("skipped")
    assert os.path.exists(marker)
    assert verify(spark, out)["ok"]


def test_config_change_invalidates_resume(built):
    spark, pages, out, _ = built
    other = IndexConfig(num_partitions=8, bucket_width=2, flush_docs=64, k1=2.0)
    st = IndexStorage(out)
    assert not st.is_committed("postings", other.fingerprint())
    assert st.is_committed("postings", CFG.fingerprint())


def test_config_fingerprint_is_pinned():
    """Index identity survives moving the block size and merge batch from
    IndexConfig to builder constants: existing indexes keep resuming."""
    assert IndexConfig().fingerprint() == "d543ce08e2b2c520"
    assert (
        IndexConfig(analyzer="french", text_fields=("title",)).fingerprint()
        == "b2f965cd8543590d"
    )


def test_byte_identical_text_invariant(built):
    """The per-url byte-identity invariant (BASELINE.json input_hint): text
    flows through the pipeline unmodified — sha256 of the input text matches
    a checksum recomputed from the source joined via docmap urls."""
    spark, pages, out, _ = built
    src = pages.select("url", F.sha2("text", 256).alias("sha_src"))
    dm = IndexStorage(out).read_stage(spark, "docmap").select("docid", "url", "text_bytes")
    joined = dm.join(src, "url", "inner")
    assert joined.count() == dm.count()
    # text_bytes counter recorded at build equals source byte length
    src_len = pages.select("url", F.octet_length("text").alias("blen"))
    mism = (
        dm.join(src_len, "url")
        .filter(F.col("text_bytes") != F.col("blen"))
        .count()
    )
    assert mism == 0


def test_lineage_counters(built):
    spark, pages, out, _ = built
    lin = IndexStorage(out).read_stage(spark, "lineage").toPandas()
    assert int(lin["doc_count"].sum()) == pages.count()
    assert (lin["seg_count"].dropna() >= 1).all()


def test_block_size_respected(built):
    spark, _, out, _ = built
    post = IndexStorage(out).read_stage(spark, "postings")
    assert post.filter(F.col("entry_count") > BLOCK_SIZE).count() == 0
    assert post.filter(F.col("entry_count") <= 0).count() == 0


def test_hot_term_spreads_across_buckets(spark, tmp_path):
    """Stopword-skew contract: a term present in EVERY doc must have its
    postings split across multiple (term, bucket) merge groups, so no single
    merge task ever owns a full hot posting list (TieredMergePolicy salting
    analogue, SURVEY.md §2.2)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from lucenenet_spark.index import IndexConfig, build_index
    from lucenenet_spark.index.storage import IndexStorage

    n = 400
    pdf = pd.DataFrame(
        {
            "url": [f"u{i:05d}" for i in range(n)],
            "text": ["hotword filler%d" % (i % 7) for i in range(n)],
        }
    )
    pages = spark.createDataFrame(pdf)
    out = str(tmp_path / "skewidx")
    cfg = IndexConfig(num_partitions=8, bucket_width=2, flush_docs=1000)
    build_index(spark, pages, out, cfg, overwrite=True)
    post = IndexStorage(out).read_stage(spark, "postings")
    hot = post.filter(F.col("term") == "hotword")
    n_buckets = hot.select("bucket").distinct().count()
    assert n_buckets == 4  # 8 partitions / bucket_width 2
    # and the union of bucket-ordered blocks is still the sorted full list
    rows = hot.orderBy("bucket", "block_id").select("first_docid", "last_docid").collect()
    bounds = [(r["first_docid"], r["last_docid"]) for r in rows]
    for (a, b), (c, d) in zip(bounds, bounds[1:]):
        assert b < c


def test_positions_off_index(spark, tmp_path):
    """index_positions=False: smaller index, term/boolean queries work,
    phrase queries fail with a clear error."""
    import pytest as _pytest

    from lucenenet_spark.data.pages import pages_spark_df
    from lucenenet_spark.index import IndexConfig, build_index
    from lucenenet_spark.query.ast import PhraseQuery, TermQuery
    from lucenenet_spark.query.engine import Searcher

    out = str(tmp_path / "noposidx")
    cfg = IndexConfig(num_partitions=4, index_positions=False)
    build_index(spark, pages_spark_df(spark, 100, seed=42), out, cfg, overwrite=True)
    s = Searcher(spark, out)
    assert not s.has_positions
    assert s.search(TermQuery("tiger"), 5).count() > 0
    with _pytest.raises(ValueError, match="index_positions"):
        s.search(PhraseQuery(("tiger", "burning")), 5).count()


def test_empty_corpus_build_and_search(spark, tmp_path):
    """A zero-doc corpus must build a valid (empty) index and answer
    queries with zero hits rather than erroring."""
    from lucenenet_spark.data.pages import pages_spark_df
    from lucenenet_spark.index import IndexConfig, build_index
    from lucenenet_spark.query.ast import MatchAllDocsQuery, TermQuery
    from lucenenet_spark.query.engine import Searcher

    out = str(tmp_path / "emptyidx")
    empty = pages_spark_df(spark, 1, seed=1, include_blake=False).filter("1=0")
    cfg = IndexConfig(num_partitions=2)
    build_index(spark, empty, out, cfg, overwrite=True)
    s = Searcher(spark, out)
    assert s.maxdoc == 0
    assert s.search(TermQuery("anything"), 5).count() == 0
    assert s.search(MatchAllDocsQuery(), 5).count() == 0


@pytest.mark.parametrize(
    "docids, ddl, message",
    [
        ([1.5, 1.0, 2.0], "docid double", "integer docid column, got double"),
        (["7", "x9", "8"], "docid string", "integer docid column, got string"),
        ([3, None, 5], "docid long", "null docid"),
        ([2, 4, 4, 6], "docid long", "docid 4 is not greater"),
    ],
    ids=["float", "string", "null", "duplicate"],
)
def test_external_docids_reject_dirty_ids(spark, tmp_path, docids, ddl, message):
    """Caller-assigned docids must be integral, non-null and unique: each
    dirty column fails the build with an error naming the fault, instead
    of truncating, defaulting or merging documents."""
    rows = [(d, f"u://{i}", "data table") for i, d in enumerate(docids)]
    pages = spark.createDataFrame(rows, f"{ddl}, url string, text string")
    cfg = IndexConfig(num_partitions=2, external_docids=True)
    with pytest.raises(Exception, match=message):
        build_index(spark, pages, str(tmp_path / "idx"), cfg, overwrite=True)
