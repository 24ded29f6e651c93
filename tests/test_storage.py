"""Index storage commit protocol (index/storage.py): per-stage
``_COMMIT.json`` markers, lineage-keyed delta visibility and the
write-ahead compaction manifest, exercised by crash injection.

Crash windows:
- compaction crash AFTER the manifest rename: the next reader rolls the
  publish forward, absorbed generations never double-count
- append crash BEFORE the final (lineage) stage: the generation is
  invisible and the SAME batch resumes it; a DIFFERENT batch never reuses
  its stages
- delete crash between write and rename: the tmp op dir stays invisible
- post-compaction appends and deletes survive the next reader's
  roll-forward, also a delete issued while a crashed publish is pending
"""

import os

import pytest
from pyspark.sql import functions as F

from lucenenet_spark.data.pages import pages_spark_df
from lucenenet_spark.index import (
    IndexConfig,
    IndexStorage,
    append_index,
    build_index,
    compact_index,
    delete_docs,
)
from lucenenet_spark.index.builder import IndexBuilder
from lucenenet_spark.index.deletes import has_tombstones, read_tombstones, tombstone_dir
from lucenenet_spark.index.storage import COMMIT_MARKER, COMPACT_MANIFEST
from lucenenet_spark.query.ast import MatchAllDocsQuery, TermQuery
from lucenenet_spark.query.engine import Searcher

CFG = IndexConfig(num_partitions=4, bucket_width=2, flush_docs=64)


def _build(spark, tmp_path, n=100, seed=9):
    out = str(tmp_path / "idx")
    pages = pages_spark_df(spark, n, seed=seed)
    build_index(spark, pages, out, CFG)
    return out, pages


@pytest.fixture()
def base_with_delta(spark, tmp_path):
    out = str(tmp_path / "idx")
    build_index(spark, pages_spark_df(spark, 120, seed=11), out, CFG, overwrite=True)
    delta = pages_spark_df(spark, 50, seed=22, include_blake=False).withColumn(
        "url", F.concat(F.lit("g1-"), F.col("url"))
    )
    append_index(spark, delta, out, CFG)
    return out


def test_compaction_crash_after_manifest_rolls_forward(spark, base_with_delta, monkeypatch):
    out = base_with_delta
    before = Searcher(spark, out)
    maxdoc_before = before.maxdoc
    hits_before = [
        (r["docid"], r["score"]) for r in before.search(TermQuery("data"), 10).collect()
    ]
    # simulate a crash immediately after the manifest rename: the publish's
    # roll-forward step becomes a no-op inside compact_index only
    real = IndexStorage.recover_pending_compaction
    state = {"armed": False}

    def fake(self):
        if state["armed"]:
            return False  # "crash": manifest written, no swaps executed
        return real(self)

    monkeypatch.setattr(IndexStorage, "recover_pending_compaction", fake)
    st = IndexStorage(out)
    # compact: delta_dirs() at entry must still see the deltas (not armed yet)
    state["armed"] = False
    import lucenenet_spark.index.builder as b

    orig_begin = IndexStorage.begin_compaction_publish

    def begin_and_arm(self, *a, **k):
        r = orig_begin(self, *a, **k)
        state["armed"] = True  # everything after the manifest write "crashes"
        return r

    monkeypatch.setattr(IndexStorage, "begin_compaction_publish", begin_and_arm)
    compact_index(spark, out, CFG)
    # crash state: manifest exists, old stages + deltas still on disk
    assert os.path.exists(os.path.join(out, "_COMPACT_MANIFEST.json"))
    assert os.path.isdir(os.path.join(out, "deltas"))
    # next reader rolls the publish forward before listing deltas
    state["armed"] = False
    after = Searcher(spark, out)
    assert not os.path.exists(os.path.join(out, "_COMPACT_MANIFEST.json"))
    assert not after.is_composite          # deltas merged + dropped
    assert after.maxdoc == maxdoc_before   # no double counting
    hits_after = [
        (r["docid"], r["score"]) for r in after.search(TermQuery("data"), 10).collect()
    ]
    assert hits_after == hits_before
    # recovery is idempotent
    assert IndexStorage(out).recover_pending_compaction() is False


def test_delta_invisible_until_final_stage_committed(spark, base_with_delta):
    out = base_with_delta
    st = IndexStorage(out)
    [delta] = st.delta_dirs()
    full = Searcher(spark, out)
    # simulate a crash between postings and lineage commits: postings marker
    # exists but the generation must NOT be visible
    marker = os.path.join(delta, "lineage", COMMIT_MARKER)
    os.remove(marker)
    assert st.delta_dirs() == []
    partial = Searcher(spark, out)
    assert not partial.is_composite
    assert partial.maxdoc < full.maxdoc


def test_append_resume_with_different_batch_rebuilds(spark, tmp_path):
    out = str(tmp_path / "idx")
    build_index(spark, pages_spark_df(spark, 100, seed=1), out, CFG, overwrite=True)
    batch_a = spark.createDataFrame(
        [("a://1", "zzzuniquea data engine"), ("a://2", "zzzuniquea merge")],
        "url string, text string",
    )
    append_index(spark, batch_a, out, CFG)
    # simulate the crash: generation 0 lost its final commits (uncommitted)
    [delta] = IndexStorage(out).delta_dirs()
    os.remove(os.path.join(delta, "lineage", COMMIT_MARKER))
    os.remove(os.path.join(delta, "termstats", COMMIT_MARKER))
    # a DIFFERENT batch must not resume batch A's committed stages
    batch_b = spark.createDataFrame(
        [("b://1", "zzzuniqueb data engine"), ("b://2", "zzzuniqueb merge")],
        "url string, text string",
    )
    append_index(spark, batch_b, out, CFG)
    s = Searcher(spark, out)
    assert s.count(TermQuery("zzzuniqueb")) == 2
    assert s.count(TermQuery("zzzuniquea")) == 0  # batch A gone, not mixed in


def test_append_crash_before_lineage_invisible_then_resumes(spark, tmp_path):
    out, _ = _build(spark, tmp_path)
    base_count = Searcher(spark, out).docmap.count()
    extra = pages_spark_df(spark, 30, seed=11).withColumn(
        "url", F.concat(F.lit("h-"), F.col("url"))
    )

    orig = IndexBuilder._stage_lineage
    IndexBuilder._stage_lineage = lambda self: (_ for _ in ()).throw(
        RuntimeError("injected crash before final stage")
    )
    try:
        with pytest.raises(RuntimeError, match="injected"):
            append_index(spark, extra, out, CFG, batch_id="b1")
    finally:
        IndexBuilder._stage_lineage = orig

    # crashed generation: invisible to readers
    assert IndexStorage(out).delta_dirs() == []
    assert Searcher(spark, out).docmap.count() == base_count

    # SAME batch resumes: earlier stages skip, generation completes
    summary = append_index(spark, extra, out, CFG, batch_id="b1")
    assert summary["stages"]["partials"] == {"skipped": True}
    assert len(IndexStorage(out).delta_dirs()) == 1
    assert Searcher(spark, out).docmap.count() == base_count + extra.count()


def test_append_crashed_generation_not_reused_for_different_batch(spark, tmp_path):
    out, _ = _build(spark, tmp_path)
    a = pages_spark_df(spark, 30, seed=12).withColumn(
        "url", F.concat(F.lit("a-"), F.col("url"))
    )
    b = pages_spark_df(spark, 30, seed=13).withColumn(
        "url", F.concat(F.lit("b-"), F.col("url"))
    )
    orig = IndexBuilder._stage_lineage
    IndexBuilder._stage_lineage = lambda self: (_ for _ in ()).throw(
        RuntimeError("injected")
    )
    try:
        with pytest.raises(RuntimeError):
            append_index(spark, a, out, CFG, batch_id="batch-a")
    finally:
        IndexBuilder._stage_lineage = orig

    # different batch in the same generation slot: stages REBUILD (the
    # crashed batch's fingerprint never matches), contents are batch b's
    summary = append_index(spark, b, out, CFG, batch_id="batch-b")
    assert summary["stages"]["partials"] != {"skipped": True}
    s = Searcher(spark, out)
    urls = {r.url for r in s.docmap.select("url").collect()}
    assert any(u.startswith("b-") for u in urls)
    assert not any(u.startswith("a-") for u in urls)


def test_append_and_delete_after_compaction_survive_gc(spark, tmp_path):
    """The compaction publish drops the absorbed ``deltas/`` and the applied
    ``tombstones/``. Once the publish completes, a post-compaction append
    or delete that recreates the same relative paths (generation numbering
    restarts) must survive the next reader's roll-forward."""
    out, pages = _build(spark, tmp_path, n=120)
    extra1 = pages_spark_df(spark, 40, seed=21, include_blake=False)
    append_index(spark, extra1, out, CFG)
    delete_docs(spark, out, [0])
    compact_index(spark, out, CFG)
    # publish completed -> no pending manifest left for a reader to replay
    assert not os.path.exists(os.path.join(out, COMPACT_MANIFEST))

    n_compacted = Searcher(spark, out).count(MatchAllDocsQuery())

    # post-compaction delta generation + tombstone op recreate the same
    # relative paths the compaction dropped
    extra2 = pages_spark_df(spark, 30, seed=22, include_blake=False)
    append_index(spark, extra2, out, CFG)
    delete_docs(spark, out, [1])
    # a reader's roll-forward must NOT destroy them
    s = Searcher(spark, out)
    assert len(IndexStorage(out).delta_dirs()) == 1
    assert os.path.isdir(os.path.join(out, "tombstones"))
    assert s.tombstones is not None and s.tombstones.count() == 1
    # appended docs searchable, new tombstone honored
    assert s.count(MatchAllDocsQuery()) == n_compacted + 30 - 1


def test_crashed_delete_op_tmp_dir_invisible(spark, tmp_path):
    out = str(tmp_path / "idx")
    pages = pages_spark_df(spark, 60, seed=7)
    build_index(spark, pages, out, CFG, overwrite=True)

    # simulate a delete_docs crash between write and rename: a partial
    # parquet dir under the tmp name
    base = tombstone_dir(out)
    os.makedirs(base, exist_ok=True)
    crashed = os.path.join(base, "op-000000.__tmp__")
    os.makedirs(crashed)
    with open(os.path.join(crashed, "part-00000.parquet"), "w") as f:
        f.write("NOT PARQUET")  # partial write

    assert not has_tombstones(out)
    assert read_tombstones(spark, out) is None
    # a Searcher over the index must not try to read the partial op
    s = Searcher(spark, out)
    assert s.search(TermQuery("the"), k=5) is not None

    # the next real delete publishes as op-000000 (tmp GC'd, no shadowing)
    r = delete_docs(spark, out, [0, 1])
    assert os.path.basename(r["op_dir"]) == "op-000000"
    assert not os.path.exists(crashed)
    assert has_tombstones(out)
    got = {x.docid for x in read_tombstones(spark, out).collect()}
    assert got == {0, 1}
    # numbering continues from the max published op
    r2 = delete_docs(spark, out, [2])
    assert os.path.basename(r2["op_dir"]) == "op-000001"


def test_delete_after_crashed_compaction_publish_survives(spark, base_with_delta, monkeypatch):
    """A compaction that crashed after its manifest rename leaves a publish
    that drops ``tombstones/`` when rolled forward. A delete issued before
    any reader rolled it forward must survive that roll-forward."""
    out = base_with_delta
    real = IndexStorage.recover_pending_compaction
    orig_begin = IndexStorage.begin_compaction_publish
    state = {"armed": False}

    def fake(self):
        return False if state["armed"] else real(self)

    def begin_and_arm(self, *a, **k):
        orig_begin(self, *a, **k)
        state["armed"] = True

    monkeypatch.setattr(IndexStorage, "recover_pending_compaction", fake)
    monkeypatch.setattr(IndexStorage, "begin_compaction_publish", begin_and_arm)
    compact_index(spark, out, CFG)
    monkeypatch.setattr(IndexStorage, "recover_pending_compaction", real)
    assert os.path.exists(os.path.join(out, COMPACT_MANIFEST))

    delete_docs(spark, out, [3])
    s = Searcher(spark, out)
    assert not s.is_composite
    assert s.tombstones is not None
    assert {r.docid for r in s.tombstones.collect()} == {3}
