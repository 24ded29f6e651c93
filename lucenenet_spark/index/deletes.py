"""Document deletes — the liveDocs / tombstone layer.

Re-expression of the reference's delete path (Lucene40LiveDocsFormat.cs:64
bitset sidecar + BufferedUpdates.cs buffered delete terms/queries) in table
form, matching how modern lakehouse formats do it (Iceberg/Delta delete
files):

- a delete operation appends ONE self-contained parquet directory under
  ``<index>/tombstones/op-<n>/`` (written to a tmp name, then published by
  a single ``os.rename`` — the same atomic-visibility protocol as the
  stage commits). Each op dir holds the deleted docids.
- the ``Searcher`` reads the union of all op dirs and anti-joins it against
  every match set (and the docmap), so deleted docs disappear from queries
  immediately — IndexReader.liveDocs applied at scorer level.
- collection statistics (maxdoc, avgdl, df) intentionally KEEP counting
  deleted docs until a compaction runs — exactly the reference's behavior
  (deleted docs affect docFreq until merged away).
- ``compact_index`` applies tombstones physically: doc rows are anti-joined
  out and posting entries dropped inside the merge input (vectorized Arrow
  kernel), then stats/termstats rebuild — the "merged away" step.

Scale note: query-time filtering is a broadcast-sized anti-join per query
(tombstones between compactions are small relative to the corpus — the same
assumption Iceberg makes for merge-on-read delete files); compaction resets
it to zero.
"""

from __future__ import annotations

import os
import re

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .storage import IndexStorage

TOMBSTONES_DIR = "tombstones"
TOMB_SCHEMA = "docid long"

# Published ops only — a crash between write and rename leaves an
# "op-NNNNNN.__tmp__" dir, which must stay invisible to readers (the
# atomic-publish contract) and to the op-numbering counter.
_OP_RE = re.compile(r"op-\d{6}")


def tombstone_dir(index_dir: str) -> str:
    return os.path.join(index_dir, TOMBSTONES_DIR)


def _published_ops(index_dir: str) -> list[str]:
    base = tombstone_dir(index_dir)
    if not os.path.isdir(base):
        return []
    return sorted(n for n in os.listdir(base) if _OP_RE.fullmatch(n))


def has_tombstones(index_dir: str) -> bool:
    return bool(_published_ops(index_dir))


def tombstone_ops(index_dir: str) -> list[str]:
    """The directories of all published delete ops, in op order."""
    return [os.path.join(tombstone_dir(index_dir), n) for n in _published_ops(index_dir)]


def read_tombstones(
    spark: SparkSession, index_dir: str, ops: list[str] | None = None
) -> DataFrame | None:
    """Distinct deleted docids across all published delete ops (or the
    given op dirs), or None."""
    ops = tombstone_ops(index_dir) if ops is None else ops
    if not ops:
        return None
    return spark.read.schema(TOMB_SCHEMA).parquet(*ops).select("docid").distinct()


def tombstone_docids(ops: list[str]) -> np.ndarray:
    """The deleted docids of the given op dirs as one sorted, distinct
    int64 array, read on the driver (no Spark job)."""
    cols = [
        IndexStorage(os.path.dirname(op)).read_local(os.path.basename(op), TOMB_SCHEMA)
        .column("docid").to_numpy()
        for op in ops
    ]
    return np.unique(np.concatenate(cols)) if cols else np.array([], dtype=np.int64)


def delete_docs(spark: SparkSession, index_dir: str, docids) -> dict:
    """Tombstone the given docids (list[int] or a DataFrame with a ``docid``
    column). Idempotent: re-deleting an already-deleted doc is a no-op at
    read time (the union is distinct). Returns {"op_dir", "n"}."""
    if isinstance(docids, DataFrame):
        df = docids.select(F.col("docid").cast("long"))
    else:
        df = spark.createDataFrame([(int(d),) for d in docids], TOMB_SCHEMA)
    # a pending compaction publish drops tombstones/ when it rolls forward;
    # finish it first, or this op would be dropped with the applied ones
    IndexStorage(index_dir).recover_pending_compaction()
    base = tombstone_dir(index_dir)
    os.makedirs(base, exist_ok=True)
    n = int(df.count())
    # Garbage-collect tmp dirs from crashed earlier attempts; next op number
    # comes from the max published op, so a stale tmp can't shadow it.
    import shutil

    for stale in os.listdir(base):
        if stale.endswith(".__tmp__"):
            shutil.rmtree(os.path.join(base, stale), ignore_errors=True)
    ops = _published_ops(index_dir)
    next_n = (max(int(x[3:]) for x in ops) + 1) if ops else 0
    op = os.path.join(base, f"op-{next_n:06d}")
    tmp = op + ".__tmp__"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    os.rename(tmp, op)  # atomic publish
    return {"op_dir": op, "n": n}


def delete_by_urls(spark: SparkSession, index_dir: str, urls: list[str]) -> dict:
    """DeleteDocuments(Term) on the identity field (IndexWriter.cs
    DeleteDocuments(Term): the re-crawl/update path — tombstone every doc
    whose url matches, across base and delta generations)."""
    from .builder import DOCMAP_SCHEMA

    dirs = [index_dir, *IndexStorage(index_dir).delta_dirs()]
    dms = [IndexStorage(d).read_stage(spark, "docmap", DOCMAP_SCHEMA) for d in dirs]
    from functools import reduce

    dm = reduce(lambda a, b: a.unionAll(b), dms)
    hit = dm.filter(F.col("url").isin(list(urls))).select("docid")
    return delete_docs(spark, index_dir, hit)


def delete_by_query(spark: SparkSession, index_dir: str, query) -> dict:
    """DeleteDocuments(Query) (BufferedUpdates.cs queries): tombstone every
    current match of ``query``."""
    from ..query.engine import Searcher

    s = Searcher(spark, index_dir)
    return delete_docs(spark, index_dir, s.score_df(query).select("docid"))
