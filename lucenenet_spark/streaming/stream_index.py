"""Structured-Streaming index maintenance.

The reference has NO event-time streaming — its nearest concept is
near-real-time refresh (DirectoryReader.Open(writer), DirectoryReader.cs:111;
ControlledRealTimeReopenThread.cs), i.e. micro-batched visibility of newly
added documents. The Spark-native re-expression (SURVEY.md §2.8) is exactly
that: ``readStream -> foreachBatch(append_index)`` turns every micro-batch
into one delta generation (a searchable mini-index), and a periodic
``compact_index`` plays the ConcurrentMergeScheduler role.

Exactly-once across restarts comes from TWO layers:
- the streaming checkpoint (Spark replays at-least-once per batch id), and
- idempotent generations: a batch's delta directory is named by its batch id,
  so a replayed batch resumes/no-ops instead of double-indexing (the same
  fingerprint-marker protocol as the batch build).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..index.builder import IndexBuilder, compact_index, next_docid_base
from ..index.config import IndexConfig
from ..index.storage import IndexStorage


def _append_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    index_dir: str,
    config: IndexConfig,
    batch_id: int,
) -> dict | None:
    delta_dir = os.path.join(index_dir, "deltas", f"b{batch_id:012d}")
    st = IndexStorage(delta_dir)
    # replay short-circuits on the FINAL stage's marker (lineage — the last
    # stage _finish commits): a generation whose earlier stages committed but
    # whose build crashed before lineage is invisible to the Searcher AND
    # gets repaired here instead of being skipped forever
    if st.is_committed("lineage", config.fingerprint()):
        return None  # replayed batch — already fully committed
    # next free docid (stats next_docid with pre-format-3 cumulative-sum
    # fallback — see next_docid_base), collision-free even after a
    # delete-applying compaction leaves docid gaps
    builder = IndexBuilder(spark, st, config, docid_base=next_docid_base(index_dir))
    return builder.build(batch_df)


def start_stream_indexer(
    spark: SparkSession,
    stream_df: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    config: IndexConfig | None = None,
    compact_every: int | None = None,
    trigger: dict | None = None,
):
    """Start a streaming query that maintains the index at ``index_dir``
    from ``stream_df`` (a streaming DataFrame with the pages schema). The
    base index must already exist (an empty base build is fine).

    ``compact_every``: merge delta generations back into the base whenever
    their count reaches this value. ``trigger``: kwargs for
    ``DataStreamWriter.trigger`` (default ``availableNow=True`` — drain
    what's there and stop, the batch-refresh pattern)."""
    # config=None inherits the base index's recorded config (the base must
    # already exist), so streaming appends always match its chain/fields
    from ..index.builder import stored_config

    cfg = config or stored_config(index_dir) or IndexConfig()

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if len(batch_df.take(1)) == 0:
            return
        _append_batch(spark, batch_df, index_dir, cfg, batch_id)
        if compact_every and len(IndexStorage(index_dir).delta_dirs()) >= compact_every:
            compact_index(spark, index_dir, cfg)

    writer = stream_df.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()
