"""Index table storage with atomic per-stage commits and resume.

Plays the role of Lucene's two-phase ``segments_N`` commit
(IndexWriter.cs:3868,4092: write pending generation, fsync, publish) and of
Iceberg snapshots in the production deployment: each build stage writes its
Parquet output, then publishes a ``_COMMIT.json`` marker containing the
config fingerprint and audit counters. A crash between write and publish
leaves no marker -> the stage re-runs idempotently (same deterministic
output); a published marker with a matching fingerprint -> the stage is
skipped on resume (the ``IndexDeletionPolicy``/CheckIndex analogue of
"last commit wins").

On a real cluster this module is the only thing that changes: writes become
``df.writeTo(table).createOrReplace()`` against an Iceberg catalog and the
marker becomes the snapshot commit. The stage protocol (fingerprint check,
skip-if-committed) is identical. The driver-side reads (``read_local``)
prune by the Parquet footers' min/max statistics here; on Iceberg the
manifest statistics take that role.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession

COMMIT_MARKER = "_COMMIT.json"
# Write-ahead manifest for the compaction publish (builder.compact_index):
# written atomically (tmp + rename) BEFORE any stage swap, removed after the
# last one. Its presence means "roll the publish forward" — the single-
# atomic-action visibility flip Iceberg gets from a snapshot commit.
COMPACT_MANIFEST = "_COMPACT_MANIFEST.json"
# The LAST stage the build commits (builder._finish order: docmap, stats,
# postings, termstats, lineage). A generation is visible only once this
# stage's marker exists — every stage the Searcher reads commits before it.
FINAL_STAGE = "lineage"
# Spark DDL type -> Arrow type, for the stage schemas read on the driver
_ARROW_TYPES = {
    "string": pa.string(), "int": pa.int32(), "long": pa.int64(),
    "float": pa.float32(), "double": pa.float64(), "boolean": pa.bool_(),
}


def _arrow_type(ddl_type: str) -> pa.DataType:
    if ddl_type.startswith("array<"):
        # Spark writes Parquet lists with the element field "element"
        return pa.list_(pa.field("element", _arrow_type(ddl_type[6:-1])))
    return _ARROW_TYPES[ddl_type]


def arrow_schema(ddl: str) -> pa.Schema:
    """A flat Spark DDL string ("a long, b array<int>") as an Arrow schema."""
    cols = [c.split() for c in ddl.split(",")]
    return pa.schema([(name, _arrow_type(t)) for name, t in cols])


@dataclass
class IndexStorage:
    root: str

    def path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def is_committed(self, stage: str, fingerprint: str) -> bool:
        marker = os.path.join(self.path(stage), COMMIT_MARKER)
        if not os.path.exists(marker):
            return False
        try:
            with open(marker) as f:
                meta = json.load(f)
            return meta.get("fingerprint") == fingerprint
        except (json.JSONDecodeError, OSError):
            return False

    def commit_meta(self, stage: str) -> dict:
        with open(os.path.join(self.path(stage), COMMIT_MARKER)) as f:
            return json.load(f)

    def write_stage(
        self,
        df: DataFrame,
        stage: str,
        fingerprint: str,
        meta: dict | None = None,
        sort_columns: list[str] | None = None,
        range_partition_column: str | None = None,
        num_files: int | None = None,
        partition_by: list[str] | None = None,
        compression: str | None = None,
        row_group_bytes: int | None = None,
    ) -> dict:
        """Write a stage table and publish its commit marker.

        ``range_partition_column`` + ``sort_columns`` produce a globally
        range-partitioned, within-file sorted layout — the analogue of the
        BlockTree term dictionary's sorted blocks + FST index
        (BlockTreeTermsWriter.cs:189,196): Parquet footer min/max stats on
        the sort column then give seek-by-term via predicate pushdown.
        ``row_group_bytes`` caps the Parquet row group size, the unit those
        footer statistics can skip.
        """
        out = self.path(stage)
        tmp = out + ".__tmp__"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        w = df
        if range_partition_column is not None:
            if num_files:
                w = w.repartitionByRange(num_files, range_partition_column)
            else:
                w = w.repartitionByRange(range_partition_column)
        if sort_columns:
            w = w.sortWithinPartitions(*sort_columns)
        writer = w.write.mode("overwrite")
        if compression:
            writer = writer.option("compression", compression)
        if row_group_bytes:
            writer = writer.option("parquet.block.size", str(row_group_bytes))
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        if os.path.exists(out):
            shutil.rmtree(out)
        os.rename(tmp, out)  # atomic publish on POSIX
        commit = {
            "stage": stage,
            "fingerprint": fingerprint,
            "committed_at": time.time(),
            **(meta or {}),
        }
        with open(os.path.join(out, COMMIT_MARKER), "w") as f:
            json.dump(commit, f, indent=2)
        return commit

    def read_stage(self, spark: SparkSession, stage: str, schema: str | None = None) -> DataFrame:
        """``schema``: explicit DDL string — required to read stages that can
        legitimately be EMPTY (a zero-doc corpus writes no parquet files, and
        schema inference has nothing to look at)."""
        r = spark.read
        if schema is not None:
            r = r.schema(schema)
        return r.parquet(self.path(stage))

    def read_local(
        self, stage: str, schema: str, columns: list[str] | None = None, filter=None
    ) -> pa.Table:
        """The driver-side read of a stage: a pyarrow Table of ``columns``
        under the stage's explicit DDL ``schema`` (so an empty stage is an
        empty table), keeping the rows of the pyarrow ``filter``
        expression. The filter is checked against the Parquet footer
        min/max statistics before any data page is read: on the term-sorted,
        range-partitioned stages a term lookup opens only the row groups
        whose term range holds it. No Spark job runs."""
        return ds.dataset(
            self.path(stage), schema=arrow_schema(schema), format="parquet"
        ).to_table(columns=columns, filter=filter)

    def delta_dirs(self) -> list[str]:
        """Committed delta generations under <root>/deltas/<gen>, in
        generation order — the ``segments_N`` commit-generation list of the
        composite index (SegmentInfos.cs:55-119). A generation counts only
        once its FINAL stage (lineage) published a commit marker: the build
        commits docmap/stats/postings/termstats before it, so everything the
        Searcher reads exists by then. (Keying on an earlier stage left a
        crash window where a half-built generation was visible.)"""
        self.recover_pending_compaction()
        base = os.path.join(self.root, "deltas")
        if not os.path.isdir(base):
            return []
        out = []
        for name in sorted(os.listdir(base)):
            d = os.path.join(base, name)
            if os.path.exists(os.path.join(d, FINAL_STAGE, COMMIT_MARKER)):
                out.append(d)
        return out

    def recover_pending_compaction(self) -> bool:
        """Roll forward a compaction publish that crashed mid-swap.

        ``compact_index`` writes COMPACT_MANIFEST (atomic rename) before the
        first stage swap and deletes it after the deltas are dropped; every
        step in between is idempotent, so replaying the manifest completes
        the publish exactly. Called from ``delta_dirs()`` — the choke point
        every reader (Searcher) and writer (append/compact) goes through —
        so a half-published index is never observed. Returns True if a
        pending publish was completed."""
        mpath = os.path.join(self.root, COMPACT_MANIFEST)
        if not os.path.exists(mpath):
            return False
        with open(mpath) as f:
            m = json.load(f)
        tmp_root = m["tmp_root"]
        for stage in m["stages"]:
            src = os.path.join(tmp_root, stage)
            if os.path.exists(src):  # not yet swapped
                dst = os.path.join(self.root, stage)
                if os.path.exists(dst):
                    shutil.rmtree(dst)
                os.rename(src, dst)
        for rel in m.get("drop", []):
            p = os.path.join(self.root, rel)
            if os.path.exists(p):
                shutil.rmtree(p)
        shutil.rmtree(tmp_root, ignore_errors=True)
        os.remove(mpath)
        return True

    def begin_compaction_publish(self, tmp_root: str, stages: list[str], drop: list[str]) -> None:
        """Atomically record the publish intent (tmp file + rename), then
        execute it via the same roll-forward path recovery uses."""
        mpath = os.path.join(self.root, COMPACT_MANIFEST)
        tmp = mpath + ".__tmp__"
        with open(tmp, "w") as f:
            json.dump({"tmp_root": tmp_root, "stages": stages, "drop": drop}, f)
        os.rename(tmp, mpath)

    def drop(self) -> None:
        if os.path.exists(self.root):
            shutil.rmtree(self.root)
