"""Offline index integrity verification — the CheckIndex analogue
(src/Lucene.Net/Index/CheckIndex.cs): cross-table invariants any healthy
index must satisfy. Runs as distributed aggregations (no collect of data
tables), returns a dict of named checks -> bool plus counters.

Invariants (FIXTURES.md §5):
- Σ posting freqs per doc == doclen in docmap
- per-term df == number of posting entries; termstats.df consistent
- docids strictly increasing within each block and across a term's blocks
- every posting docid exists in docmap; docids dense 0..maxdoc-1
- stats.avgdl == float32(sum_ttf / float64(maxdoc))
- lineage counters sum to table totals
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from .builder import DOCMAP_SCHEMA, PARTIALS_SCHEMA, POSTINGS_SCHEMA, TERMSTATS_SCHEMA
from .storage import IndexStorage


def verify(spark: SparkSession, index_dir: str) -> dict:
    st = IndexStorage(index_dir)
    postings = st.read_stage(spark, "postings", POSTINGS_SCHEMA)
    docmap = st.read_stage(spark, "docmap", DOCMAP_SCHEMA)
    termstats = st.read_stage(spark, "termstats", TERMSTATS_SCHEMA)
    stats = st.read_stage(spark, "stats").collect()[0]
    lineage = st.read_stage(spark, "lineage")

    results: dict[str, object] = {}
    maxdoc = int(stats["maxdoc"])
    smeta = st.commit_meta("stats")
    # density is a property of the build mode (stats commit meta): dense for
    # the hash-partition + offset scheme, NOT dense for caller-assigned
    # docids or after a delete-applying compaction (gaps). Uniqueness and
    # count hold either way.
    dense = bool(smeta.get("dense_docids", True))
    max_docid = int(smeta.get("next_docid", maxdoc)) - 1

    dm = docmap.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("docid").alias("nd"),
        F.min("docid").alias("lo"),
        F.max("docid").alias("hi"),
        F.sum("doclen").alias("sum_ttf"),
    ).collect()[0]
    results["docmap_unique_docids"] = (
        int(dm["n"]) == maxdoc and int(dm["nd"]) == maxdoc
    )
    if dense:
        results["docmap_dense_docids"] = (
            maxdoc == 0 or (int(dm["lo"]) == 0 and int(dm["hi"]) == maxdoc - 1)
        )
    results["stats_sum_ttf"] = int(dm["sum_ttf"] or 0) == int(stats["sum_ttf"])
    results["stats_avgdl_float32"] = np.float32(stats["avgdl"]) == np.float32(
        int(stats["sum_ttf"]) / float(maxdoc)
    )

    # blocks: internal ordering + metadata consistency — vectorized across
    # the WHOLE Arrow batch (list columns flattened once, per-block stats
    # via reduceat on block-start offsets; the same kernel style as the
    # merge). No per-row Python: CheckIndex over a 100 TB index runs at
    # memory bandwidth, not interpreter speed.
    def check_blocks(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        out_schema = pa.schema(
            [("bad_order", pa.int64()), ("bad_meta", pa.int64()),
             ("n_entries", pa.int64()), ("sum_freq", pa.int64())]
        )
        for rb in batches:
            n_blocks = rb.num_rows
            if n_blocks == 0:
                continue
            deltas = pc.list_flatten(rb.column("docid_deltas")).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            freqs = pc.list_flatten(rb.column("freqs")).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            lens = pc.list_value_length(rb.column("docid_deltas")).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            first = rb.column("first_docid").to_numpy(zero_copy_only=False)
            last = rb.column("last_docid").to_numpy(zero_copy_only=False)
            entry_count = rb.column("entry_count").to_numpy(zero_copy_only=False)
            max_tf = rb.column("block_max_tf").to_numpy(zero_copy_only=False)
            ttf = rb.column("block_ttf").to_numpy(zero_copy_only=False)

            starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
            is_start = np.zeros(len(deltas), dtype=bool)
            is_start[starts] = True
            # ordering: delta==0 exactly at block starts, >0 elsewhere
            viol = np.where(is_start, deltas != 0, deltas <= 0)
            bad_order = int(np.maximum.reduceat(viol, starts).sum())
            # last_docid: first + sum(deltas) per block
            blk_last = first + np.add.reduceat(deltas, starts)
            blk_max_tf = np.maximum.reduceat(freqs, starts)
            blk_ttf = np.add.reduceat(freqs, starts)
            freq_viol = np.maximum.reduceat(freqs <= 0, starts)
            bad_meta = int(
                (
                    (blk_last != last)
                    | (lens != entry_count)
                    | (blk_max_tf != max_tf)
                    | (blk_ttf != ttf)
                    | freq_viol
                ).sum()
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([bad_order]), pa.array([bad_meta]),
                    pa.array([int(lens.sum())]), pa.array([int(freqs.sum())]),
                ],
                schema=out_schema,
            )

    agg = (
        postings.select("first_docid", "last_docid", "entry_count",
                        "docid_deltas", "freqs", "block_max_tf", "block_ttf")
        .mapInArrow(check_blocks, "bad_order long, bad_meta long, n_entries long, sum_freq long")
        .agg(F.sum("bad_order"), F.sum("bad_meta"), F.sum("n_entries"), F.sum("sum_freq"))
        .collect()[0]
    )
    results["blocks_sorted"] = int(agg[0] or 0) == 0
    results["blocks_metadata"] = int(agg[1] or 0) == 0
    # Σ freq over all postings == Σ doclen + Σ freq of namespaced postings
    # (every text token is in exactly one entry; namespaced terms — keyword
    # "<field>:<value>" entries at tf==1 AND extra-text-field "<field>:term"
    # entries at their own tf — are NOT part of the text field length)
    kw = postings.filter(F.col("term").contains(":")).agg(
        F.sum("block_ttf")
    ).collect()[0][0]
    results["sum_freq_equals_sum_doclen"] = int(agg[3] or 0) == int(
        stats["sum_ttf"]
    ) + int(kw or 0)
    # per-extra-field totals: Σ freq under "<field>:" == field_stats sum_ttf
    field_stats = smeta.get("field_stats") or {}
    for tf_name, v in field_stats.items():
        got = postings.filter(
            F.col("term").startswith(tf_name + ":")
        ).agg(F.sum("block_ttf")).collect()[0][0]
        results[f"field_sum_ttf_{tf_name}"] = int(got or 0) == int(v["sum_ttf"])

    # termstats df/ttf match the posting blocks
    ts_chk = (
        postings.groupBy("term")
        .agg(F.sum("entry_count").alias("df2"), F.sum("block_ttf").alias("ttf2"))
        .join(termstats, "term", "full_outer")
        .filter(
            (F.col("df2").isNull())
            | (F.col("df").isNull())
            | (F.col("df2") != F.col("df"))
            | (F.col("ttf2") != F.col("ttf"))
        )
        .count()
    )
    results["termstats_consistent"] = ts_chk == 0

    # cross-term docid ordering: per (term), blocks ordered by (bucket,
    # block_id) must have non-overlapping increasing docid ranges
    w_chk = (
        postings.select("term", "bucket", "block_id", "first_docid", "last_docid")
        .withColumn(
            "prev_last",
            F.lag("last_docid").over(
                Window.partitionBy("term").orderBy("bucket", "block_id")
            ),
        )
        .filter(F.col("prev_last").isNotNull() & (F.col("first_docid") <= F.col("prev_last")))
        .count()
    )
    results["term_blocks_disjoint_increasing"] = w_chk == 0

    # every posting docid within docmap range (cheap range proxy + exact join
    # on a sample is overkill at 100TB; the range check is the invariant here)
    rng = postings.agg(F.min("first_docid"), F.max("last_docid")).collect()[0]
    results["posting_docids_in_range"] = (
        rng[0] is None or (int(rng[0]) >= 0 and int(rng[1]) <= max_docid)
    )

    # lineage counters
    lin = lineage.agg(
        F.sum("doc_count"), F.sum("token_count"), F.sum("posting_count")
    ).collect()[0]
    results["lineage_docs"] = int(lin[0] or 0) == maxdoc
    results["lineage_tokens"] = int(lin[1] or 0) == int(stats["sum_ttf"])
    results["lineage_postings"] = int(lin[2] or 0) == int(agg[2] or 0)

    # index-sort invariant (IndexConfig.sort_field / SortingMergePolicy
    # analogue; CheckIndex.cs has the per-segment sort check in 4.8's
    # SortingMergePolicy tests): docid order must equal sort-key order —
    # verified distributed via a lag window over (docid asc): every
    # consecutive pair must be non-decreasing in the sort key. The query
    # engine's block pruning and early-terminating collection are only
    # correct under this invariant, so a corrupted sorted index fails
    # CheckIndex before it can silently drop matches.
    sort_field = (smeta.get("config") or {}).get("sort_field")
    if sort_field:
        dv_ddl = st.commit_meta("docmap").get("dv_ddl", "")
        dmw = st.read_stage(
            spark, "docmap",
            DOCMAP_SCHEMA + (", " + dv_ddl if dv_ddl else ""),
        ).select("docid", F.col(sort_field).cast("double").alias("__k"))
        # distributed, no global window: lag within 8192-docid buckets
        # (parallel), then the same lag over the tiny per-bucket
        # (first_key, last_key) summary to cover bucket boundaries
        dmb = dmw.withColumn("__b", (F.col("docid") / F.lit(8192)).cast("long"))
        win = Window.partitionBy("__b").orderBy("docid")
        viol_in = (
            dmb.withColumn("__prev", F.lag("__k").over(win))
            .filter(F.col("__prev").isNotNull() & (F.col("__k") < F.col("__prev")))
            .count()
        )
        summ = dmb.groupBy("__b").agg(
            F.min_by("__k", "docid").alias("__first_k"),
            F.max_by("__k", "docid").alias("__last_k"),
        )
        wb = Window.orderBy("__b")
        viol_cross = (
            summ.withColumn("__prev_last", F.lag("__last_k").over(wb))
            .filter(
                F.col("__prev_last").isNotNull()
                & (F.col("__first_k") < F.col("__prev_last"))
            )
            .count()
        )
        results["docids_follow_index_sort"] = viol_in == 0 and viol_cross == 0

    results["ok"] = all(v for k, v in results.items() if isinstance(v, bool))
    return results
