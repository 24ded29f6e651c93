"""Distributed inverted-index build — the IndexWriter of the engine.

Spark-first re-expression of the reference's indexing path (SURVEY.md §3.1):

=====================================  =========================================
Reference (C#, threads + codec files)  Here (Spark, partitions + Parquet tables)
=====================================  =========================================
IndexWriter.AddDocument routing to a   ``repartition(P, url)`` — each of the P
DocumentsWriterPerThread               partitions is a "DWPT"
(IndexWriter.cs:1621)
DWPT in-RAM inversion + 16MB flush     ``mapInPandas(_build_partials)`` with a
(DocumentsWriterPerThread.cs:274,509)  numpy lexsort inversion kernel, flushing
                                       a sub-segment every ``flush_docs`` docs
FreqProxTermsWriter byte-slice         partial posting rows
postings (FreqProxTermsWriterPerField  ``(term, pid, seg, docids[], freqs[],
.cs:155-251)                           norm_bytes[], positions[][])``
SegmentMerger k-way merge with docID   ONE shuffle: ``groupBy(term, bucket)``
rebasing (SegmentMerger.cs:89-148)     + ``applyInPandas(_merge_partials)``.
                                       No merge-sort and no docID rebasing are
                                       needed: docids are assigned as
                                       partition-offset + local rank, so each
                                       pid owns a contiguous docid range and
                                       concatenating runs in (pid, seg) order
                                       IS the merged sorted list
TieredMergePolicy tiers / salting      ``bucket = pid // bucket_width`` bounds
(TieredMergePolicy.cs:308-440)         any single merge task to bucket_width
                                       partitions' postings — stopword skew
                                       never lands on one task
Lucene41PostingsWriter 128-int blocks  block rows with docid deltas, freqs,
+ skip entries + norms                 norm bytes, first/last docid (the skip
(Lucene41PostingsWriter.cs:302-358)    entry) and block-max metadata; Parquet
                                       min/max footer stats on ``term`` replace
                                       the BlockTree/FST seek index.
                                       ForUtil packing (ForUtil.cs:38) is
                                       delegated to Parquet encodings + zstd —
                                       MEASURED equivalent (±4% bytes, faster
                                       decode; scripts/packing_bench.py,
                                       BENCH/BASELINE.md "Posting-block
                                       packing")
Two-phase segments_N commit            per-stage Parquet write + _COMMIT.json
(IndexWriter.cs:3868)                  marker; resume skips committed stages

Scale notes (the 100 TB contract):
- exactly TWO wide shuffles touch the full corpus: the initial
  ``repartition(P, url)`` of the pages and the ``groupBy(term, bucket)`` of
  the partial postings. Everything else is metadata-sized.
- partial postings are pre-aggregated per (term, partition) before the
  shuffle — the map-side-combine that keeps a stopword's shuffle volume at
  one row per partition instead of one row per document.
- norm bytes are denormalized into the posting blocks, so query-time scoring
  never joins the (10^12-row) docmap.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from ..analysis import StandardAnalyzer
from ..scoring.bm25 import BM25
from ..scoring.smallfloat import doclen_to_norm_byte_fast
from .config import IndexConfig
from .storage import IndexStorage

# positions are stored FLAT (concatenated across entries in entry order);
# ``freqs`` doubles as the split lengths — freq == len(positions-of-entry) —
# exactly the reason Lucene's .doc file can address the .pos file without a
# per-entry length (Lucene41PostingsFormat.cs:88-100 file-layout rationale).
PARTIALS_SCHEMA = (
    "row_type string, pid int, seg int, "
    "docid long, url string, doclen int, norm_byte int, text_bytes long, "
    "term string, docids array<long>, freqs array<int>, "
    "norm_bytes array<int>, doclens array<int>, positions array<int>"
)

POSTINGS_SCHEMA = (
    "term string, bucket int, block_id long, first_docid long, last_docid long, "
    "entry_count int, docid_deltas array<long>, freqs array<int>, "
    "norm_bytes array<int>, doclens array<int>, positions array<int>, "
    "block_max_tf int, block_ttf long, block_max_ub float"
)

# Postings and termstats row groups stay small: a term seek reads only the
# row groups whose footer min/max term range holds the term, so this bounds
# the bytes one lookup decompresses (Spark's default, 128 MiB, made every
# file one row group that each seek read whole)
SEEK_ROW_GROUP_BYTES = 1 << 20

# Entries per posting block (Lucene41PostingsFormat.cs:375 BLOCK_SIZE)
BLOCK_SIZE = 128
# Merge-stage scan batch (rows per columnar reader batch while reading the
# list-heavy partials): small enough that a batch of stopword rows (arrays
# up to flush_docs entries) fits the heap, large enough to amortize
# JVM->Arrow dispatch. 256 measured safe at flush_docs=50k.
MERGE_READER_BATCH_SIZE = 256

DOCMAP_SCHEMA = (
    "docid long, url string, doclen int, norm_byte int, text_bytes long, pid int"
)


def widen_ddl(base: str, dv_ddl: str) -> str:
    """Append the doc-values columns (recorded as ``dv_ddl`` in the stage
    commit metas) to a core stage DDL."""
    return f"{base}, {dv_ddl}" if dv_ddl else base


def ddl_names(dv_ddl: str) -> list[str]:
    """Column names of a DDL fragment. Splits only on TOP-LEVEL commas —
    parameterized types (``decimal(10,2)``, ``map<string,int>``,
    ``struct<a:int,b:string>``) contain commas of their own."""
    names: list[str] = []
    depth = 0
    start = 0
    s = dv_ddl
    for i, ch in enumerate(s):
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        elif ch == "," and depth == 0:
            if s[start:i].strip():
                names.append(s[start:i].strip().split()[0])
            start = i + 1
    if s[start:].strip():
        names.append(s[start:].strip().split()[0])
    return names

TERMSTATS_SCHEMA = "term string, df long, ttf long, max_ub float, idf float"
STATS_SCHEMA = "field string, maxdoc long, sum_ttf long, avgdl float"

STAGES = ("docoffsets", "partials", "docmap", "stats", "postings", "termstats", "lineage")


def partition_id_expr(num_partitions: int):
    """The partition id ``repartition(P, url)`` will assign, computed WITHOUT
    shuffling: Spark's hash partitioning is pmod(murmur3(url), P) and
    ``F.hash`` is the same murmur3 — validated by test_build.py."""
    return F.pmod(F.hash("url"), F.lit(num_partitions))


class IndexBuilder:
    def __init__(
        self,
        spark: SparkSession,
        storage: IndexStorage,
        config: IndexConfig | None = None,
        analyzer: StandardAnalyzer | None = None,
        docid_base: int = 0,
        fingerprint_extra: str = "",
    ):
        #: first docid this build assigns — 0 for a base index; the base's
        #: maxdoc for a delta generation (the docBase scheme of
        #: BaseCompositeReader.cs:79-99 applied across commit generations)
        self.docid_base = docid_base
        self.spark = spark
        self.storage = storage
        self.config = config or IndexConfig()
        #: input-identity component mixed into every stage commit marker's
        #: fingerprint (append/streaming: batch id or input hash) — resume
        #: skips a committed stage only when BOTH the config and the input
        #: batch match, so a crashed generation can never be "resumed" with
        #: a different batch's documents
        self.fingerprint_extra = fingerprint_extra
        #: whether this build's docids are dense 0..maxdoc-1 (hash-partition
        #: + offset scheme). False for caller-assigned docids and for
        #: delete-applying compactions (docids keep their values, gaps
        #: appear). Recorded in the stats commit meta; CheckIndex gates its
        #: density invariants on it and append_index allocates new docid
        #: ranges from next_docid, which stays collision-free either way.
        self.docids_dense = not (config or IndexConfig()).external_docids
        if set(self.config.text_fields) & set(self.config.keyword_fields):
            # "lang:en" from an analyzed lang field would collide with the
            # keyword posting of the same name
            raise ValueError(
                "a field cannot be both a text_field and a keyword_field"
            )
        if self.config.lang_chains and not self.config.lang_field:
            raise ValueError("lang_chains requires lang_field")
        if self.config.lang_chains and self.config.text_fields:
            # extra-field suffix filtering at encode time is chain-global;
            # routing it per document needs per-field routes — out of scope
            raise ValueError("lang routing is incompatible with text_fields")
        # NOTE: term-filter chains (english stemmer, ascii_folding) work on
        # extra text_fields: encode_terms() applies the filter to the
        # SUFFIX of "<field>:term" postings, so the index side matches the
        # query side's analyze_query for every analyzed field. Keyword
        # postings are exempt (their values must stay verbatim) because
        # only text_fields prefixes are suffix-filtered.
        self.analyzer = analyzer if analyzer is not None else self._chain(self.config.analyzer)

    def _chain(self, name: str) -> StandardAnalyzer:
        """The analysis chain ``name`` with the config's stop filter,
        token-length cap and tokenizer."""
        from ..analysis.analyzer import ENGLISH_STOP_WORDS, analyzer_for

        cfg = self.config
        return analyzer_for(
            name,
            stop_words=ENGLISH_STOP_WORDS if cfg.stop_filter else frozenset(),
            max_token_length=cfg.max_token_length,
            ascii_only=cfg.ascii_tokens,
        )

    def _fp(self) -> str:
        """Stage-commit fingerprint: config identity + (optional) input
        identity. See ``fingerprint_extra``."""
        fp = self.config.fingerprint()
        if not self.fingerprint_extra:
            return fp
        import hashlib

        return hashlib.sha256((fp + "|" + self.fingerprint_extra).encode()).hexdigest()[:16]

    # ------------------------------------------------------------------ #
    def build(self, pages: DataFrame, overwrite: bool = False) -> dict:
        """Run all stages; returns the summary dict. Stages whose commit
        marker matches the config fingerprint are skipped (resume)."""
        if self.config.sort_field and not self.config.external_docids:
            # index-time sort: pre-assign docids in global sort order and
            # ride the external-docids path (which range-partitions on
            # docid, preserving the contiguity contract the merge needs)
            import dataclasses

            pages = assign_sorted_docids(
                pages, self.config.sort_field,
                self.config.num_partitions, self.docid_base,
            )
            self.config = dataclasses.replace(self.config, external_docids=True)
            self.docids_dense = True  # rank assignment is dense 0..n-1
        if overwrite:
            self.storage.drop()
        summary, run = self._stage_runner()
        if not self.config.external_docids:
            run("docoffsets", lambda: self._stage_docoffsets(pages))
        run("partials", lambda: self._stage_partials(pages))
        return self._finish(summary, run)

    def _stage_runner(self):
        """A fresh build summary and the one stage runner that fills it: a
        stage whose commit marker matches the fingerprint is skipped
        (resume); any other stage runs and its meta records ``wall_sec``."""
        import time

        fp = self._fp()
        summary = {"fingerprint": fp, "stages": {}}

        def run(stage: str, fn):
            if self.storage.is_committed(stage, fp):
                summary["stages"][stage] = {"skipped": True}
                return
            t0 = time.time()
            meta = fn()
            if isinstance(meta, dict):
                meta["wall_sec"] = round(time.time() - t0, 3)
            summary["stages"][stage] = meta

        return summary, run

    def _finish(self, summary: dict, run) -> dict:
        """Stages downstream of the partials table — also the entry point
        for compaction, which synthesizes a merged partials table first."""
        run("docmap", self._stage_docmap)
        run("stats", self._stage_stats)
        run("postings", self._stage_postings)
        run("termstats", self._stage_termstats)
        run("lineage", self._stage_lineage)
        return summary

    def finish_from_partials(self) -> dict:
        """Run every stage downstream of an externally-written partials
        table (compaction path)."""
        return self._finish(*self._stage_runner())

    # ------------------------------------------------------------------ #
    def _stage_docoffsets(self, pages: DataFrame) -> dict:
        """Per-partition doc counts -> docid base offsets (docBase analogue,
        BaseCompositeReader.cs:79-99 ``starts[]``). Cheap: scans only the
        ``url`` column (Parquet projection), no shuffle of the payload."""
        P = self.config.num_partitions
        counts = (
            pages.select(partition_id_expr(P).alias("pid"))
            .groupBy("pid")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        pdf = counts.toPandas().sort_values("pid")  # P rows — driver-safe
        full = pd.DataFrame({"pid": range(P)}).merge(pdf, on="pid", how="left").fillna(0)
        full["cnt"] = full["cnt"].astype("int64")
        full["docid_base"] = full["cnt"].cumsum().shift(1, fill_value=0) + self.docid_base
        df = self.spark.createDataFrame(full[["pid", "cnt", "docid_base"]])
        return self.storage.write_stage(
            df, "docoffsets", self._fp(),
            meta={"maxdoc": int(full["cnt"].sum())},
        )

    def _offsets(self) -> dict[int, int]:
        pdf = self.storage.read_stage(self.spark, "docoffsets").toPandas()
        return dict(zip(pdf["pid"].astype(int), pdf["docid_base"].astype(int)))

    def _dv_ddl(self, pages: DataFrame) -> str:
        """DDL for the configured doc-values columns, typed from the input
        schema (e.g. ``"warc_ts timestamp, lang string"``)."""
        fields = self.config.docvalue_fields
        if not fields and not self.config.text_fields:
            return ""
        core = {c.strip().split()[0] for c in PARTIALS_SCHEMA.split(",")}
        input_cols = set(pages.columns)
        parts = []
        for f in fields:
            if f in core:
                raise ValueError(
                    f"docvalue field {f!r} collides with an index-internal column"
                )
            if f not in input_cols:
                raise ValueError(f"docvalue field {f!r} not in input columns")
            parts.append(f"{f} {pages.schema[f].dataType.simpleString()}")
        # extra analyzed fields: the field's exact doclen rides the docmap
        # as an auto-added doc-value (stats derives per-field avgdl from it)
        for tf in self.config.text_fields:
            if tf not in input_cols:
                raise ValueError(f"text field {tf!r} not in input columns")
            parts.append(f"__dl_{tf} int")
        return ", ".join(parts)

    # ------------------------------------------------------------------ #
    def _stage_partials(self, pages: DataFrame) -> dict:
        """The DWPT pass: one ``mapInPandas`` over hash-partitioned,
        url-sorted pages emits BOTH doc rows (docmap) and partial posting
        rows from a single tokenization — written once, partitioned by
        row_type for pruned reads."""
        cfg = self.config
        analyzer = self.analyzer
        external = cfg.external_docids
        if external:
            docid_type = pages.schema["docid"].dataType
            if not isinstance(docid_type, IntegralType):
                raise ValueError(
                    "external_docids needs an integer docid column, got "
                    + docid_type.simpleString()
                )
        offsets = None if external else self._offsets()
        index_positions = cfg.index_positions
        flush_docs = cfg.flush_docs
        keyword_fields = tuple(cfg.keyword_fields)
        text_fields = tuple(cfg.text_fields)
        lang_field = cfg.lang_field
        route_analyzers: tuple = ()
        if cfg.lang_chains:
            if lang_field not in pages.columns:
                raise ValueError(f"lang_field {lang_field!r} not in input columns")
            # per-language chains constructed driver-side (validates the
            # names) and shipped in the closure like the default analyzer
            route_analyzers = tuple(
                (lang, self._chain(name)) for lang, name in cfg.lang_chains
            )
        dv_ddl = self._dv_ddl(pages)
        dv_names = ddl_names(dv_ddl)
        # computed per-field doclen doc-values vs pass-through input columns
        input_dv_names = [n for n in dv_names if not n.startswith("__dl_")]

        def build_partials(batches):
            import pyarrow as pa
            import pyarrow.compute as pc

            from ..analysis.analyzer import analyze_flat_arrow

            doc_null_cols = _null_cols(
                ["term", "docids", "freqs", "norm_bytes", "doclens", "positions"]
            )
            # doc-values columns: pass-through on 'd' rows, typed nulls on
            # 'p' rows; arrow types captured from the first input batch
            out_schema = None
            dv_types: list = []
            state_pid = None
            next_docid = 0
            last_docid = None  # external docids: the previous batch's last
            seg = 0
            # per-seg accumulators: tokens stay as Arrow arrays, everything
            # else as numpy — zero per-token Python objects
            acc_tok: list = []
            acc_docs: list[np.ndarray] = []
            acc_pos: list[np.ndarray] = []
            acc_norm: list[np.ndarray] = []
            acc_len: list[np.ndarray] = []
            docs_in_seg = 0

            def flush_seg():
                nonlocal seg, acc_tok, acc_docs, acc_pos, acc_norm, acc_len, docs_in_seg
                if docs_in_seg == 0 or not acc_tok:
                    seg += 1 if docs_in_seg else 0
                    docs_in_seg = 0
                    acc_tok, acc_docs, acc_pos, acc_norm, acc_len = [], [], [], [], []
                    return None
                tokens = pa.concat_arrays([a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a for a in acc_tok])
                d = np.concatenate(acc_docs)
                p = np.concatenate(acc_pos)
                nb = np.concatenate(acc_norm)
                dl = np.concatenate(acc_len)
                # one dictionary encode per segment (TermsHash analogue);
                # encode_terms applies the analyzer's term filter (stemmer)
                # over the UNIQUE terms and sorts/merges — per-vocabulary
                # Python cost, never per-token
                from ..analysis.analyzer import encode_terms

                enc = pc.dictionary_encode(tokens)
                uniq = enc.dictionary.to_numpy(zero_copy_only=False)
                codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
                scodes, suniq = encode_terms(
                    analyzer, codes, uniq, text_fields=text_fields,
                    # routed batches pre-applied each chain's filter —
                    # re-stemming with the default chain would corrupt
                    apply_filter=not route_analyzers,
                )
                out = _invert_codes(
                    scodes, suniq, d, p, nb, dl, state_pid, seg, index_positions
                )
                if dv_types:
                    out = pa.RecordBatch.from_arrays(
                        list(out.columns)
                        + [pa.nulls(out.num_rows, t) for t in dv_types],
                        schema=out_schema,
                    )
                seg += 1
                acc_tok, acc_docs, acc_pos, acc_norm, acc_len = [], [], [], [], []
                docs_in_seg = 0
                return out

            for rb in batches:
                n = rb.num_rows
                if n == 0:
                    continue
                pid = int(rb.column("pid")[0].as_py())
                if state_pid is None:
                    state_pid = pid
                    if not external:
                        next_docid = offsets[pid]
                if out_schema is None:
                    dv_types = [
                        pa.int32() if f.startswith("__dl_")
                        else rb.schema.field(f).type
                        for f in dv_names
                    ]
                    out_schema = pa.schema(
                        list(_partials_pa())
                        + [pa.field(f, t) for f, t in zip(dv_names, dv_types)]
                    )
                texts = rb.column("text")
                if route_analyzers:
                    # per-document chain routing: split the batch by lang
                    # code, analyze each group with its chain (Arrow-side
                    # work unchanged per group), pre-apply each chain's
                    # term filter (flush must not re-stem with the default
                    # chain), and stitch via the original row indices —
                    # _invert_codes lexsorts, so stream order is free
                    from ..analysis.analyzer import term_filter_flat

                    lang_vals = rb.column(lang_field).to_numpy(
                        zero_copy_only=False
                    )
                    taken = np.zeros(n, dtype=bool)
                    groups = []
                    for lang, chain in route_analyzers:
                        sel = np.flatnonzero((lang_vals == lang) & ~taken)
                        if len(sel):
                            taken[sel] = True
                            groups.append((sel, chain))
                    rest = np.flatnonzero(~taken)
                    if len(rest):
                        groups.append((rest, analyzer))
                    toks_parts, idx_parts, pos_parts = [], [], []
                    lens = np.zeros(n, dtype=np.int64)
                    for sel, chain in groups:
                        sub_tok, _, sub_idx, sub_pos, sub_lens = (
                            analyze_flat_arrow(
                                texts.take(pa.array(sel, pa.int64())),
                                chain, encode=False,
                            )
                        )
                        sub_tok = term_filter_flat(chain, sub_tok)
                        if len(sub_idx):
                            toks_parts.append(
                                sub_tok.combine_chunks()
                                if isinstance(sub_tok, pa.ChunkedArray)
                                else sub_tok
                            )
                            idx_parts.append(sel[sub_idx])
                            pos_parts.append(sub_pos)
                        lens[sel] = sub_lens
                    e_i = np.array([], dtype=np.int64)
                    flat_tok = (
                        pa.concat_arrays(toks_parts)
                        if toks_parts else pa.array([], pa.string())
                    )
                    flat_docidx = (
                        np.concatenate(idx_parts) if idx_parts else e_i
                    )
                    flat_pos = np.concatenate(pos_parts) if pos_parts else e_i
                else:
                    flat_tok, _, flat_docidx, flat_pos, lens = analyze_flat_arrow(
                        texts, analyzer, encode=False
                    )
                if external:
                    docids = _checked_docids(rb, last_docid)
                    last_docid = int(docids[-1])
                else:
                    docids = np.arange(next_docid, next_docid + n, dtype=np.int64)
                    next_docid += n
                norm_bytes = doclen_to_norm_byte_fast(lens).astype(np.int64)

                # extra analyzed fields (TextField.cs:38 analogue): same
                # chain, terms namespaced "<field>:", FIELD-OWN norms and
                # doclens ride the postings; the per-doc field length also
                # rides the 'd' row as the auto-added __dl_<field> dv
                tf_results = {}
                for tf in text_fields:
                    tf_results[tf] = analyze_flat_arrow(
                        rb.column(tf), analyzer, encode=False
                    )

                # doc rows (one arrow batch, no pandas)
                dv_arrays = []
                for f in dv_names:
                    if f.startswith("__dl_"):
                        tf_lens = tf_results[f[len("__dl_"):]][4]
                        dv_arrays.append(pa.array(tf_lens.astype(np.int32)))
                    else:
                        dv_arrays.append(rb.column(f))
                yield pa.RecordBatch.from_arrays(
                    [
                        _const_str("d", n),
                        pa.array(np.full(n, pid, dtype=np.int32)),
                        pa.array(np.full(n, seg, dtype=np.int32)),
                        pa.array(docids),
                        rb.column("url"),
                        pa.array(lens.astype(np.int32)),
                        pa.array(norm_bytes.astype(np.int32)),
                        pc.cast(pc.fill_null(pc.binary_length(texts), 0), pa.int64()),
                    ]
                    + doc_null_cols(n)
                    + dv_arrays,
                    schema=out_schema,
                )

                if len(flat_docidx):
                    acc_tok.append(flat_tok)
                    acc_docs.append(docids[flat_docidx])
                    acc_pos.append(flat_pos)
                    acc_norm.append(norm_bytes[flat_docidx])
                    acc_len.append(lens[flat_docidx])
                for tf in text_fields:
                    tf_tok, _, tf_docidx, tf_pos, tf_lens = tf_results[tf]
                    if not len(tf_docidx):
                        continue
                    tf_norm = doclen_to_norm_byte_fast(tf_lens).astype(np.int64)
                    acc_tok.append(
                        pc.binary_join_element_wise(
                            pa.scalar(tf + ":"),
                            tf_tok.combine_chunks()
                            if isinstance(tf_tok, pa.ChunkedArray) else tf_tok,
                            pa.scalar(""),
                        )
                    )
                    acc_docs.append(docids[tf_docidx])
                    acc_pos.append(tf_pos)
                    acc_norm.append(tf_norm[tf_docidx])
                    acc_len.append(tf_lens[tf_docidx])
                # keyword fields (StringField.cs:43 analogue): one
                # "<field>:<value>" token per non-null value, position 0,
                # NOT counted in the text field length (norms unchanged)
                for kf in keyword_fields:
                    col = rb.column(kf)
                    valid = pc.is_valid(col)
                    mask = valid.to_numpy(zero_copy_only=False)
                    if not mask.any():
                        continue
                    vals = pc.cast(col.filter(valid), pa.string())
                    acc_tok.append(
                        pc.binary_join_element_wise(
                            pa.scalar(kf + ":"), vals, pa.scalar("")
                        )
                    )
                    acc_docs.append(docids[mask])
                    acc_pos.append(np.zeros(int(mask.sum()), dtype=np.int64))
                    acc_norm.append(norm_bytes[mask])
                    acc_len.append(lens[mask])
                docs_in_seg += n
                if docs_in_seg >= flush_docs:
                    out = flush_seg()
                    if out is not None:
                        yield out
            out = flush_seg()
            if out is not None:
                yield out

        P = cfg.num_partitions
        # keyword + doc-values + extra text columns ride the same select
        # (dedupe: a field can play several roles); computed __dl_ columns
        # are NOT inputs — they materialize inside build_partials
        extra_cols = list(
            dict.fromkeys(
                [*keyword_fields, *input_dv_names, *text_fields]
                + ([lang_field] if route_analyzers else [])
            )
        )
        if external:
            # caller-assigned docids: range partitioning keeps each pid's
            # docid range contiguous and pid order == docid order, so the
            # (pid, seg)-ordered concatenation in the merge stays sorted
            prepared = (
                pages.select("url", "text", "docid", *extra_cols)
                .repartitionByRange(P, "docid")
                .sortWithinPartitions("docid")
                .withColumn("pid", F.spark_partition_id())
            )
        else:
            prepared = (
                pages.select("url", "text", *extra_cols)
                .repartition(P, "url")
                .sortWithinPartitions("url")
                .withColumn("pid", F.spark_partition_id())
            )
        partials = prepared.mapInArrow(
            build_partials, schema=widen_ddl(PARTIALS_SCHEMA, dv_ddl)
        )
        return self.storage.write_stage(
            partials, "partials", self._fp(), partition_by=["row_type"],
            # zstd: ~12%% smaller than snappy on posting blocks (measured),
            # decompression still stream-fast — the byte-budget lever at 100 TB
            compression="zstd",
            meta={"dv_ddl": dv_ddl},
        )

    # ------------------------------------------------------------------ #
    def _stage_docmap(self) -> dict:
        dv_ddl = self.storage.commit_meta("partials").get("dv_ddl", "")
        df = (
            self.storage.read_stage(
                self.spark, "partials", widen_ddl(PARTIALS_SCHEMA, dv_ddl)
            )
            .filter(F.col("row_type") == "d")
            .select(
                "docid", "url", "doclen", "norm_byte", "text_bytes", "pid",
                *ddl_names(dv_ddl),
            )
        )
        return self.storage.write_stage(
            df, "docmap", self._fp(),
            range_partition_column="docid", sort_columns=["docid"],
            meta={"dv_ddl": dv_ddl},
        )

    def _stage_stats(self) -> dict:
        dv_ddl = self.storage.commit_meta("docmap").get("dv_ddl", "")
        dm = self.storage.read_stage(
            self.spark, "docmap", widen_ddl(DOCMAP_SCHEMA, dv_ddl)
        )
        # per-extra-field length totals (FieldInfos per-field norms data):
        # avgdl for "<field>:<term>" scoring comes from the field's own
        # __dl_<field> doc-value, never from the text field's
        tf_aggs = [
            F.sum(F.coalesce(F.col(f"__dl_{tf}"), F.lit(0))).alias(f"__s_{tf}")
            for tf in self.config.text_fields
        ]
        row = dm.agg(
            F.count(F.lit(1)).alias("maxdoc"),
            F.sum("doclen").alias("sum_ttf"),
            F.max("docid").alias("max_docid"),
            *tf_aggs,
        ).collect()[0]
        maxdoc, sum_ttf = int(row["maxdoc"]), int(row["sum_ttf"] or 0)
        # next free docid — NOT maxdoc: after a delete-applying compaction
        # the docid space has gaps and maxdoc undercounts it; allocating
        # appends from max(docid)+1 can never collide
        next_docid = int(row["max_docid"]) + 1 if maxdoc else self.docid_base
        avgdl = float(np.float32(sum_ttf / maxdoc)) if maxdoc and sum_ttf > 0 else 1.0
        df = self.spark.createDataFrame([("text", maxdoc, sum_ttf, avgdl)], STATS_SCHEMA)
        field_stats = {
            tf: {
                "sum_ttf": int(row[f"__s_{tf}"] or 0),
                "avgdl": float(np.float32(int(row[f"__s_{tf}"] or 0) / maxdoc))
                if maxdoc and int(row[f"__s_{tf}"] or 0) > 0 else 1.0,
            }
            for tf in self.config.text_fields
        }
        return self.storage.write_stage(
            df, "stats", self._fp(),
            meta={
                "maxdoc": maxdoc, "sum_ttf": sum_ttf, "avgdl": avgdl,
                "field_stats": field_stats,
                "next_docid": next_docid, "dense_docids": self.docids_dense,
                # analysis-chain identity: the Searcher reconstructs the
                # SAME chain for query-side analysis (stemming etc.)
                "analyzer": {
                    "name": self.config.analyzer,
                    "stop_filter": self.config.stop_filter,
                    "ascii_tokens": self.config.ascii_tokens,
                    "max_token_length": self.config.max_token_length,
                    # per-document chain routes (lang code -> chain name);
                    # the Searcher exposes analyzer_for_lang from this
                    "lang_routes": dict(self.config.lang_chains),
                },
                # FULL build config: maintenance jobs run with config=None
                # (append/compact/stream) reconstruct it from here instead
                # of silently defaulting — a compaction that rebuilt stats
                # with the default chain over stemmed postings would
                # otherwise corrupt the recorded analyzer identity
                "config": self.config.to_dict(),
            },
        )

    # ------------------------------------------------------------------ #
    def _stage_postings(self) -> dict:
        """THE global shuffle (SegmentMerger analogue). Partial posting rows
        are range-repartitioned by (term, bucket) and merged by a STREAMING
        group merge inside ``mapInPandas`` — one pandas/Arrow pipeline per
        merge task instead of one per (term, bucket) group, so millions of
        small terms cost no per-group overhead, while hot (stopword) terms
        are still split across ``bucket`` salt values. Because the range
        partitioning clusters terms, the output files are term-sorted as a
        side effect: Parquet footer min/max on ``term`` become the term-
        dictionary seek index with NO extra shuffle at write time."""
        cfg = self.config
        stats = self.storage.read_stage(self.spark, "stats").collect()[0]
        avgdl = np.float32(stats["avgdl"])
        cache = BM25(cfg.k1, cfg.b).norm_cache(avgdl)
        index_positions = cfg.index_positions

        def merge_arrow(batches):
            """Rows arrive sorted by (term, bucket, pid, seg); groups may
            span Arrow batches — hold back the trailing open group and
            prepend it to the next batch, then hand complete-group runs to
            the vectorized block builder. Everything stays flat: list
            columns are flattened once per batch (Arrow C++), group/block
            boundaries come from flatnonzero, per-block stats from reduceat,
            and output list columns are rebuilt from offsets — no per-row,
            per-entry, or per-block Python loops."""
            import pyarrow as pa
            import pyarrow.compute as pc

            postings_pa = pa.schema(
                [
                    ("term", pa.string()),
                    ("bucket", pa.int32()),
                    ("block_id", pa.int64()),
                    ("first_docid", pa.int64()),
                    ("last_docid", pa.int64()),
                    ("entry_count", pa.int32()),
                    ("docid_deltas", pa.list_(pa.int64())),
                    ("freqs", pa.list_(pa.int32())),
                    ("norm_bytes", pa.list_(pa.int32())),
                    ("doclens", pa.list_(pa.int32())),
                    ("positions", pa.list_(pa.int32())),
                    ("block_max_tf", pa.int32()),
                    ("block_ttf", pa.int64()),
                    ("block_max_ub", pa.float32()),
                ]
            )

            def emit(terms, buckets, row_lens, docids, freqs, norms, dlens, poss):
                n_rows = len(terms)
                if n_rows == 0:
                    return None
                # row -> group id (change of term or bucket)
                row_change = np.empty(n_rows, dtype=bool)
                row_change[0] = True
                row_change[1:] = (terms[1:] != terms[:-1]).astype(bool)
                row_change[1:] |= buckets[1:] != buckets[:-1]

                n_entries = len(docids)
                row_entry_off = np.concatenate([[0], np.cumsum(row_lens)])
                group_first_row = np.flatnonzero(row_change)
                group_first_entry = row_entry_off[group_first_row]
                group_entry_counts = np.diff(np.append(group_first_entry, n_entries))
                # within-group entry rank -> 128-entry block boundaries
                rank = np.arange(n_entries) - np.repeat(group_first_entry, group_entry_counts)
                block_starts = np.flatnonzero((rank % BLOCK_SIZE) == 0)
                block_ends = np.append(block_starts[1:], n_entries)
                entry_group = np.repeat(
                    np.arange(len(group_first_row)), group_entry_counts
                )
                block_group = entry_group[block_starts]
                block_id = rank[block_starts] // BLOCK_SIZE

                # per-block stats (vectorized)
                first_docid = docids[block_starts]
                last_docid = docids[block_ends - 1]
                max_tf = np.maximum.reduceat(freqs, block_starts)
                ttf = np.add.reduceat(freqs, block_starts)
                f32 = freqs.astype(np.float32)
                ub = f32 / (f32 + cache[norms & 0xFF])
                max_ub = np.maximum.reduceat(ub, block_starts)

                # docid deltas with a 0 at every block start
                deltas = np.empty(n_entries, dtype=np.int64)
                if n_entries:
                    deltas[0] = 0
                    deltas[1:] = docids[1:] - docids[:-1]
                    deltas[block_starts] = 0

                gterm = terms[group_first_row]
                gbuck = buckets[group_first_row]
                blk_off = np.append(block_starts, n_entries)
                cols = [
                    pa.array(gterm[block_group]),
                    pa.array(gbuck[block_group].astype(np.int32)),
                    pa.array(block_id.astype(np.int64)),
                    pa.array(first_docid),
                    pa.array(last_docid),
                    pa.array((block_ends - block_starts).astype(np.int32)),
                    _list_array(blk_off, deltas),
                    _list_array(blk_off, freqs.astype(np.int32)),
                    _list_array(blk_off, norms.astype(np.int32)),
                    _list_array(blk_off, dlens.astype(np.int32)),
                ]
                if index_positions:
                    # positions are flat in entry order; freq == per-entry
                    # position count, so cumsum(freqs) addresses them
                    entry_pos_off = np.concatenate([[0], np.cumsum(freqs)])
                    pos_off = entry_pos_off[blk_off]
                    cols.append(_list_array(pos_off, poss.astype(np.int32)))
                else:
                    cols.append(pa.nulls(len(block_starts), pa.list_(pa.int32())))
                cols += [
                    pa.array(max_tf.astype(np.int32)),
                    pa.array(ttf.astype(np.int64)),
                    pa.array(max_ub.astype(np.float32)),
                ]
                return pa.RecordBatch.from_arrays(cols, schema=postings_pa)

            def flat(rb, name, dtype):
                col = rb.column(name)
                vals = pc.list_flatten(col).to_numpy(zero_copy_only=False).astype(dtype)
                lens = pc.list_value_length(col).to_numpy(zero_copy_only=False).astype(np.int64)
                return vals, lens

            held = None  # (terms, buckets, row_lens, docids, freqs, norms, dlens, poss, pos_row_lens)
            empty64 = np.array([], dtype=np.int64)
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                terms = rb.column("term").to_numpy(zero_copy_only=False)
                buckets = rb.column("bucket").to_numpy(zero_copy_only=False).astype(np.int64)
                docids, row_lens = flat(rb, "docids", np.int64)
                freqs, _ = flat(rb, "freqs", np.int64)
                norms, _ = flat(rb, "norm_bytes", np.int64)
                dlens, _ = flat(rb, "doclens", np.int64)
                if index_positions:
                    poss, pos_row_lens = flat(rb, "positions", np.int64)
                else:
                    poss, pos_row_lens = empty64, np.zeros(len(terms), dtype=np.int64)
                if held is not None:
                    terms = np.concatenate([held[0], terms])
                    buckets = np.concatenate([held[1], buckets])
                    row_lens = np.concatenate([held[2], row_lens])
                    docids = np.concatenate([held[3], docids])
                    freqs = np.concatenate([held[4], freqs])
                    norms = np.concatenate([held[5], norms])
                    dlens = np.concatenate([held[6], dlens])
                    poss = np.concatenate([held[7], poss])
                    pos_row_lens = np.concatenate([held[8], pos_row_lens])
                n = len(terms)
                cut = n - 1
                while cut > 0 and terms[cut - 1] == terms[-1] and buckets[cut - 1] == buckets[-1]:
                    cut -= 1
                row_off = np.concatenate([[0], np.cumsum(row_lens)])
                pos_off = np.concatenate([[0], np.cumsum(pos_row_lens)])
                ec, pc_ = int(row_off[cut]), int(pos_off[cut])
                held = (
                    terms[cut:], buckets[cut:], row_lens[cut:],
                    docids[ec:], freqs[ec:], norms[ec:], dlens[ec:],
                    poss[pc_:], pos_row_lens[cut:],
                )
                if cut > 0:
                    out = emit(
                        terms[:cut], buckets[:cut], row_lens[:cut],
                        docids[:ec], freqs[:ec], norms[:ec], dlens[:ec], poss[:pc_],
                    )
                    if out is not None:
                        yield out
            if held is not None and len(held[0]):
                out = emit(held[0], held[1], held[2], held[3], held[4], held[5], held[6], held[7])
                if out is not None:
                    yield out

        partials = (
            self.storage.read_stage(self.spark, "partials", PARTIALS_SCHEMA)
            .filter(F.col("row_type") == "p")
            .select("term", "pid", "seg", "docids", "freqs", "norm_bytes", "doclens", "positions")
            .withColumn("bucket", (F.col("pid") / F.lit(cfg.bucket_width)).cast("int"))
        )
        n_merge = cfg.merge_partitions or self.spark.conf.get(
            "spark.sql.shuffle.partitions"
        )
        postings = (
            partials.repartitionByRange(int(n_merge), "term", "bucket")
            .sortWithinPartitions("term", "bucket", "pid", "seg")
            .mapInArrow(merge_arrow, schema=POSTINGS_SCHEMA)
        )
        # Scoped confs for this one write (query-side jobs keep defaults):
        # - AQE off: its per-stage materialization serializes this CPU-bound
        #   (not bytes-bound) pipeline (measured 2.6x slower with AQE on).
        # - small columnar reader batches: partial-posting rows carry arrays
        #   up to flush_docs entries; the default 4096-row reader batch can
        #   demand GBs of contiguous heap per task on stopword rows.
        scoped = {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.parquet.columnarReaderBatchSize": str(MERGE_READER_BATCH_SIZE),
        }
        old = {k: self.spark.conf.get(k, None) for k in scoped}
        for k, v in scoped.items():
            self.spark.conf.set(k, v)
        try:
            return self.storage.write_stage(
                postings, "postings", self._fp(), compression="zstd",
                row_group_bytes=SEEK_ROW_GROUP_BYTES,
                meta={"index_positions": cfg.index_positions},
            )
        finally:
            for k, v in old.items():
                if v is not None:
                    self.spark.conf.set(k, v)

    # ------------------------------------------------------------------ #
    def _stage_termstats(self) -> dict:
        stats = self.storage.read_stage(self.spark, "stats").collect()[0]
        maxdoc = int(stats["maxdoc"])
        post = self.storage.read_stage(self.spark, "postings", POSTINGS_SCHEMA)
        ts = (
            post.groupBy("term")
            .agg(
                F.sum("entry_count").alias("df"),
                F.sum("block_ttf").alias("ttf"),
                F.max(F.col("block_max_ub")).alias("max_ub"),
            )
            # float32 idf exactly as BM25Similarity.cs:67-70: double math,
            # one (float) cast — Spark's cast(double as float) is the same
            # round-to-nearest conversion as the C# (float) cast
            .withColumn(
                "idf",
                F.log(
                    F.lit(1.0)
                    + (F.lit(float(maxdoc)) - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                ).cast("float"),
            )
        )
        return self.storage.write_stage(
            ts, "termstats", self._fp(),
            range_partition_column="term", sort_columns=["term"],
            row_group_bytes=SEEK_ROW_GROUP_BYTES,
        )

    def _stage_lineage(self) -> dict:
        """Per-partition audit counters (doc/byte/posting), the resume/
        lineage contract: Σ over pids must equal the table totals
        (CheckIndex analogue, asserted by checkindex.verify)."""
        partials = self.storage.read_stage(self.spark, "partials", PARTIALS_SCHEMA)
        docs = (
            partials.filter(F.col("row_type") == "d")
            .groupBy("pid")
            .agg(
                F.count(F.lit(1)).alias("doc_count"),
                F.sum("text_bytes").alias("byte_count"),
                F.sum("doclen").alias("token_count"),
            )
        )
        posts = (
            partials.filter(F.col("row_type") == "p")
            .groupBy("pid")
            .agg(
                F.sum(F.size("docids")).alias("posting_count"),
                (F.max("seg") + 1).alias("seg_count"),
            )
        )
        lineage = docs.join(posts, "pid", "left")
        return self.storage.write_stage(lineage, "lineage", self._fp())


def _arrow_partials_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("row_type", pa.string()),
            ("pid", pa.int32()),
            ("seg", pa.int32()),
            ("docid", pa.int64()),
            ("url", pa.string()),
            ("doclen", pa.int32()),
            ("norm_byte", pa.int32()),
            ("text_bytes", pa.int64()),
            ("term", pa.string()),
            ("docids", pa.list_(pa.int64())),
            ("freqs", pa.list_(pa.int32())),
            ("norm_bytes", pa.list_(pa.int32())),
            ("doclens", pa.list_(pa.int32())),
            ("positions", pa.list_(pa.int32())),
        ]
    )


_PARTIALS_PA = None


def _partials_pa():
    global _PARTIALS_PA
    if _PARTIALS_PA is None:
        _PARTIALS_PA = _arrow_partials_schema()
    return _PARTIALS_PA


def _checked_docids(rb, prev: int | None) -> np.ndarray:
    """A batch's caller-assigned docids, each non-null and greater than
    the one before it (``prev``: the previous batch's last). Batches arrive
    range-partitioned and sorted by docid, so equal docids meet in one
    partition, adjacent."""
    col = rb.column("docid")
    if col.null_count:
        url = rb.column("url").filter(col.is_null())[0].as_py()
        raise ValueError(f"null docid (url {url!r}); external docids must be set")
    docids = col.to_numpy(zero_copy_only=False).astype(np.int64)
    seq = docids if prev is None else np.concatenate(([prev], docids))
    bad = np.flatnonzero(np.diff(seq) <= 0)
    if len(bad):
        raise ValueError(
            f"docid {seq[bad[0] + 1]} is not greater than the docid before it "
            f"({seq[bad[0]]}); external docids must be unique"
        )
    return docids


def _const_str(value: str, n: int):
    """Run-length string column without n Python objects (dictionary array)."""
    import pyarrow as pa

    return pa.DictionaryArray.from_arrays(
        pa.array(np.zeros(n, dtype=np.int32)), pa.array([value])
    ).cast(pa.string())


def _null_cols(names: list[str]):
    import pyarrow as pa

    schema = _partials_pa()

    def make(n: int):
        return [pa.nulls(n, schema.field(name).type) for name in names]

    return make


def _list_array(offsets: np.ndarray, values, value_type=None):
    """ListArray from int64 entry offsets + flat values, zero-copy."""
    import pyarrow as pa

    v = pa.array(values) if not isinstance(values, pa.Array) else values
    return pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32), pa.int32()), v)


def _invert_codes(
    codes: np.ndarray,
    uniques: np.ndarray,
    docs: np.ndarray,
    pos: np.ndarray,
    norms: np.ndarray,
    dlens: np.ndarray,
    pid: int,
    seg: int,
    index_positions: bool,
):
    """Vectorized in-partition inversion: flat (term-code, doc, pos, norm)
    arrays -> one partial posting row per term, emitted as ONE Arrow
    RecordBatch (list columns built from offsets, zero per-term Python work
    beyond the unique-term strings). The int lexsort replaces the
    reference's TermsHash byte-slice accumulation
    (FreqProxTermsWriterPerField.cs:155-251)."""
    import pyarrow as pa

    order = np.lexsort((pos, docs, codes))
    t = codes[order]
    d = docs[order]
    p = pos[order]
    nb = norms[order]
    dl = dlens[order]

    # boundaries of (term, doc) runs -> postings entries
    entry_change = np.empty(len(t), dtype=bool)
    entry_change[0] = True
    np.not_equal(t[1:], t[:-1], out=entry_change[1:])
    doc_change = np.empty(len(t), dtype=bool)
    doc_change[0] = True
    np.not_equal(d[1:], d[:-1], out=doc_change[1:])
    is_entry = entry_change | doc_change
    entry_starts = np.flatnonzero(is_entry)
    entry_ends = np.append(entry_starts[1:], len(t))
    entry_freqs = (entry_ends - entry_starts).astype(np.int64)
    entry_docs = d[entry_starts]
    entry_norms = nb[entry_starts]
    entry_dlens = dl[entry_starts]
    entry_terms = t[entry_starts]

    # boundaries of term runs over the entries
    term_change = np.empty(len(entry_terms), dtype=bool)
    term_change[0] = True
    np.not_equal(entry_terms[1:], entry_terms[:-1], out=term_change[1:])
    term_starts = np.flatnonzero(term_change)
    n_terms = len(term_starts)
    entry_bounds = np.append(term_starts, len(entry_terms))  # per-term entry offsets

    schema = _partials_pa()
    n = n_terms
    cols = [
        _const_str("p", n),
        pa.array(np.full(n, pid, dtype=np.int32)),
        pa.array(np.full(n, seg, dtype=np.int32)),
        pa.nulls(n, pa.int64()),   # docid
        pa.nulls(n, pa.string()),  # url
        pa.nulls(n, pa.int32()),   # doclen
        pa.nulls(n, pa.int32()),   # norm_byte
        pa.nulls(n, pa.int64()),   # text_bytes
        pa.array(uniques[entry_terms[term_starts]]),
        _list_array(entry_bounds, entry_docs),
        _list_array(entry_bounds, entry_freqs.astype(np.int32)),
        _list_array(entry_bounds, entry_norms.astype(np.int32)),
        _list_array(entry_bounds, entry_dlens.astype(np.int32)),
    ]
    if index_positions:
        # flat positions per term: p is sorted by (term, doc, pos), so the
        # token-range slice of a term IS its entry-ordered position stream;
        # per-term offsets into p are the token indices of term boundaries
        tok_bounds = np.append(entry_starts[term_starts], len(t))
        cols.append(_list_array(tok_bounds, p.astype(np.int32)))
    else:
        cols.append(pa.nulls(n, pa.list_(pa.int32())))
    return pa.RecordBatch.from_arrays(cols, schema=schema)


def assign_sorted_docids(
    pages: DataFrame,
    sort_field: str,
    num_partitions: int,
    docid_base: int = 0,
) -> DataFrame:
    """Index-time sort (IndexWriterConfig index sort / SortingMergePolicy —
    Lucene.Net.Misc/Index/Sorter/SortingMergePolicy.cs:44 — re-expressed as
    docid assignment): docids in GLOBAL (sort_field, url) order, dense from
    ``docid_base``.

    Distributed two-phase rank with EXPLICIT bucket bounds — no reliance on
    RangePartitioner's per-RDD sampling, so a crash-resumed stage computes
    the same docids: approx-quantile cut points over the sort key (sampled
    once, a sort-column-only scan) -> deterministic bucket expression
    (#cuts <= key, so EQUAL keys never straddle buckets) -> per-bucket
    counts cumsum'd into base offsets (driver-side, <= P rows) -> window
    rank within each bucket. ONE shuffle of the corpus (the window's hash
    exchange on bucket). Heavy sort-key skew (one value dominating) lands
    in one bucket/window task — the same bound Lucene's sorted merge has on
    a sorted run of equal keys."""
    from pyspark.sql import Window

    key = F.col(sort_field).cast("double")
    keyed = pages.withColumn("__sort_key", key)
    nb = max(2, int(num_partitions))
    cuts = keyed.stat.approxQuantile(
        "__sort_key", [i / nb for i in range(1, nb)], 0.001
    )
    bucket = F.lit(0)
    for c in sorted(set(cuts)):
        bucket = bucket + (F.col("__sort_key") >= F.lit(float(c))).cast("int")
    keyed = keyed.withColumn("__bucket", bucket)
    counts = (
        keyed.groupBy("__bucket").agg(F.count(F.lit(1)).alias("cnt")).toPandas()
    ).sort_values("__bucket")
    # NULL sort keys comparison-propagate to a NULL bucket; off_map[NULL]
    # would then assign NULL docids and silently corrupt the build — the
    # check rides the existing per-bucket count agg, no extra pass
    if counts["__bucket"].isna().any():
        n_null = int(counts.loc[counts["__bucket"].isna(), "cnt"].sum())
        raise ValueError(
            f"sort_field {sort_field!r} has {n_null} NULL value(s); an "
            "index sort needs a total order — fill or filter nulls first"
        )
    offs: dict[int, int] = {}
    acc = int(docid_base)
    for b, c in zip(counts["__bucket"], counts["cnt"]):
        offs[int(b)] = acc
        acc += int(c)
    off_map = F.create_map(
        *[x for kv in offs.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    )
    w = Window.partitionBy("__bucket").orderBy(F.col("__sort_key"), F.col("url"))
    return (
        keyed.withColumn(
            "docid", off_map[F.col("__bucket")] + F.row_number().over(w) - 1
        )
        .drop("__sort_key", "__bucket")
    )


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    config: IndexConfig | None = None,
    overwrite: bool = False,
) -> dict:
    return IndexBuilder(spark, IndexStorage(out_dir), config).build(pages, overwrite=overwrite)


def next_docid_base(index_dir: str) -> int:
    """Next free docid across base + committed deltas (docBase scheme).

    Format-3+ stats metas persist ``next_docid`` (max docid + 1), which stays
    collision-free even after a delete-applying compaction leaves docid gaps.
    Pre-format-3 metas only carry ``maxdoc`` — which for a DELTA generation is
    that generation's own doc count, NOT an absolute bound — so the fallback
    is the original cumulative-sum semantics (generations were stacked
    contiguously, so sum of maxdocs bounds every allocated docid). Taking the
    max of both is safe in mixed-format indexes: it can waste docid range,
    never collide."""
    maxdoc_sum = 0
    next_max = 0
    for d in [index_dir, *IndexStorage(index_dir).delta_dirs()]:
        m = IndexStorage(d).commit_meta("stats")
        maxdoc_sum += int(m["maxdoc"])
        if "next_docid" in m:
            next_max = max(next_max, int(m["next_docid"]))
    return max(maxdoc_sum, next_max)


def stored_config(index_dir: str) -> IndexConfig | None:
    """Reconstruct the IndexConfig an existing index was built with, from
    the full dict recorded in the stats commit meta (older indexes recorded
    only the analyzer identity — reconstruct that subset). None if the
    index has no committed stats stage yet."""
    import dataclasses

    try:
        meta = IndexStorage(index_dir).commit_meta("stats")
    except (FileNotFoundError, OSError, KeyError):
        return None
    d = meta.get("config")
    if d is not None:
        fields = {f.name for f in dataclasses.fields(IndexConfig)}
        d = {k: v for k, v in d.items() if k in fields}
        for k in ("keyword_fields", "docvalue_fields", "text_fields"):
            if k in d and d[k] is not None:
                d[k] = tuple(d[k])
        if d.get("lang_chains"):
            d["lang_chains"] = tuple(tuple(x) for x in d["lang_chains"])
        return IndexConfig(**d)
    am = meta.get("analyzer")
    if am:
        return IndexConfig(
            analyzer=am.get("name", "standard"),
            stop_filter=am.get("stop_filter", True),
            ascii_tokens=am.get("ascii_tokens", False),
            max_token_length=am.get("max_token_length", 255),
        )
    return None


def append_index(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    config: IndexConfig | None = None,
    batch_id: str | int | None = None,
) -> dict:
    """Incremental indexing — the commit-generation analogue of Lucene's
    near-real-time refresh (DirectoryReader.Open(writer),
    DirectoryReader.cs:111): a new batch of pages becomes a fresh delta
    generation under ``<index_dir>/deltas/<gen>``, a self-contained
    mini-index whose docids start at the composite maxdoc (docBase scheme).
    ``Searcher`` unions base + committed deltas and recomputes collection
    statistics at query time, so the appended docs are searchable without
    touching the base tables. A crash mid-append leaves an uncommitted
    generation that the searcher ignores; a re-run with the SAME batch
    resumes it, while a different batch rebuilds from scratch — each stage
    commit marker carries an input-identity fingerprint (count + url hash),
    so a crashed generation's committed stages are never reused for a
    different batch's documents. ``batch_id``: caller-supplied exact input
    identity (the streaming path passes its micro-batch id); when omitted,
    a one-pass count + order-insensitive xxhash64 over ``url`` is used."""
    import os

    deltas0 = IndexStorage(index_dir).delta_dirs()
    next_base = next_docid_base(index_dir)
    gen = len(deltas0)
    delta_dir = os.path.join(index_dir, "deltas", f"{gen:06d}")
    if batch_id is not None:
        extra = f"batch:{batch_id}"
    else:
        # bit_xor: order-insensitive and overflow-free (ANSI-safe) combine
        row = pages.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(url))").alias("h"),
        ).collect()[0]
        extra = f"input:{int(row['n'])}:{int(row['h'] or 0)}"
    # config=None inherits the BASE's recorded config: every generation
    # must share the base's chain/fields or the composite Searcher (which
    # reconstructs ONE analyzer from the base stats) would mis-analyze
    eff_cfg = config or stored_config(index_dir)
    if eff_cfg and eff_cfg.sort_field:
        # a delta's docids start past the base, which would break the
        # sorted index's global docid<->sort-key monotonicity; sorted
        # indexes are rebuilt (or compacted), never appended to
        raise ValueError(
            "append_index is not supported on a sort_field index — "
            "rebuild or compact instead"
        )
    builder = IndexBuilder(
        spark,
        IndexStorage(delta_dir),
        eff_cfg,
        docid_base=next_base,
        fingerprint_extra=extra,
    )
    summary = builder.build(pages)
    summary["delta_dir"] = delta_dir
    summary["docid_base"] = next_base
    return summary


def compact_index(
    spark: SparkSession,
    index_dir: str,
    config: IndexConfig | None = None,
) -> dict:
    """Merge all delta generations back into a single base index — the
    TieredMergePolicy maintenance job (TieredMergePolicy.cs:308-440) at tier
    granularity: every generation's PARTIAL postings (retained on disk
    precisely for this) are unioned — with pids offset per generation so
    global pid order still equals docid order — and replayed through the
    normal merge/stats stages. The compacted index has fresh collection
    stats and block-max metadata, so WAND pruning is valid again.

    The final publish is a per-stage directory swap; on Iceberg this whole
    function is a single snapshot commit. Returns the build summary."""
    from functools import reduce as _reduce

    from .deletes import read_tombstones, tombstone_ops

    base = IndexStorage(index_dir)
    deltas = base.delta_dirs()
    # the delete ops, listed once: the doc rows anti-join their Spark read,
    # the posting strip their driver-side docid array
    ops = tombstone_ops(index_dir)
    tomb = read_tombstones(spark, index_dir, ops)
    if not deltas and tomb is None:
        return {"skipped": True, "reason": "no deltas and no tombstones"}
    # config=None inherits the base's recorded config — compacting an
    # english-chain index with the default would re-stamp the stats meta
    # as 'standard' over stemmed postings (silent recall collapse)
    cfg = config or stored_config(index_dir) or IndexConfig()
    tmp_root = index_dir + ".__compact__"
    st = IndexStorage(tmp_root)
    st.drop()
    builder = IndexBuilder(spark, st, cfg)

    # doc-values ride the 'd' partial rows; every generation shares the
    # base's config (enforced by per-generation fingerprints), so the base's
    # recorded dv_ddl describes them all
    dv_ddl = base.commit_meta("partials").get("dv_ddl", "")
    p_schema = widen_ddl(PARTIALS_SCHEMA, dv_ddl)
    parts = []
    pid_offset = 0
    for d in [index_dir, *deltas]:
        p = IndexStorage(d).read_stage(spark, "partials", p_schema)
        parts.append(p.withColumn("pid", (F.col("pid") + F.lit(pid_offset)).cast("int")))
        pid_offset += int(p.select(F.max("pid")).collect()[0][0] or 0) + 1
    merged = _reduce(lambda a, b: a.unionAll(b), parts)
    n_deleted = 0
    if tomb is not None:
        # physically apply deletes — the "merged away" step of
        # Lucene40LiveDocsFormat.cs:64 / IndexWriter.ForceMergeDeletes:
        # doc rows anti-join out; posting rows drop tombstoned entries in a
        # vectorized Arrow kernel. Stats/termstats then rebuild WITHOUT the
        # deleted docs, so df/avgdl and block-max metadata are fresh.
        merged, n_deleted = _apply_tombstones(merged, tomb, ops, dv_ddl)
        builder.docids_dense = False  # deletion leaves docid gaps
    st.write_stage(
        merged, "partials", cfg.fingerprint(), partition_by=["row_type"],
        meta={"dv_ddl": dv_ddl},
    )
    summary = builder.finish_from_partials()
    summary["deletes_applied"] = n_deleted

    # publish: visibility flips on ONE atomic action — the manifest rename.
    # Before it, readers see base+deltas (old state); after it, every reader
    # rolls the stage swaps forward via recover_pending_compaction() before
    # listing deltas, so a crash anywhere mid-swap can never double-count
    # delta docs (the old failure mode: stages renamed but deltas still
    # listed). On Iceberg this whole block is one snapshot commit.
    base.begin_compaction_publish(
        tmp_root,
        stages=["partials", "docmap", "stats", "postings", "termstats", "lineage"],
        # docoffsets is stale after compaction (docids kept as-is); deltas
        # are merged into the base; applied tombstones are redundant
        drop=["docoffsets", "deltas", "tombstones"],
    )
    base.recover_pending_compaction()
    summary["compacted_generations"] = len(deltas) + 1
    return summary


def _apply_tombstones(
    partials: DataFrame, tomb: DataFrame, ops: list[str], dv_ddl: str = ""
):
    """Strip tombstoned docs out of a partials table: 'd' rows via a
    distributed anti-join with ``tomb``; 'p' rows via an Arrow kernel that
    drops the dead entries from every list column (docids/freqs/
    norm_bytes/doclens) and their position spans (freq == per-entry
    position count addresses the flat stream). The kernel reads the
    delete ``ops`` on the driver as one sorted numpy array (no Spark job)
    — compaction-cycle delete volumes are driver-sized by assumption (the
    Iceberg merge-on-read contract); shard the compaction if that ever
    stops holding. Returns (filtered_df, n_tombstones)."""
    from .deletes import tombstone_docids

    tombs = tombstone_docids(ops)

    d_rows = partials.filter(F.col("row_type") == "d").join(
        F.broadcast(tomb), "docid", "left_anti"
    )

    dv_names = ddl_names(dv_ddl)

    def strip(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        schema = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            if schema is None:
                schema = pa.schema(
                    list(_partials_pa())
                    + [pa.field(f, rb.schema.field(f).type) for f in dv_names]
                )
            dcol = rb.column("docids")
            lens = (
                pc.fill_null(pc.list_value_length(dcol), 0)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            flat_doc = pc.list_flatten(dcol).to_numpy(zero_copy_only=False).astype(np.int64)
            if len(tombs) and len(flat_doc):
                idx = np.searchsorted(tombs, flat_doc)
                np.minimum(idx, len(tombs) - 1, out=idx)
                keep = tombs[idx] != flat_doc
            else:
                keep = np.ones(len(flat_doc), dtype=bool)
            if keep.all():
                # reorder to the output schema: partition-column reads put
                # row_type LAST in input batches, and mapInArrow maps the
                # yielded batch to the declared schema POSITIONALLY
                yield pa.RecordBatch.from_arrays(
                    [rb.column(n) for n in schema.names], schema=schema
                )
                continue
            row_starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
            new_lens = np.add.reduceat(keep, row_starts) if len(flat_doc) else lens
            new_lens[lens == 0] = 0  # reduceat artifacts on empty rows
            row_keep = new_lens > 0
            rk_arrow = pa.array(row_keep)

            freqs_flat = pc.list_flatten(rb.column("freqs")).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            kept_lens = new_lens[row_keep]
            off = np.concatenate([[0], np.cumsum(kept_lens)]).astype(np.int64)

            def rebuild(name, dtype):
                flat = pc.list_flatten(rb.column(name)).to_numpy(
                    zero_copy_only=False
                ).astype(dtype)
                return _list_array(off, pa.array(flat[keep]))

            pos_col = rb.column("positions")
            if pos_col.null_count == rb.num_rows:
                new_pos = pa.nulls(int(row_keep.sum()), pa.list_(pa.int32()))
            else:
                pos_flat = pc.list_flatten(pos_col).to_numpy(
                    zero_copy_only=False
                ).astype(np.int32)
                pos_keep = np.repeat(keep, freqs_flat)
                pos_lens = np.add.reduceat(freqs_flat * keep, row_starts)
                pos_lens[lens == 0] = 0
                pos_off = np.concatenate(
                    [[0], np.cumsum(pos_lens[row_keep])]
                ).astype(np.int64)
                new_pos = _list_array(pos_off, pa.array(pos_flat[pos_keep]))

            cols = [
                rb.column(n).filter(rk_arrow)
                for n in (
                    "row_type", "pid", "seg", "docid", "url",
                    "doclen", "norm_byte", "text_bytes", "term",
                )
            ] + [
                rebuild("docids", np.int64),
                rebuild("freqs", np.int32),
                rebuild("norm_bytes", np.int32),
                rebuild("doclens", np.int32),
                new_pos,
            ] + [rb.column(n).filter(rk_arrow) for n in dv_names]
            yield pa.RecordBatch.from_arrays(cols, schema=schema)

    p_rows = partials.filter(F.col("row_type") == "p").mapInArrow(
        strip, schema=widen_ddl(PARTIALS_SCHEMA, dv_ddl)
    )
    return d_rows.unionByName(p_rows), len(tombs)
