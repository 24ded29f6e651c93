"""Index build configuration.

The knobs mirror the reference's defaults where a counterpart exists
(BASELINE.md table): BM25 k1=1.2 b=0.75
(BM25Similarity.cs:59-63). The knobs without a counterpart encode the
Spark-first re-design:

- ``num_partitions``: build parallelism P — the analogue of the number of
  DocumentsWriterPerThread instances. docids are a pure function of
  (url, P), so P is part of the index identity and recorded in the commit
  metadata.
- ``flush_docs``: per-partition sub-segment flush interval — the analogue of
  the 16MB RAM buffer flush (IndexWriterConfig.cs:90): bounds builder UDF
  memory on wide partitions by emitting partial postings every N docs.
- ``bucket_width``: salt width for the merge shuffle — the analogue of
  TieredMergePolicy's maxMergeAtOnce (TieredMergePolicy.cs:82-89): a hot
  (stopword) term's partials are grouped per (term, pid//bucket_width)
  instead of per term, so no single task ever materializes a full
  stopword posting list. Because each input partition owns a CONTIGUOUS
  docid range, buckets of consecutive pids also own contiguous ranges and
  the global posting list is the bucket-ordered union of bucket-local
  block rows — no second merge round needed.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class IndexConfig:
    num_partitions: int = 32
    bucket_width: int = 4
    flush_docs: int = 50_000
    index_positions: bool = True
    k1: float = 1.2
    b: float = 0.75
    max_token_length: int = 255
    # merge-stage task count; None -> spark.sql.shuffle.partitions.
    # SIZE THIS AT SCALE: one merge task materializes ~(corpus postings /
    # merge_partitions) entries in Arrow batches whose list offsets are
    # int32 — keep a task's flattened entry count under ~500M (and its
    # memory under a few GB) by growing merge_partitions linearly with the
    # corpus; term-range partitioning keeps the output term-sorted at any
    # task count, and bucket salting already bounds any single GROUP.
    merge_partitions: int | None = None
    # apply the reference's 33-word English StopFilter (StopAnalyzer.cs:52-58).
    # False -> keyword-style chain (tokenize+lowercase only), used when the
    # index must agree with an external SQL oracle that has no stop list.
    stop_filter: bool = True
    # tokenize as maximal [a-z0-9] runs instead of Unicode letter/digit runs
    # — exact parity with SQL oracles that split on [^a-z0-9]+ regardless of
    # input script (see analysis/analyzer.py TOKEN_RE_PYTHON_ASCII).
    ascii_tokens: bool = False
    # extra input columns indexed as KEYWORD fields — the StringField
    # analogue (Document/StringField.cs:43: indexed, NOT analyzed): each
    # non-null value becomes ONE posting under the namespaced term
    # "<field>:<value>" (FieldInfos.cs per-field separation, realized as a
    # term-key prefix so the single term-sorted postings table serves every
    # field: Parquet min/max seek, merge salting and termstats all apply
    # unchanged). The ':' namespace cannot collide with text terms (the
    # analyzer never emits ':'). Keyword postings score with norms omitted
    # (BM25Similarity with norms==null: score = idf since tf==1).
    keyword_fields: tuple[str, ...] = ()
    # extra input columns indexed as ANALYZED text fields — the multi-field
    # TextField analogue (Document/TextField.cs:38 + FieldInfos per-field
    # norms; the MultiFieldQueryParser target shape, e.g. title + body):
    # each extra field runs the SAME analysis chain, its terms are stored
    # under the namespaced key "<field>:<term>" (one term-sorted postings
    # table serves every field), and its postings carry the FIELD'S OWN
    # doclen/norm bytes. Per-field length totals ride the docmap as
    # auto-added ``__dl_<field>`` doc-values, so stats records a per-field
    # sum_ttf/avgdl and TermQuery(field=...) scores BM25 with that field's
    # length normalization. v0 scope: Term/Boolean/Dismax/Phrase
    # (exact+slop) on extra fields; Spans stay default-field and
    # multi-term rewrites score norms-omitted.
    text_fields: tuple[str, ...] = ()
    # extra input columns stored as DOC-VALUES in the docmap — the
    # NumericDocValuesField / SortedDocValuesField analogue
    # (Index/DocValues.cs, Document/Field.cs doc-values kinds): the column
    # rides the 'd' partial rows into the docid-sorted docmap Parquet, where
    # NumericRangeQuery (NumericRangeQuery.cs:97-166) compiles to a pushed-
    # down scan predicate and Searcher.search_sorted (Sort.cs:100-112)
    # orders by it. Types come from the input schema at build time and are
    # recorded in the stage commit metas (``dv_ddl``), so readers
    # reconstruct the widened schema without re-inference. Typical webtext
    # fields: warc_ts (crawl time range filters), lang.
    docvalue_fields: tuple[str, ...] = ()
    # analysis chain (SURVEY §2.1): "standard" (default),
    # "english" (StandardAnalyzer + Porter stemmer at the dictionary-encode
    # step — Analysis/En/PorterStemFilter.cs), "ascii_folding" (accent
    # folding at the same step — Miscellaneous/ASCIIFoldingFilter.cs),
    # "simple", "stop", "whitespace", "keyword". Part of the fingerprint:
    # an index is only
    # readable by queries analyzed with the SAME chain, so the name is also
    # recorded in the stats commit meta for the Searcher to reconstruct.
    analyzer: str = "standard"
    # bump on any change to the stage schemas / on-disk layout: the value is
    # part of the fingerprint, so committed stages from an older layout are
    # rebuilt instead of misread on resume
    format_version: int = 3  # 3: UAX#29 CJK tokenizer classes
    # docids supplied by the caller in a ``docid`` column of the input
    # (pre-assigned, globally unique, order-meaningful) instead of the
    # hash-partition + offset scheme. The build then range-partitions on
    # docid so each partition owns a contiguous docid range — the same
    # contiguity contract the merge relies on.
    external_docids: bool = False
    # index-time sort (IndexWriterConfig index sort / SortingMergePolicy
    # analogue — Lucene.Net.Misc/Index/Sorter/SortingMergePolicy.cs): assign
    # docids in GLOBAL (sort_field, url) order, so docid order == sort-key
    # order. A range filter on the sort field then selects one CONTIGUOUS
    # docid interval, and the Searcher prunes posting BLOCKS by their
    # [first_docid, last_docid] skip metadata before scoring — pushed into
    # the Parquet footer scan, the early-termination trick time-ordered
    # webtext indexes live on. Implies the external-docids build path
    # (docids are pre-assigned by rank); appending a delta would break the
    # global monotonicity, so sorted indexes are rebuilt or compacted, not
    # appended to (enforced in append_index).
    sort_field: str | None = None
    # per-document analysis-chain routing (PerFieldAnalyzerWrapper's
    # per-DOCUMENT sibling for multilingual corpora): ``lang_field`` names
    # an input column holding a language code; ``lang_chains`` maps code ->
    # chain name ((("fr", "french"), ("en", "english")), tuples for
    # hashability). Documents whose code matches a route are analyzed by
    # that chain (tokens, stop list, term filter, doclen/norms all from
    # it); everything else uses the default ``analyzer``. One index serves
    # the mixed corpus — terms share the single term-sorted postings table,
    # and query-side analysis picks the chain via
    # Searcher.analyzer_for_lang(code). v1 scope: incompatible with
    # text_fields (extra-field suffix filtering is chain-global).
    lang_field: str | None = None
    lang_chains: tuple[tuple[str, str], ...] = ()

    def fingerprint(self) -> str:
        """Stable hash of the config — stamped into every stage's commit
        marker so a resume never mixes artifacts from different configs.
        Fields ADDED after format_version 3 are dropped at their default so
        indexes committed before the field existed keep their identity; the
        block size and merge batch, fields once, are now builder constants
        and stay hashed under their old names."""
        from .builder import BLOCK_SIZE, MERGE_READER_BATCH_SIZE

        d = asdict(self)
        d.update(block_size=BLOCK_SIZE, merge_reader_batch_size=MERGE_READER_BATCH_SIZE)
        if d.get("sort_field") is None:
            d.pop("sort_field", None)
        if not d.get("text_fields"):
            d.pop("text_fields", None)
        if d.get("lang_field") is None:
            d.pop("lang_field", None)
        if not d.get("lang_chains"):
            d.pop("lang_chains", None)
        return hashlib.sha256(
            json.dumps(d, sort_keys=True).encode()
        ).hexdigest()[:16]

    def to_dict(self) -> dict:
        return asdict(self)
