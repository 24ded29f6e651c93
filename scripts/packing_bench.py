"""Measure the ForUtil question (SURVEY §2.2 / VERDICT missing #6):
is an EXPLICIT varint/FoR-packed ``binary`` posting-block column smaller or
faster than the v0 choice (plain ``array<long>`` deltas + Parquet's own
dictionary/RLE encodings + zstd)?

The reference packs postings as 128-int Frame-of-Reference blocks + vInt
tails (src/Lucene.Net/Codecs/Lucene41/ForUtil.cs:38,106-165,
Lucene41PostingsWriter.cs:302-358). Parquet already applies
RLE/bit-packing/dictionary + zstd on list columns, so the v0 design
delegated packing to the format. This script measures both:

- BYTES: the postings stage rewritten three ways (array<long> deltas as-is;
  LEB128 varint binary; fixed-width FoR binary), same zstd compression.
- DECODE: time to reconstruct flat docid arrays per block batch
  (Arrow list -> numpy concat vs numpy-vectorized LEB128 decode).

Writes the result table to stdout; the curated summary lands in
BENCH/BASELINE.md. Usage: python scripts/packing_bench.py [index_dir]
(defaults to building a fresh 200k-doc synthetic index in /tmp).
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def varint_encode_rows(flat: np.ndarray, row_lens: np.ndarray) -> list[bytes]:
    """LEB128-encode a flat int64 array split into rows — vectorized: all
    bytes of the batch are materialized with numpy masks, then sliced per
    row."""
    v = flat.astype(np.uint64)
    nbytes = np.ones(len(v), dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    # byte positions: for value i, bytes at offsets[i]..offsets[i]+nbytes[i]
    offs = np.concatenate([[0], np.cumsum(nbytes)[:-1]])
    work = v.copy()
    for b in range(int(nbytes.max())):
        mask = nbytes > b
        idx = offs[mask] + b
        byte = (work[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[mask] - 1 > b).astype(np.uint8) << 7
        out[idx] = byte | cont
        work[mask] >>= np.uint64(7)
    # split into per-row buffers
    row_byte_lens = np.add.reduceat(
        nbytes, np.concatenate([[0], np.cumsum(row_lens)[:-1]])
    ) if len(row_lens) else np.array([], dtype=np.int64)
    row_byte_lens = np.where(row_lens > 0, row_byte_lens, 0)
    bounds = np.concatenate([[0], np.cumsum(row_byte_lens)])
    buf = out.tobytes()
    return [buf[bounds[i]: bounds[i + 1]] for i in range(len(row_lens))]


def varint_decode_flat(bufs: list[bytes]) -> np.ndarray:
    """Vectorized LEB128 decode of concatenated row buffers -> flat int64."""
    raw = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    if len(raw) == 0:
        return np.array([], dtype=np.int64)
    is_end = (raw & 0x80) == 0
    ends = np.flatnonzero(is_end)
    starts = np.concatenate([[0], ends[:-1] + 1])
    n = len(ends)
    vals = np.zeros(n, dtype=np.uint64)
    width = ends - starts + 1
    for b in range(int(width.max())):
        mask = width > b
        idx = starts[mask] + b
        vals[mask] |= (raw[idx].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(7 * b)
    return vals.astype(np.int64)


def for_encode_rows(flat: np.ndarray, row_lens: np.ndarray) -> list[bytes]:
    """Frame-of-Reference per block row: 1 byte bpv + ceil(len*bpv/8) packed
    bytes (bpv = bits of the max delta in the row — ForUtil.cs:38)."""
    out = []
    bounds = np.concatenate([[0], np.cumsum(row_lens)])
    for i in range(len(row_lens)):
        vals = flat[bounds[i]: bounds[i + 1]].astype(np.uint64)
        if len(vals) == 0:
            out.append(b"\x00")
            continue
        mx = int(vals.max())
        bpv = max(1, mx.bit_length())
        bits = ((vals[:, None] >> np.arange(bpv, dtype=np.uint64)) & np.uint64(1)).astype(np.uint8)
        packed = np.packbits(bits.reshape(-1))
        out.append(bytes([bpv]) + packed.tobytes())
    return out


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from lucenenet_spark.data.pages import pages_spark_df_distributed
    from lucenenet_spark.index import IndexConfig, build_index
    from lucenenet_spark.index.builder import POSTINGS_SCHEMA
    from lucenenet_spark.index.storage import IndexStorage

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    if len(sys.argv) > 1:
        idx = sys.argv[1]
    else:
        idx = "/tmp/packing_bench_idx"
        if not os.path.exists(os.path.join(idx, "postings")):
            pages = pages_spark_df_distributed(spark, 200_000, seed=42, num_partitions=16)
            build_index(spark, pages, idx, IndexConfig(num_partitions=16), overwrite=True)

    post = IndexStorage(idx).read_stage(spark, "postings", POSTINGS_SCHEMA)
    pdf = post.select("term", "bucket", "block_id", "docid_deltas", "freqs").toPandas()
    row_lens = pdf["docid_deltas"].map(len).to_numpy(np.int64)
    flat = np.concatenate([np.asarray(x, np.int64) for x in pdf["docid_deltas"]])
    flat_f = np.concatenate([np.asarray(x, np.int64) for x in pdf["freqs"]])
    n_entries = int(row_lens.sum())

    # ---- encode timings ---------------------------------------------------
    t0 = time.time()
    vi_docs = varint_encode_rows(flat, row_lens)
    vi_freqs = varint_encode_rows(flat_f, row_lens)
    t_vi_enc = time.time() - t0
    t0 = time.time()
    for_docs = for_encode_rows(flat, row_lens)
    t_for_enc = time.time() - t0

    # ---- decode timings (5 reps, median) ---------------------------------
    def timed(fn, reps=5):
        ts = []
        for _ in range(reps):
            t = time.time()
            fn()
            ts.append(time.time() - t)
        return sorted(ts)[len(ts) // 2]

    t_arrow = timed(lambda: np.concatenate(
        [np.asarray(x, np.int64) for x in pdf["docid_deltas"]]
    ))
    t_vi_dec = timed(lambda: varint_decode_flat(vi_docs))
    got = varint_decode_flat(vi_docs)
    assert np.array_equal(got, flat), "varint roundtrip mismatch"

    # ---- on-disk bytes (same writer settings, zstd) ----------------------
    import pandas as pd

    outs = {}
    base = "/tmp/packing_variants"
    os.makedirs(base, exist_ok=True)
    variants = {
        "array_long": pdf,
        "varint_binary": pd.DataFrame({
            "term": pdf["term"], "bucket": pdf["bucket"],
            "block_id": pdf["block_id"],
            "docids_vi": vi_docs, "freqs_vi": vi_freqs,
        }),
        "for_binary": pd.DataFrame({
            "term": pdf["term"], "bucket": pdf["bucket"],
            "block_id": pdf["block_id"],
            "docids_for": for_docs, "freqs_vi": vi_freqs,
        }),
    }
    for name, frame in variants.items():
        path = os.path.join(base, name)
        sdf = spark.createDataFrame(frame)
        sdf.coalesce(4).write.mode("overwrite").option("compression", "zstd").parquet(path)
        size = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path) for f in fs
        )
        outs[name] = size

    print(json.dumps({
        "n_block_rows": len(pdf),
        "n_posting_entries": n_entries,
        "bytes": outs,
        "bytes_per_entry": {k: round(v / n_entries, 3) for k, v in outs.items()},
        "decode_sec_median": {
            "arrow_list_concat": round(t_arrow, 3),
            "varint_numpy": round(t_vi_dec, 3),
        },
        "encode_sec": {"varint": round(t_vi_enc, 3), "for": round(t_for_enc, 3)},
    }, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
