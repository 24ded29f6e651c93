#!/usr/bin/env python
"""Index-build job entry point, run via spark-submit:

    zip -r lns.zip lucenenet_spark
    spark-submit --master local[32] --py-files lns.zip scripts/build_index.py \
        --pages /path/to/pages_parquet --out /path/to/index

On a cluster the same invocation works with ``--master yarn``/k8s — the job
is a pure DataFrame pipeline; nothing assumes local mode. ``--pages-n N``
synthesizes the deterministic pages table instead of reading one (tests /
benchmarks; no external data). Re-running with the same --out resumes from
the last committed stage unless --overwrite is given.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="parquet path of the pages table")
    ap.add_argument("--pages-n", type=int, help="synthesize N pages instead")
    ap.add_argument("--out", required=True)
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument("--bucket-width", type=int, default=4)
    ap.add_argument("--flush-docs", type=int, default=50_000)
    ap.add_argument("--no-positions", action="store_true")
    ap.add_argument(
        "--analyzer", default="standard",
        choices=["standard", "english", "ascii_folding", "simple", "stop",
                 "whitespace", "keyword"],
        help="analysis chain (english = Porter-stemmed, "
             "ascii_folding = accent-folded)",
    )
    ap.add_argument(
        "--keyword-fields", default="",
        help="comma-separated input columns indexed as keyword fields",
    )
    ap.add_argument(
        "--docvalue-fields", default="",
        help="comma-separated input columns stored as doc-values in the docmap",
    )
    ap.add_argument(
        "--from-html", action="store_true",
        help="derive the text column from the raw html payload (Arrow/re2 "
        "extraction) instead of trusting a pre-extracted text column",
    )
    ap.add_argument(
        "--sort-field", default=None,
        help="index-time sort (SortingMergePolicy analogue): assign docids "
        "in global (column, url) order; the column should also be listed "
        "in --docvalue-fields so range filters and sorted search see it",
    )
    ap.add_argument("--overwrite", action="store_true")
    ap.add_argument("--check", action="store_true", help="run CheckIndex after build")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("lucenenet_spark_build").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from lucenenet_spark.data.pages import pages_spark_df
    from lucenenet_spark.index import IndexConfig, build_index

    cfg = IndexConfig(
        num_partitions=args.partitions,
        bucket_width=args.bucket_width,
        flush_docs=args.flush_docs,
        index_positions=not args.no_positions,
        analyzer=args.analyzer,
        keyword_fields=tuple(f for f in args.keyword_fields.split(",") if f),
        docvalue_fields=tuple(f for f in args.docvalue_fields.split(",") if f),
        sort_field=args.sort_field,
    )
    if args.pages:
        pages = spark.read.parquet(args.pages)
    elif args.pages_n:
        pages = pages_spark_df(spark, args.pages_n, seed=42)
    else:
        ap.error("one of --pages / --pages-n is required")

    if args.from_html:
        from lucenenet_spark.analysis.extract import extract_text

        pages = extract_text(
            pages.drop("text") if "text" in pages.columns else pages,
            html_col="html",
            out_col="text",
        )

    t0 = time.time()
    summary = build_index(spark, pages, args.out, cfg, overwrite=args.overwrite)
    elapsed = time.time() - t0
    summary["elapsed_sec"] = round(elapsed, 3)

    if args.check:
        from lucenenet_spark.index.checkindex import verify

        summary["checkindex"] = verify(spark, args.out)

    print(json.dumps(summary, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
