#!/usr/bin/env python
"""Query job entry point, run via spark-submit — the search half of the
pipeline (scripts/build_index.py is the build half):

    spark-submit --master local[32] --py-files lns.zip scripts/search.py \
        --index /path/to/index --query 'tiger AND (burning OR bright)' -k 10

The query string goes through the classic-parser subset
(lucenenet_spark/query/parser.py: fields, phrases, ranges, fuzzy,
parentheses, boosts); results print as one JSON line per hit
(docid, score, rank, url). Nothing assumes local mode — the same
invocation works under yarn/k8s masters.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True, help="index directory")
    ap.add_argument(
        "--query", action="append", required=True,
        help="classic query syntax; repeat the flag to run a BATCH of "
             "queries (Searcher.search_batch)",
    )
    ap.add_argument("-k", type=int, default=10, help="top-k")
    ap.add_argument(
        "--scoring", default="lucene", choices=["lucene", "exact_int"],
        help="lucene = reference-identical float32 BM25",
    )
    ap.add_argument("--wand", action="store_true", help="block-max WAND pruning")
    ap.add_argument(
        "--lang", default=None,
        help="analyze the query with this language's routed chain (an index "
             "built with IndexConfig.lang_chains; e.g. --lang fr stems the "
             "query terms the way fr documents were stemmed at build time)",
    )
    ap.add_argument("--explain", action="store_true", help="explain the top hit")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("lucenenet_spark_search").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from lucenenet_spark.query.engine import Searcher

    s = Searcher(spark, args.index, scoring=args.scoring)
    # query-side analysis MUST use the chain the index was built with
    # (reconstructed from the stats commit meta) — e.g. an --analyzer
    # english index needs the query terms Porter-stemmed too
    if len(args.query) > 1:
        qs = {
            text: s.parse(text, lang=args.lang) for text in args.query
        }
        t0 = time.time()
        rows = (
            s.search_batch(qs, args.k)
            .orderBy("query_id", "rank")
            .collect()
        )
        elapsed = time.time() - t0
        for r in rows:
            print(
                json.dumps(
                    {
                        "query": r["query_id"],
                        "docid": r["docid"],
                        "score": float(r["score"]),
                        "rank": r["rank"],
                    }
                )
            )
        print(
            json.dumps(
                {
                    "queries": len(qs),
                    "hits": len(rows),
                    "elapsed_sec": round(elapsed, 3),
                }
            ),
            file=sys.stderr,
        )
        return 0
    q = s.parse(args.query[0], lang=args.lang)
    t0 = time.time()
    top = s.search(q, args.k, wand=args.wand)
    cols = [c for c in ("docid", "score", "rank") if c in top.columns]
    rows = top.select(*cols).collect()
    elapsed = time.time() - t0
    for r in rows:
        print(json.dumps({c: (float(r[c]) if c == "score" else r[c]) for c in cols}))
    if args.explain and rows:
        print(json.dumps({"explain": s.explain(q, rows[0]["docid"])}, default=str))
    print(
        json.dumps(
            {"query": args.query[0], "hits": len(rows), "elapsed_sec": round(elapsed, 3)}
        ),
        file=sys.stderr,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
