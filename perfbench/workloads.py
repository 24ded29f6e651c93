"""The three workloads. Each drives the engine only through its public
functions and returns a :class:`Run` with end-to-end figures, per-layer
figures (traced runs) and the outcome of its output checks.

Corpus make-up, query mix and seeds are described in README.md.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

from .checks import Checks, equal, topk_mismatch
from .harness import Session, Tracer, dir_bytes, slots, tree_cpu_s
from .reference import STOP_WORDS, Collection

# corpus sizes (documents)
BUILD_DOCS = 20_000
WARMUP_DOCS = 2_000
QUERY_DOCS = 5_000
UPDATE_DOCS = 3_000
# update workload: re-crawl rounds per cycle and urls per round
UPDATE_ROUNDS = 2
UPDATE_BATCH = 100

K = 10
SHAPES = ("term", "and", "or", "phrase", "term_wand", "or_wand")
# a stream round asks each shape once
ROUND = SHAPES
BATCH_SHAPES = ("term", "and", "or", "phrase")
BUILD_STAGES = ("docoffsets", "partials", "docmap", "stats", "postings", "termstats", "lineage")
STORAGE_STAGES = ("partials", "postings", "docmap", "termstats")


@dataclass
class Run:
    setup_done: float = 0.0  # perf_counter when set-up ended
    attempted: int = 0
    failed: int = 0  # an operation that raises ends the run instead
    checks: Checks = field(default_factory=Checks)
    op_p50_s: float = 0.0  # the workload's typical operation time
    items: int = 0  # items completed in the timed part
    timed_s: float = 0.0  # wall time of the timed part
    cpu_s: float = 0.0  # process-tree CPU seconds of the timed part
    report: dict = field(default_factory=dict)  # workload-specific figures
    layers: dict = field(default_factory=dict)  # per-layer figures (traced)


def log(msg: str) -> None:
    """Progress line on standard error, stamped with seconds since start."""
    print(f"[perfbench {time.perf_counter():9.2f}] {msg}", file=sys.stderr, flush=True)


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


@contextmanager
def _cpu(run: Run):
    """Adds the CPU seconds the process tree (driver, JVM, Python workers)
    spends inside the block to ``run.cpu_s``."""
    c0 = tree_cpu_s()
    try:
        yield
    finally:
        run.cpu_s += tree_cpu_s() - c0


def _config():
    from lucenenet_spark.index.config import IndexConfig

    n = slots()
    return IndexConfig(num_partitions=n, merge_partitions=n)


def _pages(spark, n: int, seed: int):
    from lucenenet_spark.data.pages import pages_spark_df_distributed

    return pages_spark_df_distributed(spark, n, seed=seed, num_partitions=slots())


def _reference(pages) -> Collection:
    ref = Collection()
    for r in pages.select("url", "text").orderBy("url").collect():
        ref.add(r["url"], r["text"])
    return ref


def _docids(searcher) -> dict[str, int]:
    """url -> docid of every live document (labelling only)."""
    return {r["url"]: int(r["docid"]) for r in searcher.docmap.select("docid", "url").collect()}


def _stage_layers(run: Run, summaries: list[dict], prefix: str, stages) -> None:
    for st in stages:
        vals = [s["stages"][st]["wall_sec"] for s in summaries if "wall_sec" in s["stages"].get(st, {})]
        run.layers[f"{prefix}.{st}_s"] = _median(vals)


def _spark_token_counts(pages, sample: list[str]) -> tuple[int, int, dict[str, int]]:
    """Independent counts on the raw ``text`` in Spark SQL: total non-stop
    tokens, distinct non-stop tokens summed over documents, and the df of
    each sampled term."""
    from pyspark.sql import functions as F

    toks = pages.select(
        "url", F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("t")
    ).filter((F.col("t") != "") & ~F.col("t").isin(sorted(STOP_WORDS)))
    pairs = toks.groupBy("url", "t").count()
    row = pairs.agg(F.sum("count").alias("ttf"), F.count(F.lit(1)).alias("df")).collect()[0]
    dfs = {t: 0 for t in sample}
    for r in pairs.filter(F.col("t").isin(sample)).groupBy("t").count().collect():
        dfs[r["t"]] = int(r["count"])
    return int(row["ttf"]), int(row["df"]), dfs


def _conserved_checks(run: Run, pages, searcher, seed: int) -> int:
    """Conserved quantities of a built index reached by two paths: the
    index's own statistics against Spark SQL counts on the raw text.
    Returns the independent posting-entry count (sum of df)."""
    from pyspark.sql import functions as F

    from lucenenet_spark.query.ast import TermQuery

    rng = np.random.default_rng([seed, 11])
    sample = [f"w{int(i):05d}" for i in rng.choice(np.arange(20, 2000), size=2, replace=False)]
    ttf, sum_df, dfs = _spark_token_counts(pages, sample)
    ts = searcher.termstats.agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf")).collect()[0]
    c = run.checks
    c.add("maxdoc", equal("maxdoc", searcher.maxdoc, pages.count()))
    c.add("sum_df", equal("sum df over termstats", int(ts["df"]), sum_df))
    c.add("sum_ttf", equal("sum ttf over termstats", int(ts["ttf"]), ttf))
    c.add("sum_ttf_stats", equal("stats sum_ttf", searcher.sum_ttf, ttf))
    for t in sample:
        c.add(f"count({t})", equal("count", searcher.count(TermQuery(t)), dfs[t]))
    return sum_df


# --------------------------------------------------------------------- build #
def build(sess: Session, seed: int, seconds: float, tracer: Tracer) -> Run:
    """``build_index`` over a persisted seeded corpus, after an untimed
    warm-up build of a small corpus."""
    from lucenenet_spark.index.builder import build_index
    from lucenenet_spark.query.engine import Searcher

    spark, cfg, run = sess.spark, _config(), Run()
    pages = _pages(spark, BUILD_DOCS, seed).persist()
    n_rows = pages.count()
    build_index(spark, _pages(spark, WARMUP_DOCS, seed + 1), sess.path("warmup"), cfg, overwrite=True)
    index_dir = sess.path("index")
    run.setup_done = time.perf_counter()

    summaries, spans, times = [], [], []
    t_start = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        with _cpu(run), tracer.span("build_index") as sp:
            summaries.append(build_index(spark, pages, index_dir, cfg, overwrite=True))
        times.append(time.perf_counter() - t0)
        spans.append(sp)
        run.attempted += 1
        run.items += n_rows
        if time.perf_counter() - t_start >= seconds:
            break
    run.timed_s = sum(times)
    run.op_p50_s = _median(times)
    log(f"{run.attempted} builds done")

    sum_df = _conserved_checks(run, pages, Searcher(spark, index_dir), seed)

    index_bytes = dir_bytes(index_dir)
    run.report = {
        "docs": n_rows,
        "builds": run.attempted,
        "build_docs_per_s": {"value": run.items / run.timed_s, "unit": "docs/s"},
        "index_bytes_per_doc": {"value": index_bytes / n_rows, "unit": "B/doc"},
    }
    if tracer.enabled:
        _build_layers(run, summaries, spans, index_dir, sum_df)
    return run


# -------------------------------------------------------------- query stream #
def _tiers(ref: Collection) -> dict[str, list[str]]:
    """Terms by document frequency: head = the 30 most frequent, torso =
    ranks 100-600, tail = ranks 1500-3500 (df >= 2)."""
    vocab = ref.vocabulary()
    dfs = np.array([ref.df(t) for t in vocab])
    order = [vocab[i] for i in np.lexsort((np.array(vocab), -dfs))]
    df_of = dict(zip(vocab, dfs.tolist()))
    return {
        "head": order[:30],
        "torso": order[100:600],
        "tail": [t for t in order[1500:3500] if df_of[t] >= 2],
    }


def _bigram(ref: Collection, rng) -> list[str]:
    """Two non-stop tokens at adjacent positions of a random document."""
    while True:
        d = int(rng.integers(ref.maxdoc))
        toks, pos = ref.document(d)
        adj = [i for i in range(len(pos) - 1) if pos[i + 1] == pos[i] + 1]
        if adj:
            i = adj[int(rng.integers(len(adj)))]
            return [toks[i], toks[i + 1]]


def _query(shape: str, tiers, ref: Collection, rng) -> tuple[str, list[str], bool]:
    """(query string, terms, wand) for one seeded query of ``shape``."""
    pick = lambda tier: tiers[tier][int(rng.integers(len(tiers[tier])))]  # noqa: E731
    base, wand = shape.removesuffix("_wand"), shape.endswith("_wand")
    if base == "term":
        terms = [pick("head" if wand else "tail")]
        return terms[0], terms, wand
    if base == "and":
        terms = [pick("head"), pick("torso")]
        return f"{terms[0]} AND {terms[1]}", terms, wand
    if base == "or":
        terms = [pick("head"), pick("torso"), pick("tail")]
        return " ".join(terms), terms, wand
    terms = _bigram(ref, rng)
    return f'"{terms[0]} {terms[1]}"', terms, wand


def _timed_query(searcher, tracer: Tracer, qid: str, qstr: str, terms, k: int, wand: bool):
    """parse + search + collect; returns (rows, seconds, query span)."""
    t0 = time.perf_counter()
    with tracer.span("query", qid=qid) as qsp:
        with tracer.span("query.parser.parse"):
            q = searcher.parse(qstr)
        if tracer.enabled:
            # traced runs time the term-statistics lookup on its own; the
            # search below repeats it internally
            with tracer.span("query.engine.term_stats"):
                searcher.term_stats(terms)
        with tracer.span("query.engine.plan"):
            df = searcher.search(q, k=k, wand=wand)
        with tracer.span("query.engine.execute"):
            rows = df.collect()
    return [(int(r["docid"]), r["score"]) for r in rows], time.perf_counter() - t0, qsp


def _query_layers(run: Run, tracer: Tracer, qspans: list[tuple[str, dict]]) -> None:
    """Per-query layer medians and per-shape latency / job counts from the
    query spans (the extra term-statistics span is excluded from latency,
    jobs and CPU)."""
    kids = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], {})[s["name"]] = s
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    per = {n: [] for n in ("parse", "term_stats", "plan", "execute")}
    by_shape = {sh: ([], []) for sh in SHAPES}
    cpu = []
    for shape, sp in qspans:
        ch = kids[sp["id"]]
        per["parse"].append(dur(ch["query.parser.parse"]))
        per["term_stats"].append(dur(ch["query.engine.term_stats"]))
        per["plan"].append(dur(ch["query.engine.plan"]))
        per["execute"].append(dur(ch["query.engine.execute"]))
        used = [ch["query.parser.parse"], ch["query.engine.plan"], ch["query.engine.execute"]]
        by_shape[shape][0].append(sum(map(dur, used)))
        by_shape[shape][1].append(sum(len(u["jobs"]) for u in used))
        cpu.append(sum(u["cpu_s"] for u in used))
    run.layers["query.parser.parse_s"] = _median(per["parse"])
    for n in ("term_stats", "plan", "execute"):
        run.layers[f"query.engine.{n}_s"] = _median(per[n])
    for sh, (lat, jobs) in by_shape.items():
        run.layers[f"query.engine.latency.{sh}_s"] = _median(lat)
        run.layers[f"query.engine.spark_jobs.{sh}"] = _median(jobs)
    run.layers["query.engine.cpu_s_per_query"] = _median(cpu)


def _setup_index(sess: Session, n: int, seed: int, tracer: Tracer):
    """Builds the seeded corpus into an index (set-up work) and the
    reference collection over the same text."""
    from lucenenet_spark.index.builder import build_index

    pages = _pages(sess.spark, n, seed).persist()
    index_dir = sess.path("index")
    with tracer.span("build_index") as sp:
        summary = build_index(sess.spark, pages, index_dir, _config(), overwrite=True)
    log("set-up index built")
    ref = _reference(pages)
    log("reference collection ready")
    return pages, index_dir, summary, sp, ref


def _build_layers(run: Run, summaries: list[dict], spans: list[dict], index_dir: str, entries: int) -> None:
    """Builder and storage layers of ``build_index`` calls and the index
    they left; ``entries`` is the independently counted posting entries."""
    _stage_layers(run, summaries, "index.builder.stage", BUILD_STAGES)
    run.layers["index.builder.spark_jobs"] = _median([len(sp["jobs"]) for sp in spans])
    run.layers["index.builder.cpu_s"] = _median([sp["cpu_s"] for sp in spans])
    for st in STORAGE_STAGES:
        run.layers[f"index.storage.{st}_bytes"] = dir_bytes(os.path.join(index_dir, st))
    run.layers["index.postings_bytes_per_entry"] = run.layers["index.storage.postings_bytes"] / entries


def _stream_round(searcher, tracer: Tracer, tiers, ref: Collection, rng, tag: str) -> list:
    """One query per entry of ``ROUND``: [(shape, query, terms, rows,
    seconds, span)]."""
    out = []
    for shape in ROUND:
        qstr, terms, wand = _query(shape, tiers, ref, rng)
        rows, secs, sp = _timed_query(searcher, tracer, f"{tag}-{shape}", qstr, terms, K, wand)
        out.append((shape, qstr, terms, rows, secs, sp))
    return out


def _batch(searcher, tracer: Tracer, queries) -> tuple[list[list], dict]:
    """Parse + ``search_batch`` + collect: the hits of each query in order,
    and the call's span."""
    with tracer.span("query.engine.search_batch") as span:
        parsed = {str(i): searcher.parse(qstr) for i, (_, qstr, _, _) in enumerate(queries)}
        rows = searcher.search_batch(parsed, k=K).collect()
    got = [[] for _ in queries]
    for row in sorted(rows, key=lambda x: (int(x["query_id"]), x["rank"])):
        got[int(row["query_id"])].append((int(row["docid"]), row["score"]))
    return got, span


def query_stream(sess: Session, seed: int, seconds: float, tracer: Tracer) -> Run:
    """One closed-loop client: rounds of the six query shapes through
    ``Searcher.parse`` + ``search(k=10)``, then one ``search_batch``."""
    from lucenenet_spark.query.engine import Searcher

    run = Run()
    pages, index_dir, summary, bsp, ref = _setup_index(sess, QUERY_DOCS, seed, tracer)
    searcher = Searcher(sess.spark, index_dir)
    docid_of = _docids(searcher)
    tiers = _tiers(ref)
    log("docids and tiers ready")
    batch_rng = np.random.default_rng([seed, 2])
    batch = [(sh, *_query(sh, tiers, ref, batch_rng)) for sh in BATCH_SHAPES]
    # warm-up, untimed and untraced: one round of its own terms, so that no
    # timed query meets a cold JVM code path or Python worker
    _stream_round(searcher, Tracer(None), tiers, ref, np.random.default_rng([seed, 5]), "warmup")
    log("warm-up done")
    run.setup_done = time.perf_counter()
    if tracer.enabled:
        _build_layers(run, [summary], [bsp], index_dir, ref.sum_df())

    results = []
    with _cpu(run):
        t_start = time.perf_counter()
        while True:
            rnd = len(results) // len(ROUND)
            results += _stream_round(searcher, tracer, tiers, ref, np.random.default_rng([seed, 1, rnd]), f"r{rnd}")
            if time.perf_counter() - t_start >= seconds:
                break
        t0 = time.perf_counter()
        brows, batch_span = _batch(searcher, tracer, batch)
        batch_s = time.perf_counter() - t0
    lat = [secs for *_, secs, _ in results]
    stream_s = sum(lat)
    run.attempted += len(lat) + len(batch)

    by_shape = {sh: [secs for shape, *_, secs, _ in results if shape == sh] for sh in SHAPES}
    run.op_p50_s = statistics.fmean(_median(v) for v in by_shape.values())
    run.items = len(lat) + len(batch)
    run.timed_s = stream_s + batch_s

    log(f"stream of {len(lat)} queries and batch done")
    for shape, qstr, terms, rows, _, _ in results:
        run.checks.add(f"{shape} {qstr}", topk_mismatch(rows, ref.topk(shape.removesuffix("_wand"), terms, K, docid_of)))
    for (shape, qstr, terms, _), rows in zip(batch, brows):
        run.checks.add(f"batch {qstr}", topk_mismatch(rows, ref.topk(shape, terms, K, docid_of)))
    _conserved_checks(run, pages, searcher, seed)

    run.report = {
        "stream_latencies_s": [(shape, secs) for shape, *_, secs, _ in results],
        "batch_s": batch_s,
        "stream_queries": len(lat),
        "batch_queries": len(batch),
        "query_p50_s": {"value": _median(lat), "unit": "s"},
        "shape_p50_s": {sh: _median(v) for sh, v in by_shape.items()},
        "batch_qps": {"value": len(batch) / batch_s, "unit": "queries/s"},
    }
    if tracer.enabled:
        _query_layers(run, tracer, [(shape, sp) for shape, *_, sp in results])
        run.layers["query.engine.batch_spark_jobs"] = len(batch_span["jobs"])
    return run


# -------------------------------------------------------------------- update #
def _recrawl_pages(spark, ids: list[int], seed: int, marker: str):
    """New versions of the pages with the given ids: freshly generated text
    carrying ``marker`` as its last token, under the old urls."""
    from pyspark.sql import functions as F

    fresh = _pages(spark, len(ids), seed)
    local = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("int")
    target = F.element_at(F.array(*[F.lit(int(i)) for i in ids]), local + 1)
    return fresh.withColumn(
        "url", F.format_string("https://site%04d.example/p/%08d", target % 997, target)
    ).withColumn("text", F.concat_ws(" ", "text", F.lit(marker)))


def update(sess: Session, seed: int, seconds: float, tracer: Tracer) -> Run:
    """Cycles of re-crawl rounds (delete the old versions, append the new
    ones, reopen the Searcher, query the round's marker on the composite
    tombstoned index), one disjunction on the composite, then one
    compaction and the disjunction again, unpruned and with WAND."""
    from lucenenet_spark.index.builder import append_index, compact_index
    from lucenenet_spark.index.deletes import delete_by_urls
    from lucenenet_spark.query.engine import Searcher

    spark, run = sess.spark, Run()
    pages, index_dir, summary, bsp, ref = _setup_index(sess, UPDATE_DOCS, seed, tracer)
    all_urls = sorted(ref.urls)
    perm = np.random.default_rng([seed, 3]).permutation(UPDATE_DOCS)
    tiers = _tiers(ref)
    pages.unpersist()
    run.setup_done = time.perf_counter()
    if tracer.enabled:
        _build_layers(run, [summary], [bsp], index_dir, ref.sum_df())

    rounds, comp_lat, comp_spans, append_sums = [], [], [], []
    deletes, appends, opens, compact_times, compact_spans = [], [], [], [], []
    compact_summaries, compacted_or = [], []
    c = run.checks

    def composite_query(tag, shape, qstr, terms, k):
        with _cpu(run):
            rows, secs, sp = _timed_query(searcher, tracer, tag, qstr, terms, k, False)
        comp_lat.append(secs)
        comp_spans.append((shape, sp))
        run.attempted += 1
        c.add(f"{tag} {qstr}", topk_mismatch(rows, ref.topk(shape, terms, k, docid_of)))
        return rows

    t_start = time.perf_counter()
    cycle = 0
    while True:
        for rnd in range(UPDATE_ROUNDS):
            chunk = cycle * UPDATE_ROUNDS + rnd
            ids = sorted(int(i) for i in perm[chunk * UPDATE_BATCH:(chunk + 1) * UPDATE_BATCH])
            marker = f"zrecrawl{chunk}"
            newp = _recrawl_pages(spark, ids, seed + 1000 * (chunk + 1), marker).persist()
            fresh = newp.select("url", "text").collect()
            urls = sorted(r["url"] for r in fresh)

            with _cpu(run):
                t0 = time.perf_counter()
                with tracer.span("index.deletes.delete_by_urls"):
                    delete_by_urls(spark, index_dir, urls)
                t1 = time.perf_counter()
                with tracer.span("index.builder.append_index"):
                    append_sums.append(append_index(spark, newp, index_dir))
                t2 = time.perf_counter()
                with tracer.span("query.engine.open"):
                    searcher = Searcher(spark, index_dir)
                t3 = time.perf_counter()
            rounds.append(t3 - t0)
            deletes.append(t1 - t0)
            appends.append(t2 - t1)
            opens.append(t3 - t2)
            run.attempted += 3
            newp.unpersist()

            # the reference under liveDocs semantics: old versions stay in
            # the statistics, new versions join them
            ref.delete_urls(urls)
            for r in fresh:
                ref.add(r["url"], r["text"])
            docid_of = _docids(searcher)
            c.add(f"round {chunk} live docs", equal("live docs", len(docid_of), UPDATE_DOCS))
            c.add(f"round {chunk} urls", equal("live urls", sorted(docid_of) == all_urls, True))
            hits = composite_query(f"round {chunk}", "term", marker, [marker], UPDATE_BATCH + 1)
            url_of = {d: u for u, d in docid_of.items()}
            c.add(f"round {chunk} marker", equal("marker urls", sorted(url_of[d] for d, _ in hits), urls))
            log(f"round {chunk} done")

        qstr, terms, _ = _query("or", tiers, ref, np.random.default_rng([seed, 4, cycle]))
        composite_query(f"cycle {cycle} composite", "or", qstr, terms, K)

        with _cpu(run):
            t0 = time.perf_counter()
            with tracer.span("index.builder.compact_index") as csp:
                compact_summaries.append(compact_index(spark, index_dir))
            compact_times.append(time.perf_counter() - t0)
        compact_spans.append(csp)
        run.attempted += 1
        searcher = Searcher(spark, index_dir)
        ref = ref.compact()
        docid_of = _docids(searcher)
        untraced = Tracer(None)
        plain, plain_s, _ = _timed_query(searcher, untraced, "compacted", qstr, terms, K, False)
        pruned, pruned_s, _ = _timed_query(searcher, untraced, "compacted", qstr, terms, K, True)
        compacted_or.append((comp_lat[-1], plain_s, pruned_s))
        run.attempted += 2
        c.add(f"cycle {cycle} compacted maxdoc", equal("maxdoc", searcher.maxdoc, UPDATE_DOCS))
        c.add(f"cycle {cycle} compacted {qstr}", topk_mismatch(plain, ref.topk("or", terms, K, docid_of)))
        c.add(f"cycle {cycle} compacted wand {qstr}", topk_mismatch(pruned, plain))
        log("compacted and checked")
        cycle += 1
        if time.perf_counter() - t_start >= seconds:
            break

    run.op_p50_s = _median(rounds)
    run.items = len(rounds) * UPDATE_BATCH
    run.timed_s = sum(rounds) + sum(comp_lat) + sum(compact_times)
    run.report = {
        "round_s": rounds,
        "delete_append_open_s": list(zip(deletes, appends, opens)),
        "composite_query_s": comp_lat,
        "or_composite_compacted_wand_s": compacted_or,
        "compact_stages_without_wall_sec": sorted(
            st for cs in compact_summaries for st, meta in cs["stages"].items()
            if "wall_sec" not in meta
        ),
        "rounds": len(rounds),
        "update_round_s": {"value": _median(rounds), "unit": "s"},
        "composite_query_p50_s": {"value": _median(comp_lat), "unit": "s"},
        "compact_s": {"value": _median(compact_times), "unit": "s"},
    }
    if tracer.enabled:
        _query_layers(run, tracer, comp_spans)
        run.layers["index.deletes.delete_by_urls_s"] = _median(deletes)
        run.layers["index.builder.append_index_s"] = _median(appends)
        _stage_layers(run, append_sums, "index.builder.append.stage", ("partials", "postings"))
        run.layers["query.engine.open_s"] = _median(opens)
        run.layers["query.engine.composite.spark_jobs"] = _median(
            [_query_jobs(sp, tracer) for _, sp in comp_spans]
        )
        run.layers["index.builder.compact.spark_jobs"] = _median([len(s["jobs"]) for s in compact_spans])
    return run


def _query_jobs(qspan: dict, tracer: Tracer) -> int:
    """Spark jobs of a query span without its extra term-statistics call."""
    kids = [s for s in tracer.spans if s["parent"] == qspan["id"] and s["name"] != "query.engine.term_stats"]
    return sum(len(s["jobs"]) for s in kids)


WORKLOADS = {"build": build, "query_stream": query_stream, "update": update}
