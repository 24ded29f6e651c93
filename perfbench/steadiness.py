"""Runs every workload many times and reports how steady each metric is.

    python3 perfbench/steadiness.py [--runs 10] [--workloads build ...]
        [--seconds S] [--first-seed 1] [--traced 0]

Runs go one at a time in alternating order (w1, w2, w3, w1, w2, ...), each
with its own seed. For every workload and end-to-end metric it prints the
median, the quartiles (``statistics.quantiles(n=4)``), the relative spread
(q3 - q1) / median and the bound that spread allows (three times the
spread), plus the share of failed operations and the wall time per run.
``--traced N`` adds N traced runs per workload afterwards: their per-layer
Spark job counts must repeat exactly, and the traced-minus-untraced
difference of each end-to-end metric is reported as tracing overhead.
The full record goes to ``.perfbench_out/steadiness.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def bench() -> dict:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit code {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    out["report"] = json.loads(lines[-2])["report"]
    out["wall_s"] = wall
    out["seed"] = seed
    print(f"  {workload:13s} seed {seed:3d} wall {wall:6.1f}s correct={out['correct']} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items() if trace == 0),
          flush=True)
    return out


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "rel_spread": (q3 - q1) / statistics.median(values)}


def main() -> int:
    cfg = bench()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in cfg["workloads"]])
    ap.add_argument("--seconds", type=int, default=cfg["run_seconds"])
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", type=int, default=0)
    args = ap.parse_args()

    runs: dict[str, list[dict]] = {w: [] for w in args.workloads}
    for i in range(args.runs):
        order = args.workloads if i % 2 == 0 else args.workloads[::-1]
        for w in order:
            runs[w].append(one_run(w, args.first_seed + i, args.seconds, 0))

    record = {"runs": runs, "summary": {}}
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}
    print(f"\n{'workload':13s} {'metric':12s} {'median':>10s} {'q1':>10s} {'q3':>10s} "
          f"{'spread':>7s} {'3x':>6s} {'bound':>6s}")
    for w, rs in runs.items():
        summ = {}
        for m in bounds:
            vals = [r["metrics"][m]["value"] for r in rs]
            st = spread(vals)
            summ[m] = st
            print(f"{w:13s} {m:12s} {st['median']:10.4g} {st['q1']:10.4g} {st['q3']:10.4g} "
                  f"{st['rel_spread']:7.3f} {3 * st['rel_spread']:6.3f} {bounds[m]:6.2f}")
        fails = {r["failed"] / r["attempted"] for r in rs}
        walls = [r["wall_s"] for r in rs]
        summ["failed_share"] = sorted(fails)
        summ["wall_s"] = spread(walls)
        summ["all_correct"] = all(r["correct"] for r in rs)
        print(f"{w:13s} failed share {sorted(fails)}  all correct {summ['all_correct']}  "
              f"wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
        record["summary"][w] = summ

    if args.traced:
        record["traced"] = {}
        for w in args.workloads:
            traced = [one_run(w, args.first_seed + i, args.seconds, 1) for i in range(args.traced)]
            with open(os.path.join(".perfbench_out", f"trace-{w}-seed{args.first_seed}.json")) as f:
                e2e_traced = json.load(f)["end_to_end"]
            jobs = {k: sorted({t["metrics"][k]["value"] for t in traced})
                    for k in traced[0]["metrics"] if "spark_jobs" in k}
            overhead = {
                m: e2e_traced[m]["value"] / record["summary"][w][m]["median"] - 1
                for m in bounds if m != "setup_s"
            }
            record["traced"][w] = {"spark_jobs": jobs, "overhead": overhead}
            print(f"{w:13s} traced spark job counts (distinct values over runs): {jobs}")
            print(f"{w:13s} tracing overhead (traced / untraced median - 1): "
                  + ", ".join(f"{m} {v:+.1%}" for m, v in overhead.items()))

    os.makedirs(".perfbench_out", exist_ok=True)
    with open(os.path.join(".perfbench_out", "steadiness.json"), "w") as f:
        json.dump(record, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
