"""Index-build scaling efficiency: one 4N-CPU job against N-CPU jobs.

The north rule asks for indexing throughput at N and 4N executors with a
scaling efficiency of at least 0.8 between them. Every arm runs
``bench.py`` on its deterministic synthetic pages corpus (seed 42, the
same bytes at every width) with the sf-table build and the query battery
skipped, and reads its ``synth_build_docs_per_sec``:

    eff = thr(one 4N job) / (4 * median thr(N jobs))

The mode only sets how many N jobs run at once:

- pair mode runs ONE N job: the plain N-vs-4N comparison;
- ``--control`` runs FOUR CONCURRENT N jobs, the clock-matched control.
  Both arms then load 4N CPUs, so per-core turbo clocks, the shared
  memory bus and co-tenant steal hit both alike, and what remains is the
  cost of being one parallel job (shuffle, stage barriers, scheduling)
  instead of four independent jobs on perfectly partitioned data. On one
  box the pair mode under-reports scaling: one loaded core clocks far
  above the all-cores-loaded frequency, which a real cluster does not do.

Protocol, in both modes:

- one uncounted warm-up rep: the OS page cache, bytecode cache and
  worker-side Spark dirs warm across invocations, and a first standalone
  run measured rep 1 at about 1/3 of rep 3's throughput;
- the arm order alternates per rep, so slow drift in box load cannot
  favour one arm;
- ``probe_bw`` runs right before each arm and its reading is reported
  with the rep, because identical runs swing 2-4x with co-tenant load.

The master is ``bench.py``'s deployment setting, not an option here:
unset, the arms run ``local[N]`` and ``local[4N]``; with
``SPARK_GRAFT_MASTER`` set they run N and 4N one-core executors of that
cluster. Memory settings (``SPARK_GRAFT_DRIVER_MEM``,
``SPARK_GRAFT_EXEC_MEM``) pass through the same way. The standalone
clock-matched run (separate executor JVMs) is:

    bash scripts/start_standalone_cluster.sh 8
    SPARK_GRAFT_MASTER=spark://127.0.0.1:7077 SPARK_GRAFT_DRIVER_MEM=5g \\
        python scripts/scaling.py --control 2 960000 3

Usage: python scripts/scaling.py [--control] [N] [synth_docs] [reps]
Prints one JSON line and writes BENCH/SCALING_<mode>_<master kind>.md.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(REPO, "bench.py")
OUT_DIR = os.path.join(REPO, "BENCH")


def _copy_loop(secs: float, q) -> None:
    import numpy as np

    a = np.zeros(100_000_000 // 8)
    b = np.empty_like(a)
    t0 = time.time()
    cnt = 0
    while time.time() - t0 < secs:
        np.copyto(b, a)
        cnt += 1
    q.put(cnt * a.nbytes * 2 / (time.time() - t0))


def probe_bw(nproc: int = 4, secs: float = 2.0) -> float:
    """Aggregate memory bandwidth (GB/s) of ``nproc`` concurrent numpy copy
    loops: a 2-second co-tenant 'weather' probe. Readings compare only
    within one machine; heavy contention cuts them by 10x or more."""
    ctx = mp.get_context("spawn")
    q = ctx.Queue()
    ps = [ctx.Process(target=_copy_loop, args=(secs, q)) for _ in range(nproc)]
    for p in ps:
        p.start()
    total = sum(q.get() for _ in ps)
    for p in ps:
        p.join()
    return round(total / 1e9, 1)


def run_arm(cpus: int, jobs: int, synth_docs: int) -> list[float]:
    """Run ``jobs`` concurrent ``bench.py`` builds at ``cpus`` CPUs each ->
    their synthetic-build docs/s."""
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_MAX_SLOTS=str(cpus),  # measure the REQUESTED width
        SPARK_GRAFT_BENCH_SYNTH_DOCS=str(synth_docs),
        SPARK_GRAFT_BENCH_SKIP_SF="1",  # concurrent jobs share the sf index dir
        SPARK_GRAFT_BENCH_SKIP_QUERIES="1",
    )
    procs = [
        subprocess.Popen(
            [sys.executable, BENCH], stdout=subprocess.PIPE,
            stderr=subprocess.PIPE, text=True, env=env, cwd=REPO,
        )
        for _ in range(jobs)
    ]
    outs = [p.communicate() for p in procs]
    rates = []
    for p, (out, err) in zip(procs, outs):
        if p.returncode != 0:
            raise RuntimeError(f"bench.py at {cpus} CPUs failed:\n{err[-2000:]}")
        line = [ln for ln in out.splitlines() if ln.startswith("{")][-1]
        rates.append(json.loads(line)["synth_build_docs_per_sec"])
    return rates


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--control", action="store_true",
                    help="run four concurrent N jobs (clock-matched control)")
    ap.add_argument("n", nargs="?", type=int, default=1)
    ap.add_argument("synth_docs", nargs="?", type=int, default=200_000)
    ap.add_argument("reps", nargs="?", type=int, default=3)
    args = ap.parse_args(argv)
    n, docs, reps = args.n, args.synth_docs, args.reps
    if min(n, docs, reps) < 1:
        ap.error("N, synth_docs and reps must be at least 1")
    mode, jobs = ("control", 4) if args.control else ("pair", 1)
    master = os.environ.get("SPARK_GRAFT_MASTER", "local")
    kind = "local" if master.startswith("local") else "cluster"

    rows, effs = [], []
    for i in range(reps + 1):  # i == 0 is the uncounted warm-up rep
        arms = {}
        order = ("4N", "N") if i % 2 == 0 else ("N", "4N")
        for arm in order:
            bw = probe_bw()
            cpus, k = (4 * n, 1) if arm == "4N" else (n, jobs)
            arms[arm] = (bw, run_arm(cpus, k, docs))
        (bw_hi, [thr_hi]), (bw_lo, thr_lo) = arms["4N"], arms["N"]
        eff = thr_hi / (4.0 * statistics.median(thr_lo))
        label = "warm-up" if i == 0 else f"rep {i}/{reps}"
        print(f"  {label} ({order[0]} first, bw {bw_hi}/{bw_lo} GB/s): "
              f"{4 * n}-CPU {thr_hi} docs/s vs {jobs}x {n}-CPU {thr_lo} "
              f"-> eff {eff:.3f}", file=sys.stderr)
        if i > 0:
            effs.append(eff)
            rows.append({"first": order[0], "bw_gbps_4N": bw_hi,
                         "bw_gbps_N": bw_lo, "thr_4N": thr_hi,
                         "thr_N": thr_lo, "eff": round(eff, 3)})
    med = statistics.median(effs)

    cmd = " ".join(["python scripts/scaling.py"] + (["--control"] if args.control else [])
                   + [str(n), str(docs), str(reps)])
    table = "\n".join(
        f"| {j} | {r['first']} | {r['bw_gbps_4N']} / {r['bw_gbps_N']} | "
        f"{r['thr_4N']} | {', '.join(str(t) for t in r['thr_N'])} | {r['eff']:.3f} |"
        for j, r in enumerate(rows, 1)
    )
    md = f"""# Index-build scaling: {mode} mode, {kind} master

`{cmd}` with master `{master}`: one {4 * n}-CPU job against
{"four concurrent" if jobs == 4 else "one"} {n}-CPU job{"s" if jobs == 4 else ""}, every job
building the same {docs}-doc synthetic corpus (seed 42).
eff = thr({4 * n}-CPU job) / (4 x median thr({n}-CPU jobs)). One uncounted
warm-up rep; the arm order alternates per rep; bw is the 2-s memory-bandwidth
probe taken right before each arm.

| rep | first arm | bw GB/s (4N / N) | {4 * n}-CPU docs/s | {n}-CPU docs/s (each) | eff |
|---|---|---|---|---|---|
{table}

**Median efficiency over {reps} reps: {med:.3f}**
{"(PASS >= 0.8)" if med >= 0.8 else "(below 0.8)"}
"""
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"SCALING_{mode.upper()}_{kind.upper()}.md")
    with open(path, "w") as f:
        f.write(md)
    out = {"mode": mode, "master": master, "n": n, "synth_docs": docs,
           "reps": rows, "efficiency_median": round(med, 3), "report": path}
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main()
