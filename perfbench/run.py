"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload {build,query_stream,update} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones (``setup_s``,
``cpu_s_per_item``); with ``--trace 1`` the per-layer ones, and the spans
of the run are written to ``.perfbench_out/``. The line before it holds the
workload's own figures (``report``), wall-clock latency and throughput
among them.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

# the process start, for a set-up time that includes interpreter start-up
_T0 = time.perf_counter()


def _process_age_s() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


_AGE_AT_T0 = _process_age_s()

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import OUT_DIR, Session, Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, log  # noqa: E402


def per_layer_units() -> dict[str, str]:
    """Per-layer metric name -> unit, as listed in BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # fail before starting Spark when the engine is not importable
    import lucenenet_spark.index.builder  # noqa: F401

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    layer_units = per_layer_units()
    sess = Session()
    log("spark session started")
    try:
        tracer = Tracer(sess if args.trace else None)
        run = WORKLOADS[args.workload](sess, args.seed, args.seconds, tracer)
    finally:
        sess.close()
    log("session closed")

    setup_s = _AGE_AT_T0 + (run.setup_done - _T0)
    e2e = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "cpu_s_per_item": {"value": run.cpu_s / run.items, "unit": "s/item"},
    }
    run.report["op_p50_s"] = {"value": run.op_p50_s, "unit": "s"}
    run.report["items_per_s"] = {"value": run.items / run.timed_s, "unit": "items/s"}
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "slots": sess.slots,
        "master": sess.master,
        "checks": run.checks.count,
        "check_failures": run.checks.failures,
        "end_to_end": e2e,
        "report": run.report,
    }
    if args.trace:
        layers = {n: {"value": run.layers.get(n, 0), "unit": u} for n, u in layer_units.items()}
        result["per_layer"] = layers
        tracer.write(
            os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json"),
            result,
        )
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(os.path.join(OUT_DIR, f"result-{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(result, f, indent=1)

    print(json.dumps({"report": run.report}))
    print(json.dumps({
        "correct": run.checks.ok,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": result["per_layer"] if args.trace else e2e,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
