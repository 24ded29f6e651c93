"""scripts/scaling.py runs the scaling protocol it documents: an uncounted
warm-up rep, alternating arm order, one N job (pair mode) or four
concurrent ones (--control) against one 4N job. A fake ``bench.py``
stands in for Spark, so the test starts no JVM."""

import importlib.util
import json
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Logs one line per run and reports 1000 docs/s per CPU; runs that start
# while fewer than FAKE_BENCH_WARM_JOBS runs have finished (the warm-up rep) report
# 1 docs/s, so a counted warm-up would show in the rep rows.
FAKE_BENCH = """
import json, os, time
log = os.environ["FAKE_BENCH_LOG"]
with open(log) as f:
    finished = len(f.read().splitlines())
start = time.time()
time.sleep(0.5)
env = {k: os.environ[k] for k in (
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_MAX_SLOTS", "SPARK_GRAFT_BENCH_SYNTH_DOCS",
    "SPARK_GRAFT_BENCH_SKIP_SF", "SPARK_GRAFT_BENCH_SKIP_QUERIES")}
with open(log, "a") as f:
    f.write(json.dumps({"env": env, "start": start, "end": time.time()}) + "\\n")
cpus = int(env["SPARK_GRAFT_CPUS"])
warm = finished < int(os.environ["FAKE_BENCH_WARM_JOBS"])
print("spark noise on stdout")
print(json.dumps({"synth_build_docs_per_sec": 1.0 if warm else 1000.0 * cpus}))
"""


def _load_harness():
    spec = importlib.util.spec_from_file_location(
        "scaling_harness", os.path.join(ROOT, "scripts", "scaling.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("control", [False, True])
def test_scaling_protocol(tmp_path, monkeypatch, capsys, control):
    mod = _load_harness()
    fake = tmp_path / "bench.py"
    fake.write_text(FAKE_BENCH)
    log = tmp_path / "runs.jsonl"
    log.write_text("")
    jobs = 4 if control else 1
    probes = []
    monkeypatch.setattr(mod, "BENCH", str(fake))
    monkeypatch.setattr(mod, "OUT_DIR", str(tmp_path / "out"))
    monkeypatch.setattr(mod, "probe_bw", lambda: probes.append(1) or 42.0)
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.setenv("FAKE_BENCH_LOG", str(log))
    monkeypatch.setenv("FAKE_BENCH_WARM_JOBS", str(1 + jobs))

    out = mod.main((["--control"] if control else []) + ["1", "300", "2"])

    runs = [json.loads(ln) for ln in log.read_text().splitlines()]
    runs.sort(key=lambda r: r["start"])
    # warm-up 4N first, then N first, then 4N first: the order alternates
    big, small = ["4"], ["1"] * jobs
    assert [r["env"]["SPARK_GRAFT_CPUS"] for r in runs] == (
        big + small + small + big + big + small
    )
    for r in runs:
        cpus = r["env"]["SPARK_GRAFT_CPUS"]
        assert r["env"] == {
            "SPARK_GRAFT_CPUS": cpus, "SPARK_GRAFT_MAX_SLOTS": cpus,
            "SPARK_GRAFT_BENCH_SYNTH_DOCS": "300",
            "SPARK_GRAFT_BENCH_SKIP_SF": "1",
            "SPARK_GRAFT_BENCH_SKIP_QUERIES": "1",
        }
    # the N jobs of one arm run at once in --control, alone in pair mode
    arms = [runs[0:1], runs[1:1 + jobs], runs[1 + jobs:1 + 2 * jobs],
            runs[1 + 2 * jobs:2 + 2 * jobs], runs[2 + 2 * jobs:3 + 2 * jobs],
            runs[3 + 2 * jobs:]]
    for arm in arms:
        assert max(r["start"] for r in arm) < min(r["end"] for r in arm)
    for a, b in zip(arms, arms[1:]):
        assert max(r["end"] for r in a) <= min(r["start"] for r in b)
    assert len(probes) == 6  # one probe before each arm, warm-up included

    assert out["mode"] == ("control" if control else "pair")
    assert out["master"] == "local"
    assert (out["n"], out["synth_docs"]) == (1, 300)
    assert out["efficiency_median"] == 1.0
    assert [r["first"] for r in out["reps"]] == ["N", "4N"]
    for r in out["reps"]:
        assert r["thr_4N"] == 4000.0 and r["thr_N"] == [1000.0] * jobs
        assert r["bw_gbps_4N"] == r["bw_gbps_N"] == 42.0
        assert r["eff"] == 1.0
    printed = capsys.readouterr().out.strip().splitlines()
    assert json.loads(printed[-1]) == out

    name = f"SCALING_{'CONTROL' if control else 'PAIR'}_LOCAL.md"
    assert out["report"] == str(tmp_path / "out" / name)
    md = (tmp_path / "out" / name).read_text()
    cmd = "python scripts/scaling.py " + ("--control " if control else "") + "1 300 2"
    assert cmd in md
    assert "**Median efficiency over 2 reps: 1.000**" in md
    assert md.count("| 1.000 |") == 2
