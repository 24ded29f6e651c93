"""Process, Spark-session and tracing plumbing shared by the workloads.

Everything a run writes lives under ``.perfbench_work/<pid>/`` in the
current directory (index directories, ``SPARK_LOCAL_DIRS``, the JVM's
temporary directory) and is removed when the run ends; traces and result
files go to ``.perfbench_out/``.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import time
from contextlib import contextmanager

WORK_ROOT = ".perfbench_work"
OUT_DIR = ".perfbench_out"


def slots() -> int:
    """Spark task slots: two, or one on a single CPU. Every slot keeps a JVM
    thread and a Python worker busy, so two slots already occupy four CPUs;
    measured on 4 CPUs, local[2] ran queries and re-crawl rounds faster
    than local[4]."""
    return max(1, min(2, len(os.sched_getaffinity(0))))


# ---------------------------------------------------------------- processes #
def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime in clock ticks)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        fields = stat[stat.rindex(")") + 2:].split()
        out[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return out


def descendants(root: int, table=None) -> list[int]:
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds of this process and every live descendant (JVM, Python
    workers), including children they have already reaped."""
    table = _proc_table()
    me = os.getpid()
    return sum(table[p][1] for p in [me, *descendants(me, table)] if p in table) / _TICK


# ------------------------------------------------------------------- spark #
class Session:
    """One ``local[N]`` Spark session with its scratch directory."""

    def __init__(self):
        self.work = os.path.abspath(os.path.join(WORK_ROOT, str(os.getpid())))
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        os.makedirs(os.path.join(self.work, "spark-local"), exist_ok=True)
        # Python workers import the engine from the checkout; every
        # temporary file of this process tree stays in the work directory
        cwd = os.path.abspath(".")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [cwd, *filter(None, [os.environ.get("PYTHONPATH")])]
        )
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        import tempfile

        tempfile.tempdir = None  # let the TMPDIR above take effect
        from pyspark.sql import SparkSession

        n = slots()
        self.slots = n
        self.master = f"local[{n}]"
        self.spark = (
            SparkSession.builder.master(self.master)
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", str(n))
            .config("spark.default.parallelism", str(n))
            .config("spark.sql.adaptive.enabled", "false")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", "2g")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
            .config(
                "spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            )
            .getOrCreate()
        )
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.tracker = self.sc.statusTracker()
        self._group = 0
        self._groups: list[str] = []

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    @contextmanager
    def jobs(self):
        """Collects the Spark job and stage ids launched inside the block
        (``setJobGroup`` + ``statusTracker``). Yields a dict filled on
        exit: ``{"jobs": [...], "stages": n}``."""
        self._group += 1
        gid = f"perfbench-{self._group}"
        self._groups.append(gid)
        self.sc.setJobGroup(gid, gid)
        out: dict = {}
        try:
            yield out
        finally:
            self._groups.pop()
            if self._groups:  # back to the enclosing block's group
                self.sc.setJobGroup(self._groups[-1], self._groups[-1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            ids = sorted(self.tracker.getJobIdsForGroup(gid))
            out["jobs"] = ids
            out["stages"] = sum(
                len(info.stageIds)
                for info in map(self.tracker.getJobInfo, ids)
                if info is not None
            )

    def close(self) -> None:
        """Stop Spark, end the JVM and its Python workers, wait for every
        descendant process, and remove the work directory."""
        from pyspark import SparkContext

        try:
            self.spark.stop()
        finally:
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
            reap_descendants()
            shutil.rmtree(self.work, ignore_errors=True)
            try:
                os.rmdir(WORK_ROOT)
            except OSError:
                pass  # another run's work directory is still there


def reap_descendants(timeout: float = 20.0) -> None:
    """Wait for every descendant process to end; kill what outlives the
    timeout."""
    deadline = time.monotonic() + timeout
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ----------------------------------------------------------------- tracing #
class Tracer:
    """Spans around public engine calls, kept in memory. Each span has a
    name, start/end (seconds since the run started), its parent span, the
    query id it belongs to, the Spark job ids it launched and its process
    tree CPU seconds. ``Tracer(None)`` records nothing and costs nothing
    beyond the call itself."""

    def __init__(self, session: Session | None):
        self.session = session
        self.enabled = session is not None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, qid: str | None = None):
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "qid": qid if qid is not None else self._inherited_qid(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        cpu0 = tree_cpu_s()
        rec["start"] = time.perf_counter() - self._t0
        jobs: dict = {}
        try:
            with self.session.jobs() as jobs:
                yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            rec["cpu_s"] = tree_cpu_s() - cpu0
            self._stack.pop()
            # a child's jobs ran under the child's job group; fold them in
            kids = [s for s in self.spans if s["parent"] == sid]
            rec["jobs"] = sorted(set(jobs.get("jobs", [])).union(*(k["jobs"] for k in kids)))
            rec["stages"] = jobs.get("stages", 0) + sum(k["stages"] for k in kids)

    def _inherited_qid(self):
        return self.spans[self._stack[-1]]["qid"] if self._stack else None

    def self_time(self, span: dict) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted(
            (s["start"], s["end"]) for s in self.spans if s["parent"] == span["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def write(self, path: str, extra: dict) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        for s in self.spans:
            s["self_s"] = self.self_time(s)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=float)
