"""Process-level instruments: the Spark session and its teardown, the
host-speed control loop, the process-tree RSS sampler, per-op Spark job
counts and the in-memory span recorder."""

from __future__ import annotations

import json
import os
import re
import signal
import threading
import time
from contextlib import contextmanager

import numpy as np

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def start_session(work: str):
    """The engine's own session factory on local[nproc]. Shuffle width is
    pinned to the core count (the repo's test setting): the inputs here
    are small, and the engine default of 32 partitions would make
    per-task overhead the dominant cost of every op. Spark's scratch,
    warehouse and JVM temp dirs all live under ``work``."""
    for sub in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the inputs are a few MB: a 2 GiB heap is ample, keeps the JVM's share
    # of a shared host small, and bounds how far its RSS swings between GCs
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # C1-only JIT: a benchmark session lives about a minute, and under
    # tiered C2 the op cost fell for the whole run (compiler threads alone
    # burned 4-6 of an op's ~15 CPU seconds) — a trend, and noise, larger
    # than the changes the benchmark must see. perfbench/README.md ("JIT
    # and heap") compares the two on the same seeds.
    # C1-only mode shrinks the default code cache to 48 MB, which these
    # runs filled within a minute; the JVM then stops compiling and later
    # ops cost up to 2x more CPU, so the cache gets tiered mode's size.
    # (-XX:-UsePerfData: no hsperfdata file in the system temp dir)
    java_opts = (f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                 "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m "
                 "-XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '{java_opts}' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    from ncbi_analysis_spark.session import get_spark

    n = os.cpu_count() or 1
    spark = get_spark(app_name="perfbench", cpus=n, shuffle_partitions=n)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            continue
    return total / 2**20


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, plus reaped children) of ``root`` and
    all its descendants."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / TICK


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait until this process's
    whole tree (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    me = os.getpid()
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — any wait failure falls through to kill
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while descendants(me) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(me):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(me) and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def host_ctrl() -> float:
    """A fixed pure-Python + numpy task timed in this process between ops.
    The code under test never runs here, so when it moves between two sets
    of runs the host changed speed, not the engine."""
    t = time.perf_counter()
    s = 0
    for i in range(200_000):
        s += i * i % 7
    a = np.random.default_rng(0).random(200_000)
    a.sort()
    return time.perf_counter() - t


class RssSampler:
    """Peak RSS of this process and all its descendants, sampled from
    /proc by one thread while ``with sampler:`` blocks run."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_mb = 0.0
        self.cpu_s = 0.0    # the sampling thread's own CPU seconds so far
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self.cpu_s = time.thread_time()
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))


def job_counts(spark, group: str) -> dict[str, int]:
    """jobs / stages / tasks / failed tasks run under one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else []):
            si = st.getStageInfo(s)
            if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                continue  # skipped (reused shuffle output)
            stages += 1
            tasks += si.numCompletedTasks
            failed += si.numFailedTasks
    return {"spark.jobs": len(jobs), "spark.stages": stages,
            "spark.tasks": tasks, "spark.failed_tasks": failed}


def final_plan(text: str) -> str:
    """An executed-plan string without its AQE "== Initial Plan ==" sections
    (nested ones too): each runs until the tree returns to the marker's
    depth."""
    keep, cut = [], None
    for line in text.splitlines():
        depth = len(line) - len(line.lstrip(" :+-|"))
        if cut is not None and depth >= cut:
            continue
        cut = None
        if "== Initial Plan ==" in line:
            cut = line.index("== Initial Plan ==")
            continue
        keep.append(line)
    return "\n".join(keep)


def exchange_counts(df) -> tuple[int, int]:
    """(exchanges, reused exchanges) in ``df``'s executed plan — the
    AQE-final plan once an action on ``df`` has run."""
    plan = final_plan(df._jdf.queryExecution().executedPlan().toString())
    reused = len(re.findall(r"\bReusedExchange\b", plan))
    total = len(re.findall(r"\b(?:ShuffleExchange|BroadcastExchange|Exchange)\b", plan))
    return total, reused


class Spans:
    """In-memory spans (name, start, end, parent, op id, and the process
    tree's CPU seconds at start and end); ``dump`` writes them as JSON
    lines when the run ends."""

    def __init__(self):
        self.rows: list[dict] = []
        self._stack: list[int] = []
        self.op = -1

    @contextmanager
    def span(self, name: str):
        idx = len(self.rows)
        row = {"name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "cpu_start": tree_cpu_s(os.getpid()), "start": time.perf_counter(),
               "end": None, "cpu_end": None}
        self.rows.append(row)
        self._stack.append(idx)
        try:
            yield row
        finally:
            row["end"] = time.perf_counter()
            row["cpu_end"] = tree_cpu_s(os.getpid())
            self._stack.pop()

    def per_op(self, name: str) -> list[float]:
        """Total duration of the spans called ``name``, per op that has any."""
        tot: dict[int, float] = {}
        for r in self.rows:
            if r["name"] == name and r["end"] is not None:
                tot[r["op"]] = tot.get(r["op"], 0.0) + r["end"] - r["start"]
        return list(tot.values())

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for r in self.rows:
                f.write(json.dumps(r) + "\n")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total
