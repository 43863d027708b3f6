"""Measurement from outside the program: timing, Spark's status store,
process memory from /proc, and in-memory trace spans.

Nothing here reaches into ``v2_ocr_spark``. Spark numbers come from the
running application's status stores: each op runs under its own job
group, and after it returns the probe sums the metrics of every stage
those jobs ran, and the SQL metrics (scan time, Python worker time,
bytes sent to Python) of every query the group ran, read off the nodes
of each final plan.
"""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import threading
import time

from py4j.protocol import Py4JJavaError

# ---------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------

def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float]) -> tuple[float, float]:
    """-> (value, percentile): the highest percentile with at least ten
    samples beyond it. Runs too short for that fall back to the median
    (percentile 50), so the metric is never read off fewer samples."""
    n = len(values)
    pct = max(50.0, math.floor(100.0 * (1.0 - 10.0 / n))) if n else 50.0
    ordered = sorted(values)
    rank = pct / 100.0 * (n - 1)
    lo, hi = math.floor(rank), math.ceil(rank)
    value = ordered[lo] + (ordered[hi] - ordered[lo]) * (rank - lo)
    return float(value), pct


# ---------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------

# SQL metrics of the final plans, by metric name: a node with
# "time to run Python workers" is a Python hop
_PY_METRICS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_total_s",
    "data sent to Python workers": "python_bytes_sent",
}
_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
          "TiB": 2.0**40}

SPARK_KEYS = (
    "jobs", "tasks", "run_s", "cpu_s", "gc_s", "scan_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "python_boot_s", "python_init_s", "python_total_s",
    "python_bytes_sent",
)


def sql_metric_value(text: str) -> float:
    """A SQL metric as the status store formats it -- "1,234", "12 ms",
    or "total (min, med, max ...)\n1.2 s (...)" -- in base units."""
    head = text.strip().split("\n")[-1].split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    return value * _UNITS.get(head[1], 1.0) if len(head) > 1 else value


class SparkProbe:
    """Runs each op under a job group and reads back what its jobs did:
    per-stage metrics from the status store, and the SQL metrics of
    every query the group ran (scan time, Python worker time)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._n = 0

    @contextlib.contextmanager
    def group(self, label: str):
        """Tag every Spark job started inside with a fresh group; the
        yielded dict is filled with the group's metrics on exit."""
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, gid)
        out: dict = {}
        try:
            yield out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            out.update(self.metrics(gid))

    def metrics(self, gid: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        stage_ids = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        m = dict.fromkeys(SPARK_KEYS, 0.0)
        m["jobs"] = len(jobs)
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage never ran
                continue
            m["tasks"] += st.numCompleteTasks()
            m["run_s"] += st.executorRunTime() / 1e3
            m["cpu_s"] += st.executorCpuTime() / 1e9
            m["gc_s"] += st.jvmGcTime() / 1e3
            m["shuffle_write_bytes"] += st.shuffleWriteBytes()
            m["shuffle_read_bytes"] += st.shuffleReadBytes()
            m["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        for key, value in self._sql_metrics(gid).items():
            m[key] += value
        return m

    def _sql_metrics(self, gid: str) -> dict:
        out = dict.fromkeys([*_PY_METRICS.values(), "scan_s"], 0.0)
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            if ex.description() != gid:
                continue
            values = self._sql.executionMetrics(ex.executionId())
            nodes = self._sql.planGraph(ex.executionId()).allNodes()
            for j in range(nodes.size()):
                metrics = nodes.apply(j).metrics()
                by_name = {}
                for k in range(metrics.size()):
                    pm = metrics.apply(k)
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        by_name[pm.name()] = sql_metric_value(v.get())
                if "time to run Python workers" in by_name:
                    for name, key in _PY_METRICS.items():
                        out[key] += by_name.get(name, 0.0)
                out["scan_s"] += by_name.get("scan time", 0.0)
        return out

    def persisted(self) -> int:
        """Number of RDDs cached in the session right now."""
        return self.sc._jsc.getPersistentRDDs().size()


# ---------------------------------------------------------------------
# resident memory of the JVM and its Python workers
# ---------------------------------------------------------------------

def _children(pid: int) -> list[int]:
    kids = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return kids
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(k) for k in f.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (FileNotFoundError, ProcessLookupError):
        return 0


def alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited, unreaped (zombie) process
    counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def descendants(root: int) -> list[int]:
    out, todo = [], _children(root)
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """User and system ticks of ``pid`` and of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return 0
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by the calling thread and by the ``root``
    process tree (the JVM and the Python workers it forked)."""
    own = time.thread_time()
    ticks = sum(_cpu_ticks(p) for p in (root, *descendants(root)))
    return own + ticks / _TICK


def reference_job(spark, rows: int = 80_000) -> None:
    """A fixed Spark job that runs no code of the program: generated
    rows go through Arrow to a pandas string function on the Python
    workers and back to a JVM aggregate, the same mix of JVM, hop and
    Python work an extraction op does. Its CPU time measures how fast
    the host runs that mix at the moment."""
    import pyspark.sql.functions as F

    def string_work(batches):
        for b in batches:
            yield b.assign(n=b.s.str.upper().str.count("O") + b.s.str.len())

    spark.range(
        0, rows, numPartitions=spark.sparkContext.defaultParallelism,
    ).selectExpr(
        "id", "concat_ws(' ', cast(id as string), hex(id * 7919), "
              "'lorem ipsum dolor sit amet') as s",
    ).mapInPandas(string_work, "id long, s string, n long").agg(
        F.sum("n"), F.count(F.lit(1)), F.max("s"),
    ).collect()


def tree_rss_bytes(root: int) -> int:
    return sum(_rss_bytes(p) for p in (root, *descendants(root)))


class RssSampler:
    """Polls the RSS of a process tree on a daemon thread and keeps the
    peak since the last ``reset()``."""

    def __init__(self, root_pid: int, interval: float = 0.05):
        self.root = root_pid
        self.interval = interval
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._peak = max(self._peak, tree_rss_bytes(self.root))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self) -> None:
        self._peak = tree_rss_bytes(self.root)

    def peak_mb(self) -> float:
        return max(self._peak, tree_rss_bytes(self.root)) / 2**20


# ---------------------------------------------------------------------
# trace spans
# ---------------------------------------------------------------------

class Tracer:
    """Spans kept in memory: (name, start, end, parent, op). A span's
    layer is its name up to the first dot."""

    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self.op = 0

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "op": self.op}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, fn, name: str):
        """``fn`` timed as a span named ``name``, counted in ``name``."""
        def timed(*args, **kwargs):
            self.count(name)
            with self.span(name):
                return fn(*args, **kwargs)

        return timed

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def self_times(self) -> dict[str, float]:
        """Self time per layer: span durations minus the time their
        children cover, summed by layer."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"] - c)
        return out

    def dump(self) -> list[dict]:
        return [dict(s) for s in self.spans]
