"""Shared harness pieces: session set-up, statistics, RSS sampling, spans
and the Spark status-store reader used by traced runs."""

from __future__ import annotations

import json
import math
import os
import re
import statistics
import threading
import time

MASTER = "local[4]"
CORES = 4
JIT_WARM_QUERIES = 12
#: A percentile needs at least this many samples beyond it.
MIN_BEYOND = 10
RSS_PERIOD_S = 0.25

_T0 = time.time()


def mark_process_start(t0: float) -> None:
    """Record the process start time (taken as run.py's first statement)."""
    global _T0
    _T0 = t0


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def percentile(values: list[float], p: float) -> float:
    """The *p*-th percentile (nearest rank) of *values*. Refuses, with
    ValueError, a percentile with fewer than ``MIN_BEYOND`` samples above
    it: such a tail is one or two outliers, not a percentile."""
    n = len(values)
    beyond = n - math.ceil(n * p / 100.0)
    if n == 0 or beyond < MIN_BEYOND:
        raise ValueError(
            f"p{p:g} over {n} samples leaves {beyond} beyond it; need {MIN_BEYOND}"
        )
    return sorted(values)[max(1, math.ceil(n * p / 100.0)) - 1]


def median(values: list[float]) -> float:
    return statistics.median(values)


def geomean(values: list[float]) -> float:
    return statistics.geometric_mean(values)


# ---------------------------------------------------------------------------
# peak RSS of this process and everything it started
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    return children


def _tree(children: dict[int, list[int]], root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


class RssSampler:
    """Samples, every ``RSS_PERIOD_S``, the RSS of the driver, the JVM and the
    JVM's Python workers, and keeps the peak of each and of the driver
    plus the JVM ("total"). Python workers are kept apart: their summed
    RSS follows how many workers happen to be alive at once, and moved
    by up to 3 GB between runs of the same code. The load generator is
    not the system under test and is left out."""

    def __init__(self):
        self.peak = {"total": 0, "driver": 0, "jvm": 0, "python_workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            children = _children()
            parts = {"driver": _rss_bytes(me), "jvm": 0, "python_workers": 0}
            for jvm in (p for p in children.get(me, []) if _is_jvm(p)):
                parts["jvm"] += _rss_bytes(jvm)
                parts["python_workers"] += sum(_rss_bytes(p) for p in _tree(children, jvm)[1:])
            parts["total"] = parts["driver"] + parts["jvm"]
            for k, v in parts.items():
                self.peak[k] = max(self.peak[k], v)
            self._stop.wait(RSS_PERIOD_S)

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> dict[str, float]:
        """Stop sampling; returns the peaks in MB."""
        self._stop.set()
        self._thread.join()
        return {k: v / 2**20 for k, v in self.peak.items()}


# ---------------------------------------------------------------------------
# session set-up
# ---------------------------------------------------------------------------


def start_session():
    """Start the engine session on ``local[4]`` and warm the JVM, the
    Python worker pool, the Arrow path and the cogroup path. Returns
    (spark, session.start_s, session.warm_s, setup_s), where setup_s runs
    from process start."""
    import pandas as pd
    from pyspark.sql import functions as F

    from dipa_collaborative_pulsar_idps_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("perfbench", master=MASTER, shuffle_partitions=CORES)
    t1 = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setJobGroup("setup", "warm-up")
    plus1 = F.udf(lambda x: x + 1, "long")
    df = spark.range(0, 64, numPartitions=CORES)
    assert df.select(F.sum(plus1("id"))).first()[0] == sum(range(1, 65))
    pdf = spark.createDataFrame(pd.DataFrame({"k": [0, 1, 2, 3], "v": [1.0, 2.0, 3.0, 4.0]}))
    assert len(pdf.toPandas()) == 4
    co = (
        df.withColumn("k", F.col("id") % 4)
        .groupBy("k")
        .cogroup(pdf.groupBy("k"))
        .applyInPandas(lambda a, b: pd.DataFrame({"k": [len(a)], "n": [len(b)]}), "k long, n long")
    )
    assert sorted(r.n for r in co.collect()) == [1, 1, 1, 1]
    spark.sparkContext.setJobGroup("idle", "")
    t2 = time.time()
    return spark, t1 - t0, t2 - t1, t2 - _T0


def jit_warm(spark) -> float:
    """Run the planner, codegen and scheduler paths often enough for the
    JIT to compile them, so the first measured passes do not pay for it.
    This is the harness's own preparation, like the table build, so it is
    timed apart from set-up. Returns its seconds."""
    from pyspark.sql import functions as F

    t0 = time.time()
    spark.sparkContext.setJobGroup("setup", "jit warm-up")
    df = spark.range(0, 64, numPartitions=CORES)
    dim = spark.range(0, 97).withColumnRenamed("id", "k")
    for _ in range(JIT_WARM_QUERIES):
        (
            df.withColumn("k", F.col("id") % 97)
            .groupBy("k")
            .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
            .join(dim, "k")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    spark.sparkContext.setJobGroup("idle", "")
    return time.time() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001 - still up: kill it
                proc.kill()
                proc.wait()


# ---------------------------------------------------------------------------
# spans (traced runs only)
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: (name, start, end, parent, trace id, attrs). Written
    once, at the end of the run."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, trace_id: str = "", **attrs):
        return _Span(self, name, trace_id, attrs)

    def add(self, name: str, start: float, end: float, trace_id: str, **attrs) -> None:
        """A span timed elsewhere, such as a streaming progress event."""
        if self.enabled:
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": None, "trace": trace_id, **attrs}
            )

    def write(self, path: str, extra: dict) -> None:
        if not self.enabled:
            return
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


class _Span:
    def __init__(self, tr: Tracer, name: str, trace_id: str, attrs: dict):
        self.tr, self.name, self.trace_id, self.attrs = tr, name, trace_id, attrs
        self.start = self.end = 0.0

    def __enter__(self):
        self.start = time.time()
        if self.tr.enabled:
            self.idx = len(self.tr.spans)
            self.tr.spans.append({})
            self.parent = self.tr._stack[-1] if self.tr._stack else None
            self.tr._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        self.end = time.time()
        if self.tr.enabled:
            self.tr._stack.pop()
            self.tr.spans[self.idx] = {
                "name": self.name,
                "start": self.start,
                "end": self.end,
                "parent": self.parent,
                "trace": self.trace_id,
                **self.attrs,
            }
        return False

    @property
    def seconds(self) -> float:
        return self.end - self.start


# ---------------------------------------------------------------------------
# Spark status stores (readable with the UI off)
# ---------------------------------------------------------------------------

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}


def parse_sql_metric(text: str) -> float:
    """'total (min, med, max ...)\\n9.5 s (…)' or '37 ms' or '1,024' → a
    number in seconds, bytes or plain count."""
    line = text.split("\n")[-1]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2) or "", 1.0)


STAGE_KEYS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes", "spill_bytes",
    "py_worker_s", "py_bytes_sent", "exchanges",
)


class StatusReader:
    """Per-job-group profile from the Spark status stores: stage metrics
    from ``statusStore().stageData`` and operator metrics from the SQL
    store's ``executionMetrics``. Read each group right after it ran: the
    stores keep only the most recent 1000 stages."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        gw = self.sc._gateway
        self._noq = gw.new_array(self.jvm.double, 0)
        self._q = gw.new_array(self.jvm.double, 2)
        self._q[0], self._q[1] = 0.5, 1.0
        self._seen_exec = -1

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def profile(self, group: str) -> dict:
        out = dict.fromkeys(STAGE_KEYS, 0.0)
        jobs = self.job_ids(group)
        out["jobs"] = len(jobs)
        skews = []
        for j in jobs:
            info = self.sc.statusTracker().getJobInfo(j)
            for sid in info.stageIds if info else []:
                seq = self.store.stageData(sid, False, self.jvm.java.util.ArrayList(), False, self._noq)
                for a in range(seq.size()):
                    sd = seq.apply(a)
                    if sd.numCompleteTasks() == 0:
                        continue  # skipped: its shuffle output was reused
                    out["stages"] += 1
                    out["tasks"] += sd.numCompleteTasks()
                    out["task_run_s"] += sd.executorRunTime() / 1e3
                    out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                    out["gc_s"] += sd.jvmGcTime() / 1e3
                    out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["input_bytes"] += sd.inputBytes()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    if sd.numCompleteTasks() > 1:
                        ts = self.store.taskSummary(sid, sd.attemptId(), self._q)
                        if ts.isDefined():
                            rt = ts.get().executorRunTime()
                            if rt.apply(0) > 0:
                                skews.append(rt.apply(1) / rt.apply(0))
        out["task_skew"] = skews
        self._sql_metrics(set(jobs), out)
        return out

    def _sql_metrics(self, jobs: set[int], out: dict) -> None:
        execs = self.sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            if e.executionId() <= self._seen_exec:
                continue
            ej = e.jobs()
            if not any(ej.contains(j) for j in jobs):
                continue
            values = self.sql.executionMetrics(e.executionId())
            ms = e.metrics()
            for k in range(ms.size()):
                pm = ms.apply(k)
                name = pm.name()
                if name == "shuffle records written":
                    out["exchanges"] += 1
                elif name in ("time to run Python workers", "data sent to Python workers"):
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        key = "py_worker_s" if name.startswith("time") else "py_bytes_sent"
                        out[key] += parse_sql_metric(v.get())

    def mark_read(self) -> None:
        """Skip every SQL execution that exists now in later reads."""
        execs = self.sql.executionsList()
        if execs.size():
            self._seen_exec = execs.apply(execs.size() - 1).executionId()


def persisted_rdds(spark) -> tuple[int, int]:
    """(persisted RDD count, their cached bytes in memory and on disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    n, b = 0, 0
    for r in infos:
        if r.numCachedPartitions() > 0:
            n += 1
            b += r.memSize() + r.diskSize()
    return n, b


def write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, default=float)
    os.replace(tmp, path)
