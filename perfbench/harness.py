"""Shared machinery of the benchmark: the one Spark session config,
peak-RSS sampling, host diagnostics, trace spans, and the readers of
Spark's status store and executed-plan SQL metrics.

Nothing here imports ``datatest_spark``: the harness measures the
engine from outside, through its public functions only.
"""

from __future__ import annotations

import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

MB = float(1 << 20)


# ---------------------------------------------------------------------------
# Session config: one config for every workload, sized from the box.


def box() -> Dict[str, int]:
    """Cores this process may use and total RAM in GiB."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        kib = int(fh.readline().split()[1])
    return {"cores": cores, "ram_gib": kib // (1 << 20)}


def session_conf(tmp_dir: str) -> Dict[str, str]:
    """``local[nproc]`` with a driver heap of a sixth of RAM, capped at
    4 GiB: executors live in the driver JVM, and the Python workers (one
    per task slot) and other tenants of the machine need the rest.  Only
    the maximum is set, so heap growth shows in ``peak_rss_mb``.
    Spark's and the JVM's temporary files go under ``tmp_dir``."""
    b = box()
    heap_gib = max(1, min(4, b["ram_gib"] // 6))
    cores = b["cores"]
    return {
        "spark.master": f"local[{cores}]",
        "spark.driver.memory": f"{heap_gib}g",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp_dir}",
        "spark.local.dir": tmp_dir,
        "spark.sql.warehouse.dir": os.path.join(tmp_dir, "warehouse"),
        "spark.sql.shuffle.partitions": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # 256-row batches keep the live binary-payload buffers small
        # (the same reason as the repository's bench.py)
        "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
        "spark.sql.parquet.columnarReaderBatchSize": "256",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every stage of its window back from the
        # status store; keep them all
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "10000",
    }


def start_session(tmp_dir: str):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("datatest_spark-perfbench")
    for k, v in session_conf(tmp_dir).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def assert_storage_empty(spark) -> None:
    """Every timed operation starts cold: no persisted frame or RDD."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    rdds = jsc.getPersistentRDDs()
    if not rdds.isEmpty():
        # localCheckpoint'ed and handle-tracked RDDs the caller no
        # longer reaches: release them, then demand an empty store
        for rdd in list(rdds.values()):
            rdd.unpersist(True)
    left = jsc.getPersistentRDDs().size()
    if left:
        raise RuntimeError(f"{left} persisted RDDs survive the reset")


def persisted_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


# ---------------------------------------------------------------------------
# CPU time and RSS of this process and every descendant (the driver JVM
# and its Python workers).


def _tree_stats(root: int) -> Dict[int, List[str]]:
    """``/proc/<pid>/stat`` fields after the command name, by pid, for
    ``root`` and every live descendant."""
    children: Dict[int, List[int]] = {}
    stats: Dict[int, List[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid in stats:
            out[pid] = stats[pid]
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included).  Time the
    host steals from the virtual CPUs is not in it."""
    ticks = sum(int(x) for f in _tree_stats(root).values() for x in f[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def _tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    return sum(int(f[21]) for f in _tree_stats(root).values()) * page


def descendants(root: int) -> Dict[int, str]:
    """Every live descendant of ``root``: pid -> start time, which tells
    the process apart from a later one that reuses its pid."""
    return {pid: f[19] for pid, f in _tree_stats(root).items() if pid != root}


def _running(pid: int, start: str) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    fields = stat[stat.rfind(")") + 2:].split()
    if fields[19] != start:
        return False
    if fields[0] == "Z":
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def reap(procs: Dict[int, str], timeout: float = 30.0) -> None:
    """Wait until every process of ``procs`` (from ``descendants``) has
    ended; kill those still running after ``timeout`` seconds, and give
    up on a process the kill does not end within ``timeout`` more.
    They may have been re-parented by then, so they are followed by
    pid."""
    deadline = time.monotonic() + timeout
    left = dict(procs)
    while left and time.monotonic() < deadline + timeout:
        left = {p: s for p, s in left.items() if _running(p, s)}
        if left and time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        if left:
            time.sleep(0.1)


class RssSampler:
    """Samples the process tree's RSS every ``period`` seconds."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(root))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / MB


# ---------------------------------------------------------------------------
# Host diagnostics (recorded, never gated on).


def read_steal() -> tuple:
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def cpu_canary() -> float:
    """Wall seconds of a fixed single-thread loop; a slow reading flags
    a co-tenant phase of the host, not the program."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i & 1023
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# Workloads.


class Workload:
    """One closed-loop client's view of a workload.  ``run.py`` calls
    ``generate`` and ``open``, then per operation ``reset``,
    ``before_op`` (untimed), ``op`` (timed) and ``check`` (an error
    message, or "" when the output is correct)."""

    name = ""
    #: items one operation processes (the numerator of items_per_s)
    items = 0

    def __init__(self, cache: str, seed: int, work: str):
        self.cache = cache
        self.seed = seed
        self.work = work

    def has_next(self) -> bool:
        return True

    def before_op(self, tr) -> None:
        pass

    def observe(self) -> dict:
        """Layer readings taken after a traced operation."""
        return {}

    def tail(self, tr) -> list:
        """Untimed operations after the loop; one error string each."""
        return []

    def known_defects(self) -> list:
        return []

    def span_metrics(self, tr) -> dict:
        return {}


# ---------------------------------------------------------------------------
# Trace spans.


class Tracer:
    """Spans around calls into the engine's layers.

    A span records its name, start, end, parent, the operation it
    belongs to, and the window of Spark job ids submitted while it was
    open.  The job window (not the job group) attributes jobs, because
    the engine submits some compile-time jobs from its own thread pool,
    whose threads do not inherit the caller's job group.  Each span
    still runs under its own job group so the status store and event
    logs name the layer.  Disabled, a span only yields.
    """

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self.op_id: Optional[int] = None

    def next_job_id(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "op": self.op_id, "start": time.perf_counter(),
               "job_lo": self.next_job_id()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", f"perfbench:{name}")
        try:
            yield rec
        finally:
            sc.setLocalProperty("spark.jobGroup.id", outer)
            rec["end"] = time.perf_counter()
            rec["job_hi"] = self.next_job_id()
            self._stack.pop()

    def named(self, name: str) -> List[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def self_times(self) -> None:
        """Fill ``self_s``: duration minus the time its children cover
        (children of one span run one after another)."""
        for s in self.spans:
            kids = [c for c in self.spans if c["parent"] == s["id"]]
            s["wall_s"] = s["end"] - s["start"]
            s["self_s"] = s["wall_s"] - sum(c["end"] - c["start"] for c in kids)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# Status store: stage metrics of the jobs in a window.


def wait_for_listeners(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def stage_metrics(spark, job_lo: int, job_hi: int) -> Dict[str, float]:
    """Sum the stage metrics of jobs ``[job_lo, job_hi)``."""
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    stage_ids = set()
    for jid in range(job_lo, job_hi):
        try:
            seq = store.job(jid).stageIds()
        except Py4JJavaError:
            continue
        stage_ids.update(seq.apply(i) for i in range(seq.size()))
    out = {"jobs": float(job_hi - job_lo), "tasks": 0.0, "run_s": 0.0,
           "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:
            continue
        out["tasks"] += st.numCompleteTasks()
        out["run_s"] += st.executorRunTime() / 1000.0
        out["gc_s"] += st.jvmGcTime() / 1000.0
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
    return out


# ---------------------------------------------------------------------------
# Executed-plan SQL metrics of a frame the benchmark holds and has
# collected.


def plan_nodes(df) -> List[dict]:
    """Every node of ``df``'s executed plan, descending through AQE
    stages and into each cached relation's plan (once per relation)."""
    jvm = df.sparkSession._jvm
    nodes: List[dict] = []
    seen_cached = set()

    def metrics(p) -> Dict[str, float]:
        vals = {}
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = float(kv._2().value())
        return vals

    def walk(p):
        cls = p.getClass().getSimpleName()
        nodes.append({"name": p.nodeName(), "cls": cls,
                      "desc": p.simpleString(400), "metrics": metrics(p),
                      "output": [a.name() for a in _seq(p.output())]})
        if cls == "AdaptiveSparkPlanExec":
            walk(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            walk(p.plan())
        elif cls == "InMemoryTableScanExec":
            builder = p.relation().cacheBuilder()
            key = jvm.System.identityHashCode(builder)
            if key not in seen_cached:
                seen_cached.add(key)
                walk(builder.cachedPlan())
        for child in _seq(p.children()):
            walk(child)

    walk(df._jdf.queryExecution().executedPlan())
    return nodes


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]
