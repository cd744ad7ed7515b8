"""Shared machinery of the benchmark: run context, Spark session lifetime,
statistics, span tracing, executed-plan metric harvesting and process RSS.

Nothing here instruments the engine package: spans wrap the calls the
benchmark makes into the package's public functions, and per-layer counters
come from Spark's own executed-plan SQL metrics, ``StreamingQueryProgress``,
the status tracker and ``/proc``.
"""

from __future__ import annotations

import contextlib
import os
import re
import threading
import time
from dataclasses import dataclass, field

# ---------------------------------------------------------------- statistics


def percentile(values, pct: float) -> float:
    """Linear-interpolated percentile (``pct`` in 0..100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


# ------------------------------------------------------------------- tracing


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    trace_id: int = 0
    span_id: int = 0


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []
        self.trace_id = 0

    def new_trace(self) -> None:
        self.trace_id += 1

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sp = Span(
            name, layer, time.perf_counter(),
            parent=self._stack[-1] if self._stack else None,
            trace_id=self.trace_id, span_id=len(self.spans),
        )
        self.spans.append(sp)
        self._stack.append(sp.span_id)
        try:
            yield
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def add(self, key: str, value: float) -> None:
        if self.enabled:
            self.counters[key] = self.counters.get(key, 0.0) + value

    def self_time_ms(self) -> dict[str, float]:
        """Per layer: span duration minus the part covered by child spans."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out: dict[str, float] = {}
        for sp in self.spans:
            covered, cur_end = 0.0, sp.start
            for ch in sorted(children.get(sp.span_id, []), key=lambda s: s.start):
                s, e = max(ch.start, cur_end), min(ch.end, sp.end)
                if e > s:
                    covered += e - s
                    cur_end = e
            own = (sp.end - sp.start) - covered
            out[sp.layer] = out.get(sp.layer, 0.0) + 1000.0 * own
        return out

    def durations_ms(self, name: str) -> list[float]:
        return [1000.0 * (s.end - s.start) for s in self.spans if s.name == name]

    def dump(self) -> list[dict]:
        return [
            {
                "name": s.name, "layer": s.layer, "start": s.start, "end": s.end,
                "parent": s.parent, "trace_id": s.trace_id, "span_id": s.span_id,
            }
            for s in self.spans
        ]


# ------------------------------------------------------- executed-plan metrics

# Summed SQL metrics: counter key -> (plan node class filter, metric key).
# A filter of None matches every node; "Python" matches the nodes that
# exchange Arrow batches with Python workers.
_PLAN_SUMS = {
    "scan_rows": ("FileSourceScan", "numOutputRows"),
    "scan_bytes": ("FileSourceScan", "filesSize"),
    "scan_ms": ("FileSourceScan", "scanTime"),
    "shuffle_bytes": ("ShuffleExchange", "shuffleBytesWritten"),
    "fetch_wait_ms": ("AQEShuffleRead", "fetchWaitTime"),
    "spill_bytes": (None, "spillSize"),
    "python_rows": ("Python", "pythonNumRowsReceived"),
    "python_bytes": ("Python", "pythonDataSent"),
    "join_rows": ("Join", "numOutputRows"),
}
_PYTHON_NODES = ("Python", "Pandas", "Arrow")
_METRIC = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: [^,]*, value: (-?\d+)\)")


def plan_metrics(spark, df) -> dict[str, float]:
    """Walk the final (post-AQE) executed plan of an already executed
    ``df`` and sum the SQL metrics named in ``_PLAN_SUMS``; also count
    broadcast (``bhj``) and shuffled (``smj``) joins."""
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    out = {k: 0.0 for k in _PLAN_SUMS}
    out["bhj"] = out["smj"] = 0.0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls.startswith("Reused"):
            continue
        if "BroadcastHashJoin" in cls or "BroadcastNestedLoopJoin" in cls:
            out["bhj"] += 1
        elif "SortMergeJoin" in cls or "ShuffledHashJoin" in cls:
            out["smj"] += 1
        metrics = dict(_METRIC.findall(node.metrics().toString()))
        is_python = any(p in cls for p in _PYTHON_NODES)
        for key, (kind, metric) in _PLAN_SUMS.items():
            if metric not in metrics:
                continue
            if kind == "Python" and not is_python:
                continue
            if kind not in (None, "Python") and kind not in cls:
                continue
            out[key] += float(metrics[metric])
        stack += list(conv.asJava(node.children()))
        stack += list(conv.asJava(node.subqueries()))
    return out


def job_group_tasks(spark, group: str) -> int:
    """Tasks run by the jobs of one job group (from the status tracker)."""
    st = spark.sparkContext.statusTracker()
    n = 0
    for job in st.getJobIdsForGroup(group):
        info = st.getJobInfo(job)
        if info is None:
            continue
        for stage in info.stageIds:
            si = st.getStageInfo(stage)
            if si is not None:
                n += si.numTasks
    return n


def jvm_gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


# ------------------------------------------------------------- process RSS


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        if ppid == pid:
            out.append(int(name))
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


class RssSampler:
    """Samples the resident memory of the Spark JVM and of its Python
    worker processes every ``interval`` seconds on a background thread."""

    def __init__(self, jvm_pid: int, interval: float = 0.25):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_total_kb = 0
        self.peak_python_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        workers = descendants(self.jvm_pid)
        py = sum(_rss_kb(p) for p in workers)
        total = _rss_kb(self.jvm_pid) + py
        self.peak_total_kb = max(self.peak_total_kb, total)
        self.peak_python_kb = max(self.peak_python_kb, py)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# ---------------------------------------------------------------- run context


@dataclass
class Run:
    """One benchmark run: where it works, what it read, what it measured."""

    root: str  # repository checkout the engine package is imported from
    tmp: str  # per-run scratch directory, removed at exit
    seed: int
    seconds: float
    inputs: dict[str, str]
    sizes: object
    tracer: Tracer
    spark: object = None
    attempted: int = 0
    failed: int = 0
    notes: dict[str, object] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; record what failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.setdefault("failures", []).append(what)


def spark_conf(run: Run) -> dict[str, str]:
    """Session settings of the benchmark: everything Spark writes goes to
    the run's scratch directory."""
    return {
        "spark.local.dir": os.path.join(run.tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run.tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={run.tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.checkpointLocation": os.path.join(run.tmp, "ckpt"),
    }


def start_session(run: Run, cpus: int | None = None):
    """(Re)start the engine's SparkSession; returns it. A restart keeps the
    JVM and starts a fresh SparkContext on it."""
    from flink_1_3_2_hopsworks_spark import get_spark

    master = f"local[{cpus}]" if cpus else None
    run.spark = get_spark(
        app_name="perfbench", master=master, extra_conf=spark_conf(run)
    )
    run.spark.sparkContext.setLogLevel("ERROR")
    return run.spark


def stop_session(run: Run) -> None:
    if run.spark is not None:
        run.spark.stop()
        run.spark = None


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the JVM the session launched and its Python workers, and wait
    until every one of them has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is None:
        return
    with contextlib.suppress(Exception):
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except Exception:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.time() + timeout
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid
