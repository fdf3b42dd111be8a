"""Readers of Spark's own instrumentation, used from outside the engine.

* :class:`SqlProbe` reads the SQL status store: the plan graph of every SQL
  execution a query ran (the final AQE plan once the execution ended) and
  its accumulated SQL metrics.
* :class:`StreamProbe` is a ``StreamingQueryListener`` that keeps every
  micro-batch progress report.
* :class:`RssSampler` samples the resident memory of the Spark JVM and its
  Python workers from ``/proc``.
"""

from __future__ import annotations

import os
import threading
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

from stats import parse_metric

OPERATOR_KINDS = ("HashAggregate", "Sort", "SortMergeJoin", "BroadcastHashJoin", "Window")
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowWindowPython",
)
SEP = "\u0001"
STREAM_PHASES = ("addBatch", "walCommit", "commitOffsets", "queryPlanning", "latestOffset", "getBatch")


def flush_listeners(spark) -> None:
    """Wait until Spark's listener bus has delivered every queued event, so
    the status store and the streaming listener have seen all of them."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def effective_confs(spark) -> dict[str, str]:
    """The confs a result depends on, as the session holds them."""
    conf = spark.sparkContext.getConf()
    keys = [
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.execution.arrow.pyspark.enabled",
    ]
    out = {"spark.master": spark.sparkContext.master, "spark.driver.memory": conf.get("spark.driver.memory", "")}
    out.update({k: spark.conf.get(k) for k in keys})
    return out


class SqlProbe:
    """Per-query totals from the SQL status store (executions started since
    the previous :meth:`collect`)."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._seen = self._store.executionsCount()

    def skip(self) -> None:
        self._seen = self._store.executionsCount()

    def collect(self) -> dict[str, float]:
        count = self._store.executionsCount()
        executions = self._conv.asJava(self._store.executionsList(self._seen, count - self._seen))
        self._seen = count
        out: dict[str, float] = {"sql_executions": 0, "final_plans": 0}
        for e in executions:
            eid = e.executionId()
            out["sql_executions"] += 1
            out["final_plans"] += "isFinalPlan=true" in e.physicalPlanDescription()
            # one py4j call per map instead of one per metric
            values = dict(
                _split_entry(e) for e in self._store.executionMetrics(eid).mkString(SEP).split(SEP) if e
            )
            counted: set[int] = set()
            for node in self._conv.asJava(self._store.planGraph(eid).allNodes()):
                metrics = []
                for text in node.metrics().mkString(SEP).split(SEP):
                    if not text:
                        continue
                    name, acc, kind = parse_plan_metric(text)
                    if acc not in counted:
                        counted.add(acc)
                        metrics.append((name, kind, values.get(acc)))
                _add_node(out, node.name(), metrics)
        return out


def _split_entry(text: str) -> tuple[int, str]:
    acc, _, value = text.partition(" -> ")
    return int(acc), value


def parse_plan_metric(text: str) -> tuple[str, int, str]:
    """``SQLPlanMetric(name,accumulatorId,metricType)`` as Scala prints it."""
    name, acc, kind = text[len("SQLPlanMetric("):-1].rsplit(",", 2)
    return name, int(acc), kind


def _add(out: dict[str, float], key: str, value: float) -> None:
    out[key] = out.get(key, 0.0) + value


def _add_node(out: dict[str, float], name: str, metrics) -> None:
    """Fold one plan node's metrics into the per-query totals. A node that
    repeats a subtree already counted (a cached relation drawn twice) comes
    with its already-counted accumulators filtered out."""
    if name == "Exchange":
        _add(out, "final_exchanges", 1)
    elif name == "SortMergeJoin":
        _add(out, "final_smj", 1)
    elif name == "BroadcastHashJoin":
        _add(out, "final_bhj", 1)
    if name in PYTHON_NODES:
        _add(out, "python_nodes", 1)
    for metric, kind, raw in metrics:
        # "average" metrics (hash probe iterations) carry no total; none is used
        if raw is None or kind == "average":
            continue
        v = parse_metric(raw, kind)
        if metric == "shuffle bytes written":
            _add(out, "shuffle_write_bytes", v)
        elif metric in ("local bytes read", "remote bytes read"):
            _add(out, "shuffle_read_bytes", v)
        elif metric == "spill size":
            _add(out, "spill_bytes", v)
        elif metric == "size of files read":
            _add(out, "scan_bytes", v)
        elif metric == "number of files read":
            _add(out, "scan_files", v)
        if name in PYTHON_NODES:
            if metric == "number of output rows":
                _add(out, "python_rows_out", v)
            elif metric == "data sent to Python workers":
                _add(out, "python_bytes_sent", v)
            elif metric == "data returned from Python workers":
                _add(out, "python_bytes_returned", v)
            elif metric == "time to run Python workers":
                _add(out, "python_time_ms", v)
        if name in OPERATOR_KINDS:
            if metric == "number of output rows":
                _add(out, f"{name}.rows_out", v)
            elif kind in ("timing", "nsTiming"):
                _add(out, f"{name}.time_ms", v)


def job_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            stages += 1
            tasks += stage.numTasks if stage else 0
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class StreamProbe(StreamingQueryListener):
    """Keeps the start, every progress report and the end of each streaming
    query. Callbacks arrive on Spark's listener thread; readers call
    :func:`flush_listeners` first."""

    def __init__(self):
        self._lock = threading.Lock()
        self.started: list[str] = []
        self.batches: list[dict] = []
        self.errors: list[str] = []

    def onQueryStarted(self, event):
        with self._lock:
            self.started.append(event.name)

    def onQueryProgress(self, event):
        p = event.progress
        state = p.stateOperators
        batch = {
            "query": p.name,
            "batch_id": p.batchId,
            "start": _epoch(p.timestamp),
            "input_rows": p.numInputRows,
            "trigger_ms": p.durationMs.get("triggerExecution", 0),
            "state_rows_total": sum(s.numRowsTotal for s in state),
            "state_memory_bytes": sum(s.memoryUsedBytes for s in state),
            "state_commit_ms": sum(s.commitTimeMs for s in state),
            "state_rows_dropped_by_watermark": sum(s.numRowsDroppedByWatermark for s in state),
        }
        for phase in STREAM_PHASES:
            batch[f"{phase}_ms"] = p.durationMs.get(phase, 0)
        with self._lock:
            self.batches.append(batch)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        if event.exception:
            with self._lock:
                self.errors.append(event.exception)

    def mark(self) -> tuple[int, int, int]:
        with self._lock:
            return len(self.started), len(self.batches), len(self.errors)

    def since(self, mark: tuple[int, int, int]) -> tuple[list[str], list[dict], list[str]]:
        with self._lock:
            return self.started[mark[0]:], self.batches[mark[1]:], self.errors[mark[2]:]


def process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU seconds of this process and of ``root`` with its
    descendants, including their reaped children."""
    tick = os.sysconf("SC_CLK_TCK")
    total = sum(os.times()[:4])
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15]) / tick
    return total


def host_steal_seconds() -> float:
    """CPU time the hypervisor gave to others while this machine's vCPUs
    wanted to run, summed over vCPUs (``steal`` in ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed resident memory of a process and its descendants
    (the Spark JVM and the Python workers it forks), sampled every
    ``interval`` seconds on a background thread."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self._root = root_pid
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_kib = 0

    def sample(self) -> None:
        self.peak_kib = max(self.peak_kib, sum(_rss_kib(p) for p in process_tree(self._root)))

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()
