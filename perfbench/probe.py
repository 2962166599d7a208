"""Measurements taken from outside the program: process-tree CPU from
/proc, JVM GC and JIT time through py4j, Spark's SQL status store
(which is populated with the UI off), and the drift anchors."""

from __future__ import annotations

import os
import re
import time
from collections import defaultdict

import numpy as np

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(parent pid -> child pids, pid -> CPU ticks of it and its reaped
    children) for every process visible in /proc."""
    children: dict[int, list[int]] = defaultdict(list)
    cpu: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        fields = stat[stat.rindex(")") + 2 :].split()
        children[int(fields[1])].append(int(pid))
        cpu[int(pid)] = sum(int(f) for f in fields[11:15])
    return children, cpu


def descendants(root: int) -> list[int]:
    children, _ = _proc_table()
    out, stack = [], list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process and all its descendants (the JVM,
    the pyspark daemon and its workers), including reaped children."""
    children, cpu = _proc_table()
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += cpu.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total / _TICK


def host_steal_s() -> float:
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def jvm_times(spark) -> tuple[float, float]:
    """(GC seconds, JIT compile seconds) since JVM start."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return gc / 1e3, mf.getCompilationMXBean().getTotalCompilationTime() / 1e3


def anchors(spark) -> dict[str, float]:
    """Fixed work that no change to the program moves: a numpy GEMM in
    this Python process and a JVM range sum. Their drift between runs is
    the box, not the code."""
    a = np.random.default_rng(0).standard_normal((384, 384))
    t = time.perf_counter()
    for _ in range(20):
        a = np.tanh(a @ a.T / 384.0)
    gemm = time.perf_counter() - t
    t = time.perf_counter()
    spark.range(0, 50_000_000, 1, 4).selectExpr("sum(id % 7)").collect()
    return {"anchor.gemm_s": gemm, "anchor.jvm_range_s": time.perf_counter() - t}


_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str) -> float:
    """A status-store metric string as a number in base units (bytes,
    seconds or a count): '1,000', '30.5 KiB', '642 ms', or the
    'total (min, med, max ...)\\n4.4 s (...)' form of task-summed ones."""
    line = text.strip().splitlines()[-1] if "\n" in text else text
    m = re.match(r"\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


# The status-store metrics the layer counters read. Metrics are fetched
# by accumulator id, so a plan node costs two py4j calls plus one per
# wanted metric, not three per metric.
WANTED = {
    "scan time", "size of files read", "number of files read",
    "shuffle bytes written", "spill size", "written output", "number of output rows",
    "time to start Python workers", "time to initialize Python workers",
    "time to run Python workers", "data sent to Python workers",
    "data returned from Python workers",
}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,()]+),(\d+),\w+\)")


class SqlMetrics:
    """Per-operator metrics of the SQL executions that ran since the
    last call, summed by (plan node name, metric name)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._tracker = spark.sparkContext.statusTracker()
        self._seen = -1
        self._seen = max((e.executionId() for e in self._new_executions()), default=-1)

    def _new_executions(self) -> list:
        # Listener events are delivered asynchronously: wait until the
        # store has seen the end of every execution that already ran.
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return [
            e for e in self._conv.asJava(self._store.executionsList())
            if e.executionId() > self._seen
        ]

    def take(self) -> dict:
        """{'nodes': {(node, metric): value}, 'jobs': n, 'tasks': n,
        'exec_s': wall seconds of the executions} for executions newer
        than the previous take."""
        nodes: dict[tuple[str, str], float] = defaultdict(float)
        jobs = tasks = 0
        exec_s = 0.0
        for e in self._new_executions():
            eid = e.executionId()
            self._seen = max(self._seen, eid)
            done = e.completionTime()
            if done.isDefined():
                exec_s += (done.get().getTime() - e.submissionTime()) / 1e3
            values = self._store.executionMetrics(eid)
            for node in self._conv.asJava(self._store.planGraph(eid).allNodes()):
                name = node.name().strip()
                for metric, acc in _PLAN_METRIC.findall(node.metrics().toString()):
                    if metric in WANTED:
                        v = values.get(int(acc))
                        if v.isDefined():
                            nodes[(name, metric)] += parse_metric(v.get())
            for job in self._conv.asJava(e.jobs().keys()):
                jobs += 1
                info = self._tracker.getJobInfo(job)
                for sid in info.stageIds if info else ():
                    stage = self._tracker.getStageInfo(sid)
                    tasks += stage.numTasks if stage else 0
        return {"nodes": dict(nodes), "jobs": jobs, "tasks": tasks, "exec_s": exec_s}


PY_NODES = re.compile(r"InPandas|InArrow|Python")


def layer_sums(sql: dict) -> dict[str, float]:
    """Fold one take() into the io / exec / operators counters."""
    out: dict[str, float] = defaultdict(float)
    for (node, metric), v in sql["nodes"].items():
        if node.startswith("Scan"):
            out["io.scan_s"] += v if metric == "scan time" else 0.0
            out["io.read_mb"] += v / 2**20 if metric == "size of files read" else 0.0
            out["io.files_read"] += v if metric == "number of files read" else 0.0
        if metric == "shuffle bytes written":
            out["exec.shuffle_write_mb"] += v / 2**20
        elif metric == "spill size":
            out["exec.spill_mb"] += v / 2**20
        elif metric == "written output":
            out["written_bytes"] += v
        if node.startswith("Execute InsertIntoHadoopFsRelationCommand") and metric == "number of output rows":
            out["written_rows"] += v
        if PY_NODES.search(node):
            key = {
                "time to start Python workers": "operators.py_boot_s",
                "time to initialize Python workers": "operators.py_init_s",
                "time to run Python workers": "operators.py_run_s",
                "number of output rows": "py_rows_out",
            }.get(metric)
            if key:
                out[key] += v
            elif metric == "data sent to Python workers":
                out["operators.py_sent_mb"] += v / 2**20
            elif metric == "data returned from Python workers":
                out["operators.py_returned_mb"] += v / 2**20
    return out
