"""Read-only measurement from outside the program.

* :class:`Tracer` keeps spans in memory and derives per-layer self time.
* :class:`QueryProbe` registers a ``QueryExecutionListener`` and walks
  each executed plan's SQL metrics (Python UDF nodes, scans, exchanges,
  writes). Nothing in the library changes; the listener only reads.
* :class:`StageProbe` reads Spark's status store (jobs, stages, tasks,
  shuffle, spill) for a window of job ids.
* :class:`HostProbe` records host health: calibration loops, steal and
  VM-wide CPU from ``/proc/stat``, and the peak RSS of this process tree
  (this process, the JVM, Python workers), sampled by a thread.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time
import zlib

# ---- spans -------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, layer, start, end, parent, repeat/batch id.

    Disabled tracers record nothing, so an untraced run pays one
    attribute test per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    def add(self, name, layer, start, end, rep=None, parent=None) -> int:
        if not self.enabled:
            return -1
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(
            {"id": len(self.spans), "name": name, "layer": layer, "start": start,
             "end": end, "parent": parent, "rep": rep}
        )
        return len(self.spans) - 1

    def span(self, name, layer, rep=None):
        return _Span(self, name, layer, rep)

    def self_times(self, rep=None) -> dict:
        """Per-layer self time: each span's duration minus the part of
        it that its children cover. ``rep`` limits it to one repeat."""
        spans = [s for s in self.spans if rep is None or s["rep"] == rep]
        kids: dict = {}
        for s in spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict = {}
        for s in spans:
            covered, last = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, last), min(b, s["end"])
                if b > a:
                    covered += b - a
                    last = b
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
        return out


class _Span:
    def __init__(self, tracer, name, layer, rep):
        self.t, self.name, self.layer, self.rep = tracer, name, layer, rep

    def __enter__(self):
        self.start = time.time()
        if self.t.enabled:
            self.id = self.t.add(self.name, self.layer, self.start, self.start, self.rep)
            self.t._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        if self.t.enabled:
            self.t._stack.pop()
            self.t.spans[self.id]["end"] = time.time()
        return False


# ---- Spark SQL metrics ----------------------------------------------------------

_PY_METRICS = ("pythonTotalTime", "pythonInitTime", "pythonBootTime",
               "pythonDataSent", "pythonDataReceived", "pythonNumRowsReceived")


class _Listener:
    """py4j implementation of ``QueryExecutionListener``: it only queues
    the finished QueryExecution; plans are walked later, off the bus."""

    def __init__(self):
        self.events: list = []
        self.lock = threading.Lock()

    def onSuccess(self, func_name, qe, duration_ns):
        with self.lock:
            self.events.append((time.time(), func_name, qe, duration_ns / 1e9))

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _metric(node, name):
    opt = node.metrics().get(name)
    if opt.isEmpty():
        return 0.0, ""
    m = opt.get()
    return float(m.value()), m.metricType()


def _seconds(value, mtype) -> float:
    return value / 1e9 if mtype == "nsTiming" else value / 1e3


def plan_metrics(jvm, plan, seen: set) -> dict:
    """Sum the SQL metrics this benchmark reads over one executed plan.
    Descends through adaptive plans, query stages and cached relations;
    a cached relation (``seen`` holds identity hashes) counts once."""
    out = {"python_init_s": 0.0, "python_exec_s": 0.0, "arrow_bytes_to_python": 0.0,
           "arrow_bytes_from_python": 0.0, "udf_rows": 0.0, "scan_s": 0.0,
           "scan_bytes": 0.0, "exchanges": 0, "bytes_written": 0.0, "sinks": []}
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue
        if cls == "InMemoryTableScanExec":
            cached = node.relation().cachedPlan()
            ident = jvm.System.identityHashCode(cached)
            if ident not in seen:
                seen.add(ident)
                stack.append(cached)
        elif "Python" in cls or "InPandas" in cls or "InArrow" in cls:
            vals = {k: _metric(node, k) for k in _PY_METRICS}
            out["python_init_s"] += sum(_seconds(*vals[k]) for k in ("pythonInitTime", "pythonBootTime"))
            out["python_exec_s"] += _seconds(*vals["pythonTotalTime"])
            out["arrow_bytes_to_python"] += vals["pythonDataSent"][0]
            out["arrow_bytes_from_python"] += vals["pythonDataReceived"][0]
            out["udf_rows"] += vals["pythonNumRowsReceived"][0]
        elif cls == "FileSourceScanExec":
            out["scan_s"] += _seconds(*_metric(node, "scanTime"))
            out["scan_bytes"] += _metric(node, "filesSize")[0]
        elif cls == "ShuffleExchangeExec":
            out["exchanges"] += 1
        elif cls == "DataWritingCommandExec":
            out["bytes_written"] += _metric(node, "numOutputBytes")[0]
            cmd = node.cmd()
            if cmd.getClass().getSimpleName() == "InsertIntoHadoopFsRelationCommand":
                out["sinks"].append(cmd.outputPath().toString())
        stack.extend(_seq(node.children()))
    return out


class QueryProbe:
    """Collects the batch queries the session finishes while
    :meth:`listening`, with their SQL metrics. ``harvest()`` drains the
    listener bus and returns the queries finished since the previous
    harvest."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.jvm = spark.sparkContext._jvm
        ensure_callback_server_started(spark.sparkContext._gateway)
        self.listener = _Listener()

    @contextlib.contextmanager
    def listening(self):
        manager = self.spark._jsparkSession.listenerManager()
        manager.register(self.listener)
        try:
            yield
        finally:
            manager.unregister(self.listener)

    def harvest(self) -> list:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        with self.listener.lock:
            events, self.listener.events = self.listener.events, []
        seen: set = set()
        out = []
        for end, func, qe, dur in events:
            rec = plan_metrics(self.jvm, qe.executedPlan(), seen)
            rec.update(func=func, end=end, start=end - dur, dur_s=dur)
            out.append(rec)
        return out


# ---- status store ------------------------------------------------------------------


class StageProbe:
    """Jobs, stages and tasks Spark ran since :meth:`mark`."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self.job_mark = -1
        self.stage_mark = -1

    def mark(self):
        ids = [int(j.jobId()) for j in _jlist(self.store.jobsList(None))]
        self.job_mark = max(ids, default=-1)
        self.stage_mark = max((int(s.stageId()) for s in self._stages()), default=-1)

    def _stages(self) -> list:
        return _jlist(self.store.stageList(None, False, False, self._no_quantiles, None))

    def since_mark(self) -> dict:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = [j for j in _jlist(self.store.jobsList(None)) if int(j.jobId()) > self.job_mark]
        stages = [s for s in self._stages()
                  if int(s.stageId()) > self.stage_mark and s.status().toString() == "COMPLETE"]
        out = {"jobs": len(jobs), "stages": len(stages), "tasks": 0,
               "shuffle_write_bytes": 0, "shuffle_records": 0, "spill_bytes": 0,
               "task_s_max": 0.0, "task_s_p50": 0.0}
        costliest, run_ms = None, -1
        for s in stages:
            out["tasks"] += int(s.numCompleteTasks())
            out["shuffle_write_bytes"] += int(s.shuffleWriteBytes())
            out["shuffle_records"] += int(s.shuffleWriteRecords())
            out["spill_bytes"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
            if int(s.executorRunTime()) > run_ms:
                costliest, run_ms = s, int(s.executorRunTime())
        if costliest is not None:
            tasks = _jlist(self.store.taskList(costliest.stageId(), costliest.attemptId(), 10_000))
            secs = [int(t.duration().get()) / 1e3 for t in tasks if t.duration().isDefined()]
            if secs:
                out["task_s_max"] = max(secs)
                out["task_s_p50"] = statistics.median(secs)
        return out


def _jlist(x) -> list:
    """A Scala Seq or java.util.List as a Python list."""
    if hasattr(x, "apply") and hasattr(x, "size"):
        return _seq(x)
    return list(x)


def persistent_rdds(spark) -> list:
    return list(spark.sparkContext._jsc.getPersistentRDDs().keySet())


class CacheSampler:
    """Largest block-manager footprint of cached RDDs while running."""

    def __init__(self, spark, period: float = 0.1):
        self.sc = spark.sparkContext._jsc.sc()
        self.period = period
        self.max_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.wait(self.period):
            infos = self.sc.getRDDStorageInfo()
            self.max_bytes = max(self.max_bytes, sum(int(i.memSize()) + int(i.diskSize()) for i in infos))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


# ---- host health -------------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def proc_stat() -> tuple:
    """(busy CPU seconds, steal seconds) summed over all CPUs."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = vals[:8]
    return (user + nice + system + irq + softirq) / _CLK, steal / _CLK


def calibrate() -> dict:
    """Fixed work on this core: an interpreter loop and crc32 of 32 MiB."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i & 7
    loop = time.perf_counter() - t
    block = bytes(range(256)) * 4096
    t = time.perf_counter()
    for _ in range(32):
        zlib.crc32(block)
    return {"pyloop_s": loop, "crc32_s": time.perf_counter() - t}


def _tree_rss_mb(root: int) -> float:
    children: dict = {}
    rss: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            children.setdefault(int(fields[1]), []).append(int(pid))
            rss[int(pid)] = int(fields[21]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            continue
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total / 2**20


class HostProbe:
    """Host health for one run: calibration before and after, steal,
    and the peak RSS of this process tree (sampled every 0.5 s)."""

    def __init__(self):
        self.before = calibrate()
        self.stat0 = proc_stat()
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def _sample(self):
        while True:
            self.peak_rss_mb = max(self.peak_rss_mb, _tree_rss_mb(os.getpid()))
            if self._stop.wait(0.5):
                return

    def finish(self) -> dict:
        self._stop.set()
        self._thread.join()
        after = calibrate()
        busy, steal = proc_stat()
        return {
            "pyloop_s": max(self.before["pyloop_s"], after["pyloop_s"]),
            "crc32_s": max(self.before["crc32_s"], after["crc32_s"]),
            "steal_s": steal - self.stat0[1],
            "peak_rss_mb": self.peak_rss_mb,
            "calibration": {"before": self.before, "after": after},
            "cpu_s_total": busy - self.stat0[0],
        }
