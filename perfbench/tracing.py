"""Spans, Spark job/stage/task statistics, executed-plan SQL metrics and
RSS sampling, all read from outside the engine.

Every timed call into the engine is an *op*. An op's wall time is split
into child spans by the client (``context`` = ``query_ctx``, ``plan`` =
``search``/``batch_search`` returning its lazy DataFrame, ``exec`` =
``collect``). With tracing on, the op also runs under its own Spark job
group, and after the op has ended (outside its wall time) the tracer
reads the group's jobs from the status tracker/store and walks the
executed plan for its SQL metrics.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Any, Dict, List


class Tracer:
    """In-memory span store plus the per-op Spark statistics."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: List[Dict[str, Any]] = []
        self.ops: List[Dict[str, Any]] = []
        self._stack: List[int] = []
        self.bookkeeping_s = 0.0  # client time spent reading trace data

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.ops[-1]["op"] if self.ops else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, kind: str, **attrs):
        """One timed engine call. Yields the op record; the caller may
        attach ``df`` (the DataFrame it collected) and ``rows``."""
        rec: Dict[str, Any] = {"op": len(self.ops), "kind": kind, "error": None}
        rec.update(attrs)
        self.ops.append(rec)
        group = f"perfbench-{rec['op']}"
        before = None
        t = time.perf_counter()
        cpu0 = tree_cpu_s(os.getpid())
        self.bookkeeping_s += time.perf_counter() - t
        if self.enabled:
            t = time.perf_counter()
            before = set(self.sc.statusTracker().getJobIdsForGroup(None))
            self.sc.setJobGroup(group, kind)
            self.bookkeeping_s += time.perf_counter() - t
        try:
            with self.span(kind) as sp:
                yield rec
        except Exception as e:  # an engine error is a failed op, not a crash
            rec["error"] = f"{type(e).__name__}: {e}"
        finally:
            rec["wall_s"] = sp["end"] - sp["start"]
            t = time.perf_counter()
            rec["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
            self.bookkeeping_s += time.perf_counter() - t
            children = [s for s in self.spans if s["parent"] == sp["id"]]
            for c in children:
                rec[c["name"] + "_s"] = c["end"] - c["start"]
            rec["covered_s"] = sum(c["end"] - c["start"] for c in children)
            if self.enabled:
                t = time.perf_counter()
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                rec["spark"] = self._job_stats(group, before)
                df = rec.pop("df", None)
                if df is not None and rec["error"] is None:
                    rec["plan"] = plan_summary(df)
                self.bookkeeping_s += time.perf_counter() - t
            else:
                rec.pop("df", None)

    def self_times(self) -> Dict[str, float]:
        """Total self time per span name: duration minus the part of it
        that child spans cover."""
        child_s: Dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: Dict[str, float] = {}
        for s in self.spans:
            d = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    # -- Spark status tracker / store ------------------------------------
    def _job_stats(self, group: str, before_ungrouped) -> Dict[str, float]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        # jobs submitted from engine threads do not inherit the group;
        # they show up as new ungrouped jobs (the client is closed-loop,
        # so nothing else runs meanwhile)
        jobs = set(tracker.getJobIdsForGroup(group))
        jobs |= set(tracker.getJobIdsForGroup(None)) - before_ungrouped
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        store = jsc.statusStore()
        run_ms = cpu_ns = tasks = shuffle_w = 0
        for s in stages:
            try:
                sd = store.lastStageAttempt(s)
            except Exception:  # a skipped stage has no attempt data
                continue
            run_ms += sd.executorRunTime()
            cpu_ns += sd.executorCpuTime()
            tasks += sd.numCompleteTasks()
            shuffle_w += sd.shuffleWriteBytes()
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": tasks,
            "run_ms": float(run_ms),
            "cpu_ms": cpu_ns / 1e6,
            "shuffle_write_bytes": float(shuffle_w),
        }


# -- executed-plan SQL metrics -------------------------------------------
def _metric_ms(metric) -> float:
    kind = metric.metricType()
    v = float(metric.value())
    if kind == "nsTiming":
        return v / 1e6
    return v


def _scan_root(node) -> str:
    try:
        return str(node.relation().location().rootPaths().head().toString())
    except Exception:  # not a file scan
        return ""


def _walk(node, parents, out):
    name = str(node.nodeName())
    metrics: Dict[str, Any] = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metrics[str(kv._1())] = kv._2()
    rec = {"name": name, "metrics": metrics, "parents": parents}
    if name.startswith("Scan"):
        rec["path"] = _scan_root(node)
    out.append(rec)
    kids = node.children()
    for i in range(kids.size()):
        _walk(kids.apply(i), parents + [rec], out)
    subs = node.subqueries()
    for i in range(subs.size()):
        _walk(subs.apply(i), parents + [rec], out)


def _val(rec, key) -> float:
    m = rec["metrics"].get(key)
    return float(m.value()) if m is not None else 0.0


def plan_summary(df) -> Dict[str, float]:
    """Scan rows/bytes/files, Python-node time, exchanges and broadcast
    size, read from the executed plan of a DataFrame after ``collect``."""
    nodes: List[Dict[str, Any]] = []
    _walk(df._jdf.queryExecution().executedPlan(), [], nodes)
    s = {
        "postings_rows": 0.0, "postings_bytes": 0.0, "postings_files": 0.0,
        "postings_kept": 0.0, "docs_rows": 0.0, "scan_ms": 0.0,
        "ann_rows": 0.0, "ann_files": 0.0,
        "python_ms": 0.0, "python_init_ms": 0.0, "python_bytes_in": 0.0,
        "python_rows_out": 0.0, "exchanges": 0.0, "shuffle_bytes": 0.0,
        "broadcast_bytes": 0.0, "cogroup": 0.0, "python_nodes": 0.0,
    }
    for n in nodes:
        name, m = n["name"], n["metrics"]
        if "scanTime" in m:
            s["scan_ms"] += _metric_ms(m["scanTime"])
        path = n.get("path", "")
        if path:
            rows = _val(n, "numOutputRows")
            if "/postings" in path:
                s["postings_rows"] += rows
                s["postings_bytes"] += _val(n, "filesSize")
                s["postings_files"] += _val(n, "numFiles")
                kept = rows
                for p in reversed(n["parents"]):
                    if p["name"] == "Filter":
                        kept = _val(p, "numOutputRows")
                        break
                    if p["name"] not in ("ColumnarToRow", "InputAdapter", "Project"):
                        break
                s["postings_kept"] += kept
            elif "/docs" in path:
                s["docs_rows"] += rows
            elif "/ann/" in path:
                s["ann_rows"] += rows
                s["ann_files"] += _val(n, "numFiles")
        if "pythonDataSent" in m:
            s["python_nodes"] += 1
            s["python_ms"] += _metric_ms(m["pythonTotalTime"]) if "pythonTotalTime" in m else 0.0
            for k in ("pythonBootTime", "pythonInitTime"):
                if k in m:
                    s["python_init_ms"] += _metric_ms(m[k])
            s["python_bytes_in"] += _val(n, "pythonDataSent")
            s["python_rows_out"] += _val(n, "pythonNumRowsReceived")
        if "CoGroup" in name:
            s["cogroup"] = 1.0
        if name == "Exchange":
            s["exchanges"] += 1
        if "shuffleBytesWritten" in m:
            s["shuffle_bytes"] += _val(n, "shuffleBytesWritten")
        if name == "BroadcastExchange":
            s["broadcast_bytes"] += _val(n, "dataSize")
    return s


# -- RSS sampling from /proc ---------------------------------------------
def _proc_table():
    """Every process's children, and its CPU ticks so far (user +
    system, plus those of its exited, waited-for children)."""
    kids: Dict[int, List[int]] = {}
    ticks: Dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            kids.setdefault(int(fields[1]), []).append(int(d))
            ticks[int(d)] = sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return kids, ticks


def _below(kids: Dict[int, List[int]], pid: int) -> List[int]:
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def descendants(pid: int) -> List[int]:
    return _below(_proc_table()[0], pid)


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by ``pid`` and every process below it:
    the driver, its JVM and the Python workers."""
    kids, ticks = _proc_table()
    cpu = sum(ticks.get(p, 0) for p in [pid] + _below(kids, pid))
    return cpu / os.sysconf("SC_CLK_TCK")


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except (OSError, IndexError, ValueError):
        return 0.0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


class RssSampler:
    """Samples the RSS of every descendant of this process (the driver
    JVM and the Python workers it forks). The process tree changes
    rarely, so it is re-listed only every few samples. Peaks are of the
    sum over processes; ``workers_peak_mb`` counts Python processes
    only."""

    PERIOD_S = 0.1
    RESCAN_EVERY = 10  # samples between re-listings of the process tree

    def __init__(self):
        self.peak_mb = 0.0
        self.workers_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset_workers_peak(self) -> None:
        self.workers_peak_mb = 0.0

    def _loop(self) -> None:
        me = os.getpid()
        n = 0
        while not self._stop.is_set():
            if n % self.RESCAN_EVERY == 0:
                procs = [(p, _is_python(p)) for p in descendants(me)]
            n += 1
            total = workers = 0.0
            for p, is_python in procs:
                r = _rss_mb(p)
                total += r
                if is_python:
                    workers += r
            self.peak_mb = max(self.peak_mb, total)
            self.workers_peak_mb = max(self.workers_peak_mb, workers)
            self._stop.wait(self.PERIOD_S)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def median(xs) -> float:
    xs = [float(x) for x in xs]
    return statistics.median(xs) if xs else 0.0
