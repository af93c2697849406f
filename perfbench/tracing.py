"""Tracing for the benchmark: spans recorded around calls into the
engine's layers, Spark's own event log, streaming progress events, and
peak RSS sampled from ``/proc``.

All of it lives outside the engine. Spans are kept in memory and
written out at exit. Counts come from Spark's event log, enabled only
in the traced run; every job carries the job group the benchmark set
for the span that caused it, so jobs and stages are attributed to the
span's trace id without any change to the engine.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict


class Spans:
    """Span recorder: name, start, end and parent; spans of one query
    or drain share a trace id."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack = threading.local()
        self._next = 0
        self._lock = threading.Lock()

    def _parents(self) -> list:
        if not hasattr(self._stack, "s"):
            self._stack.s = []
        return self._stack.s

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        parents = self._parents()
        parent = parents[-1] if parents else None
        with self._lock:
            sid = self._next
            self._next += 1
        rec = {"id": sid, "name": name,
               "parent": parent["id"] if parent else None,
               "trace": trace or (parent["trace"] if parent else f"t{sid}"),
               "start": time.perf_counter(), "end": None, **attrs}
        parents.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            parents.pop()
            with self._lock:
                self.spans.append(rec)

    def total(self, name_prefix: str) -> float:
        """Summed duration of the spans whose name starts with
        ``name_prefix``; a span nested in another of the same prefix is
        not counted twice."""
        by_id = {s["id"]: s for s in self.spans}
        tot = 0.0
        for s in self.spans:
            if not s["name"].startswith(name_prefix):
                continue
            p = by_id.get(s["parent"])
            nested = False
            while p is not None:
                if p["name"].startswith(name_prefix):
                    nested = True
                    break
                p = by_id.get(p["parent"])
            if not nested:
                tot += s["end"] - s["start"]
        return tot

    def top_level(self) -> dict[str, float]:
        """Summed duration of the spans without a parent, by name."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is None:
                out[s["name"]] += s["end"] - s["start"]
        return dict(out)

    def count(self, name_prefix: str) -> int:
        return sum(1 for s in self.spans if s["name"].startswith(name_prefix))


def wrap_module(spans: Spans, module, prefix: str, names) -> None:
    """Replace the functions ``names`` defined in ``module`` with
    span-recording wrappers. Must run before other modules import the
    names."""
    for name in names:
        fn = getattr(module, name)
        if not callable(fn) or getattr(fn, "__module__", None) != module.__name__:
            continue

        def make(fn=fn, name=name):
            @functools.wraps(fn)
            def wrapper(*a, **k):
                with spans.span(f"{prefix}.{name}"):
                    return fn(*a, **k)
            return wrapper

        setattr(module, name, make())


@contextlib.contextmanager
def job_group(spark, group: str | None):
    """Tag every job the block launches from this thread with ``group``."""
    if group is None:
        yield
        return
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


class RssSampler:
    """Peak resident set of the process tree below this process (the
    Spark JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024.0

    def _tree_kb(self) -> int:
        children = defaultdict(list)
        for stat in glob.glob("/proc/[0-9]*/stat"):
            try:
                with open(stat) as fp:
                    txt = fp.read()
                pid = int(stat.split("/")[2])
                ppid = int(txt.rsplit(")", 1)[1].split()[1])
                children[ppid].append(pid)
            except (OSError, ValueError, IndexError):
                continue
        total, todo = 0, list(children[os.getpid()])
        while todo:
            pid = todo.pop()
            todo.extend(children[pid])
            try:
                with open(f"/proc/{pid}/statm") as fp:
                    total += int(fp.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
            except (OSError, ValueError, IndexError):
                continue
        return total

    def _run(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_kb())
            self._stop.wait(self.interval)


def make_progress_listener(sink: list):
    """A StreamingQueryListener that appends every progress event (as
    the parsed JSON dict) to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_PY_METRICS = {
    "python_ms": ("time to run Python workers",),
    "python_boot_ms": ("time to start Python workers",
                       "time to initialize Python workers"),
    "arrow_bytes_sent": ("data sent to Python workers",),
    "arrow_bytes_received": ("data returned from Python workers",),
}


class EventLog:
    """The counts the traced run reports, parsed from one application's
    event log and grouped by job group (= span trace id) or by
    streaming query id."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list] = defaultdict(list)
        self.exec_plans: dict[int, dict] = {}
        self.jvm_acc: dict[int, float] = defaultdict(float)
        self.task_acc: dict[int, float] = defaultdict(float)
        self.acc_exec: dict[int, int] = {}
        with open(path) as fp:
            for line in fp:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                self._feed(ev)
        # accumulator id -> (metric name, metric type, node name)
        self.acc_meta: dict[int, tuple] = {}
        self.cached_scans: dict[int, int] = {}
        for eid, plan in self.exec_plans.items():
            n = 0
            stack = [plan]
            while stack:
                node = stack.pop()
                if node.get("nodeName") == "InMemoryTableScan":
                    n += 1
                for m in node.get("metrics", []):
                    self.acc_meta[m["accumulatorId"]] = (
                        m["name"], m.get("metricType"), node.get("nodeName"))
                    self.acc_exec[m["accumulatorId"]] = eid
                stack.extend(node.get("children", []))
            self.cached_scans[eid] = n

    def _feed(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "query": props.get("sql.streaming.queryId"),
                "exec": int(props["spark.sql.execution.id"])
                if props.get("spark.sql.execution.id") else None,
                "stages": list(ev.get("Stage IDs", [])),
                "start": ev.get("Submission Time"),
            }
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev.get("Completion Time")
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            self.stages[info["Stage ID"]] = {
                "tasks": info.get("Number of Tasks", 0),
                "time": (info.get("Completion Time") or 0)
                - (info.get("Submission Time") or 0),
            }
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            shr = m.get("Shuffle Read Metrics") or {}
            shw = m.get("Shuffle Write Metrics") or {}
            self.tasks[ev["Stage ID"]].append({
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "shuffle_read": shr.get("Remote Bytes Read", 0)
                + shr.get("Local Bytes Read", 0),
                "shuffle_write": shw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
            })
            for acc in info.get("Accumulables", []):
                upd = acc.get("Update")
                if isinstance(upd, (int, float)):
                    self.task_acc[acc["ID"]] += upd
                elif isinstance(upd, str) and upd.lstrip("-").isdigit():
                    self.task_acc[acc["ID"]] += int(upd)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.exec_plans[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            # AQE re-plans: the last plan is the executed one
            self.exec_plans[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, val in ev.get("accumUpdates", []):
                self.jvm_acc[acc_id] += val

    def job_ids(self, groups=None, queries=None) -> list[int]:
        out = []
        for jid, j in self.jobs.items():
            if groups is not None and j["group"] in groups:
                out.append(jid)
            elif queries is not None and j["query"] in queries:
                out.append(jid)
        return sorted(out)

    def exec_totals(self, job_ids) -> dict:
        """The ``exec.*`` counts over a set of jobs."""
        tot = dict(jobs=len(job_ids), stages=0, stages_skipped=0, tasks=0,
                   input_bytes=0, shuffle_read_bytes=0, shuffle_write_bytes=0,
                   spill_bytes=0, gc_ms=0, cached_scans=0, task_skew=0.0)
        longest, execs = None, set()
        for jid in job_ids:
            job = self.jobs[jid]
            if job["exec"] is not None:
                execs.add(job["exec"])
            for sid in job["stages"]:
                st = self.stages.get(sid)
                if st is None:
                    tot["stages_skipped"] += 1
                    continue
                tot["stages"] += 1
                tot["tasks"] += st["tasks"]
                for t in self.tasks.get(sid, []):
                    tot["input_bytes"] += t["input"]
                    tot["shuffle_read_bytes"] += t["shuffle_read"]
                    tot["shuffle_write_bytes"] += t["shuffle_write"]
                    tot["spill_bytes"] += t["spill"]
                    tot["gc_ms"] += t["gc_ms"]
                if longest is None or st["time"] > self.stages[longest]["time"]:
                    longest = sid
        if longest is not None and self.tasks.get(longest):
            times = sorted(t["run_ms"] for t in self.tasks[longest])
            med = times[len(times) // 2]
            tot["task_skew"] = times[-1] / med if med > 0 else float(times[-1] > 0) + 1.0
        tot["cached_scans"] = sum(self.cached_scans.get(e, 0) for e in execs)
        return tot

    def sql_metrics(self, job_ids) -> dict:
        """Summed SQL metrics (task side and JVM side) of the executions
        the jobs belong to, keyed by metric name."""
        execs = {self.jobs[j]["exec"] for j in job_ids} - {None}
        out: dict[str, float] = defaultdict(float)
        for acc_id, (name, mtype, _node) in self.acc_meta.items():
            if self.acc_exec.get(acc_id) not in execs:
                continue
            val = self.task_acc.get(acc_id, 0) + self.jvm_acc.get(acc_id, 0)
            if mtype == "nsTiming":
                val /= 1e6  # report milliseconds
            out[name] += val
        return out

    def python_metrics(self, job_ids) -> dict:
        m = self.sql_metrics(job_ids)
        out = {}
        for key, names in _PY_METRICS.items():
            out[key] = sum(v for n, v in m.items()
                           if any(n.startswith(x) for x in names))
        return out
