"""The traced run: spans around calls into each layer, plus Spark's own
event log and streaming progress, folded into per-layer metrics.

Spans and counts stay in memory and are folded when the run ends. Jobs
in the event log are attributed to an op by submission time, never by
job group: the loop runs one op at a time, while the fan-out's pool
threads and the stream execution threads do not carry the caller's job
group.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# --------------------------------------------------------------------------
# Spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans on the calling thread. A disabled tracer
    records nothing, so the untraced run pays one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = Span(len(self.spans), self._stack[-1] if self._stack else None, name,
                  time.time(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover."""
    return span.duration - covered([(c.start, c.end) for c in children], span.start, span.end)


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
PY_NODE_MARKERS = ("Python", "InPandas", "InArrow")
PY_METRICS = {
    "data sent to Python workers": "to_python",
    "data returned from Python workers": "from_python",
    "number of output rows": "rows_from_python",
}


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for an uncompressed event log under ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    if any(m in plan.get("nodeName", "") for m in PY_NODE_MARKERS):
        for metric in plan.get("metrics", ()):
            kind = PY_METRICS.get(metric.get("name"))
            if kind is not None:
                out[metric["accumulatorId"]] = kind
    for child in plan.get("children", ()):
        _python_accumulators(child, out)


@dataclass
class EventLog:
    jobs: list[dict] = field(default_factory=list)  # {id, submit, stages}
    stage_submit: dict = field(default_factory=dict)  # (stage, attempt) -> ms
    tasks: list[dict] = field(default_factory=list)
    python_accums: dict = field(default_factory=dict)  # accumulator id -> kind


def parse_event_log(log_dir: str) -> EventLog:
    log = EventLog()
    paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                   if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus"))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a torn last line while the session stops
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    log.jobs.append(
                        {"id": ev["Job ID"], "submit": ev["Submission Time"],
                         "stages": list(ev.get("Stage IDs", ()))}
                    )
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    log.stage_submit[(info["Stage ID"], info["Stage Attempt ID"])] = info.get(
                        "Submission Time"
                    )
                elif kind == "SparkListenerTaskEnd":
                    log.tasks.append(_task_record(ev))
                elif kind in (SQL_START, SQL_AQE_UPDATE):
                    _python_accumulators(ev.get("sparkPlanInfo", {}), log.python_accums)
    return log


def _task_record(ev: dict) -> dict:
    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
    shuffle_read = m.get("Shuffle Read Metrics", {})
    return {
        "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
        "launch": info.get("Launch Time", 0),
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "input": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "shuffle_read": shuffle_read.get("Remote Bytes Read", 0)
        + shuffle_read.get("Local Bytes Read", 0),
        "shuffle_write": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "spill": m.get("Disk Bytes Spilled", 0),
        "peak_mem": m.get("Peak Execution Memory", 0),
        "accums": {a["ID"]: _num(a.get("Update")) for a in info.get("Accumulables", ())
                   if "ID" in a},
    }


def attribute_jobs(jobs: list[dict], windows: list[tuple[float, float]]) -> dict[int, int]:
    """``{job id: window index}`` for every job submitted inside a window
    (epoch-second bounds; event-log times are epoch milliseconds)."""
    out = {}
    for job in jobs:
        t = job["submit"] / 1000.0
        for i, (lo, hi) in enumerate(windows):
            if lo <= t <= hi:
                out[job["id"]] = i
                break
    return out


def exec_totals(log: EventLog, windows: list[tuple[float, float]]) -> dict:
    """Task metrics summed over every job submitted inside ``windows``."""
    owner = attribute_jobs(log.jobs, windows)
    stages = {s for job in log.jobs if job["id"] in owner for s in job["stages"]}
    tasks = [t for t in log.tasks if t["stage"][0] in stages]
    tot = {
        "jobs": len(owner),
        "stages": len({t["stage"] for t in tasks}),
        "tasks": len(tasks),
        "peak_mem": max((t["peak_mem"] for t in tasks), default=0),
        "wait_ms": sum(
            max(0, t["launch"] - (log.stage_submit.get(t["stage"]) or t["launch"])) for t in tasks
        ),
    }
    for key in ("run_ms", "cpu_ns", "gc_ms", "input", "shuffle_read", "shuffle_write", "spill"):
        tot[key] = sum(t[key] for t in tasks)
    py = {"to_python": 0.0, "from_python": 0.0, "rows_from_python": 0.0}
    for t in tasks:
        for acc_id, update in t["accums"].items():
            kind = log.python_accums.get(acc_id)
            if kind is not None:
                py[kind] += update
    tot.update(py)
    return tot


# --------------------------------------------------------------------------
# Streaming progress
# --------------------------------------------------------------------------


def _iso_epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def make_progress_listener():
    """A ``StreamingQueryListener`` that keeps every query's start time and
    progress events. Built lazily so this module imports without Spark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.started: dict[str, float] = {}
            self.progress: dict[str, list[dict]] = {}
            self.last_event = time.time()

        def onQueryStarted(self, event):
            with self.lock:
                self.started[str(event.runId)] = _iso_epoch(event.timestamp)
                self.last_event = time.time()

        def onQueryProgress(self, event):
            p = event.progress
            rec = {
                "start": _iso_epoch(p.timestamp),
                "rows": p.numInputRows,
                "duration": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_mem": sum(s.memoryUsedBytes for s in p.stateOperators),
                "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
            }
            with self.lock:
                self.progress.setdefault(str(p.runId), []).append(rec)
                self.last_event = time.time()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.last_event = time.time()

        def settle(self, quiet_s: float = 1.0, limit_s: float = 10.0) -> None:
            """Wait until the listener bus has been quiet for ``quiet_s``."""
            deadline = time.time() + limit_s
            while time.time() < deadline and time.time() - self.last_event < quiet_s:
                time.sleep(0.1)

        def drains(self) -> list[dict]:
            """One record per query: wall from start to the end of its last
            trigger, and its progress events."""
            with self.lock:
                out = []
                for run_id, t0 in self.started.items():
                    prog = self.progress.get(run_id, [])
                    end = max(
                        (p["start"] + p["duration"].get("triggerExecution", 0) / 1000.0
                         for p in prog), default=t0,
                    )
                    out.append({"start": t0, "end": end, "progress": prog})
                return out

    return ProgressListener()


def streaming_totals(drains: list[dict], windows: list[tuple[float, float]]) -> dict:
    """Progress summed over every query started inside ``windows``."""
    mine = [d for d in drains if any(lo <= d["start"] <= hi for lo, hi in windows)]
    tot = {k: 0.0 for k in ("drain_s", "batches", "input_rows", "trigger_ms", "add_batch_ms",
                            "query_planning_ms", "wal_commit_ms", "overhead_s", "state_rows",
                            "state_mem", "state_commit_ms")}
    for d in mine:
        prog = d["progress"]
        wall = d["end"] - d["start"]
        trigger_ms = sum(p["duration"].get("triggerExecution", 0) for p in prog)
        tot["drain_s"] += wall
        tot["batches"] += len(prog)
        tot["input_rows"] += sum(p["rows"] for p in prog)
        tot["trigger_ms"] += trigger_ms
        tot["add_batch_ms"] += sum(p["duration"].get("addBatch", 0) for p in prog)
        tot["query_planning_ms"] += sum(p["duration"].get("queryPlanning", 0) for p in prog)
        tot["wal_commit_ms"] += sum(p["duration"].get("walCommit", 0) for p in prog)
        tot["overhead_s"] += max(0.0, wall - trigger_ms / 1000.0)
        if prog:
            tot["state_rows"] += prog[-1]["state_rows"]
            tot["state_mem"] += prog[-1]["state_mem"]
        tot["state_commit_ms"] += sum(p["state_commit_ms"] for p in prog)
    return tot


def drain_intervals(drains: list[dict], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(d["start"], d["end"]) for d in drains if lo <= d["start"] <= hi]


# --------------------------------------------------------------------------
# ETL stage boundaries and sink counts
# --------------------------------------------------------------------------

#: ``pipeline/job.py`` names wrapped in a traced run, in call order. Each
#: stage runs from its first boundary call to the next stage's first call.
ETL_STAGES = (
    ("ingest", "memoized_write", 0),
    ("summary", "memoized_write", 1),
    ("merge_upsert", "upsert_append", 0),
    ("dims", "build_dimensions", 0),
    ("fact_upsert", "build_fact", 0),
    ("fk_report", "fk_integrity_report", 0),
)


def parquet_files(path: str) -> dict[str, int]:
    """``{file: bytes}`` for the data files under a sink path."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith("part-"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def parquet_rows(paths) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths if p.endswith(".parquet"))


class EtlProbe:
    """Wraps the names ``pipeline/job.py`` calls, recording when each is
    entered and what the sink functions wrote. Install once; the probe
    records only while :attr:`active`."""

    def __init__(self, job_module):
        self.job = job_module
        self.active = False
        self.calls: list[tuple[str, float]] = []
        self.offered: list = []  # DataFrames handed to upsert_append
        self.written = self._zero()

    @staticmethod
    def _zero() -> dict[str, int]:
        return {"rows": 0, "files": 0, "bytes": 0, "upsert_rows": 0}

    def take_written(self) -> dict[str, int]:
        """What the sinks wrote since the last call: data rows, files and
        bytes, and the rows ``upsert_append`` reported as novel."""
        out, self.written = self.written, self._zero()
        return out

    def _wrap(self, name: str, sink: bool):
        orig = getattr(self.job, name)

        def wrapper(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            self.calls.append((name, time.time()))
            if not sink:
                return orig(*args, **kwargs)
            path = args[1]
            before = parquet_files(path)
            if name == "upsert_append":
                self.offered.append(args[0])
            result = orig(*args, **kwargs)
            if name == "upsert_append":
                self.written["upsert_rows"] += result
            new = {p: b for p, b in parquet_files(path).items() if p not in before}
            self.written["files"] += len(new)
            self.written["bytes"] += sum(new.values())
            self.written["rows"] += parquet_rows(new)
            return result

        return wrapper

    def install(self) -> "EtlProbe":
        for name in ("memoized_write", "upsert_append"):
            setattr(self.job, name, self._wrap(name, sink=True))
        for name in ("build_dimensions", "build_fact", "fk_integrity_report"):
            setattr(self.job, name, self._wrap(name, sink=False))
        return self

    def begin(self) -> None:
        self.calls.clear()
        self.offered.clear()
        self.active = True

    def end(self) -> list:
        self.active = False
        return list(self.offered)

    def stage_seconds(self, op_start: float, op_end: float) -> dict[str, float]:
        """Seconds per stage of the run that just ended."""
        marks = []
        for stage, name, nth in ETL_STAGES:
            hits = [t for n, t in self.calls if n == name]
            marks.append((stage, hits[nth] if len(hits) > nth else None))
        out = {}
        for i, (stage, t) in enumerate(marks):
            if t is None:
                out[stage] = 0.0
                continue
            lo = op_start if i == 0 else t
            nxt = next((m for _, m in marks[i + 1:] if m is not None), op_end)
            out[stage] = max(0.0, nxt - lo)
        return out
