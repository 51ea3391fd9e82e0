"""Tracing for the benchmark's traced runs.

Three sources, all read from outside the engine:

- :class:`Tracer` — spans recorded by the benchmark around each call into
  an engine layer (name, start, end, parent, request id), kept in memory
  and written out at exit;
- :func:`parse_event_log` — the Spark event log (jobs, stages, task
  metrics, SQL scan metrics), with jobs attributed to operations through
  the job group the benchmark sets around each call;
- :func:`progress_recorder` — a ``StreamingQueryListener`` that keeps every
  micro-batch's progress report.

With tracing off the :class:`Tracer` records nothing.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder. Times are epoch seconds (``time.time()``) so they line
    up with the Spark event log's epoch milliseconds."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, req: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "req": req if req is not None or parent is None else parent["req"],
            "start": time.time(),
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as a JSON list."""
        own = self_times(self.spans)
        spans = [{**s, "self_s": own[s["id"]]} for s in self.spans]
        with open(path, "w") as fh:
            json.dump(sorted(spans, key=lambda s: s["id"]), fh)


def covered(lo: float, hi: float, intervals) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id → its duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(s["start"], s["end"], children.get(s["id"], ()))
        for s in spans
    }


# -- Spark event log -------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."


def _plan_metric_ids(node: dict, name: str, out: set, node_prefix: str = "") -> None:
    """Accumulator ids of the plan metrics called ``name`` (the first one
    per node) on nodes whose name starts with ``node_prefix``."""
    if node["nodeName"].startswith(node_prefix):
        ids = [m["accumulatorId"] for m in node.get("metrics", ()) if m["name"] == name]
        out.update(ids[:1])
    for child in node.get("children", ()):
        _plan_metric_ids(child, name, out, node_prefix)


_FILES_READ = "number of files read"
#: the hold-back collector's operator; its output rows are the candles emitted
_STATEFUL_NODE = "FlatMapGroupsInPandasWithState"
_STATE_ACCUMS = ("time to commit changes", "number of total state rows")


def parse_event_log(path: str) -> dict:
    """Jobs, stages and SQL scan metrics from one Spark event log.

    Returns ``{"jobs": {id: job}, "stages": {id: stage}, "executions":
    {id: {"files": n}}}``; a job carries its submission and completion
    time (epoch ms), stage ids, properties and whether it ran an RDD-API
    Python function, a stage the sums of its tasks' metrics (with the rows
    the stateful pandas operator emitted), an SQL execution the parquet
    files its scans opened."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    exec_ids: dict[int, set] = {}
    executions: dict[int, dict] = {}
    emitted_ids: set = set()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"],
                    "end": None,
                    "stages": list(ev["Stage IDs"]),
                    "props": ev.get("Properties") or {},
                    # an RDD-API Python function (e.g. foreachPartition) ran
                    "python_rdd": any(
                        r.get("Name") == "PythonRDD"
                        for st in ev.get("Stage Infos", ())
                        for r in st.get("RDD Info", ())
                    ),
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], _empty_stage())
                _add_task(st, ev, emitted_ids)
            elif kind == _SQL + "SparkListenerSQLExecutionStart":
                ids: set = set()
                _plan_metric_ids(ev["sparkPlanInfo"], _FILES_READ, ids)
                _plan_metric_ids(ev["sparkPlanInfo"], "number of output rows",
                                 emitted_ids, _STATEFUL_NODE)
                exec_ids[ev["executionId"]] = ids
                executions[ev["executionId"]] = {"files": 0}
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                ex = executions.get(ev["executionId"])
                if ex is None:
                    continue
                ids = exec_ids[ev["executionId"]]
                ex["files"] += sum(int(v) for a, v in ev["accumUpdates"] if a in ids)
    return {"jobs": jobs, "stages": stages, "executions": executions}


def _empty_stage() -> dict:
    return {
        "tasks": 0, "run_ms": 0,
        "cpu_ms": 0.0, "gc_ms": 0, "shuffle_write": 0, "spill": 0,
        "bytes_read": 0, "records_read": 0, "stateful": False, "emitted": 0,
    }


def _add_task(st: dict, ev: dict, emitted_ids: set) -> None:
    m = ev.get("Task Metrics") or {}
    st["tasks"] += 1
    st["run_ms"] += m.get("Executor Run Time", 0)
    st["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
    st["gc_ms"] += m.get("JVM GC Time", 0)
    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    inp = m.get("Input Metrics") or {}
    st["bytes_read"] += inp.get("Bytes Read", 0)
    st["records_read"] += inp.get("Records Read", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
        name = acc.get("Name") or ""
        if name in _STATE_ACCUMS:
            st["stateful"] = True
        if acc.get("ID") in emitted_ids:
            st["emitted"] += int(acc.get("Update", 0))


def jobs_by(log: dict, prop: str) -> dict[str, list[int]]:
    """property value → ids of the jobs carrying it (e.g. the job group)."""
    out: dict[str, list[int]] = {}
    for jid, job in log["jobs"].items():
        v = job["props"].get(prop)
        if v is not None:
            out.setdefault(v, []).append(jid)
    return out


def job_totals(log: dict, job_ids) -> dict:
    """Summed task metrics over the stages of ``job_ids`` (a stage shared by
    two jobs counts once), plus job count and scanned-file totals."""
    keys = ("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_write", "spill",
            "bytes_read", "records_read")
    tot = dict.fromkeys(keys, 0)
    seen_stages: set[int] = set()
    seen_exec: set[int] = set()
    tot["jobs"] = 0
    tot["files"] = 0
    for jid in job_ids:
        job = log["jobs"][jid]
        tot["jobs"] += 1
        for sid in job["stages"]:
            st = log["stages"].get(sid)
            if st is None or sid in seen_stages:
                continue  # skipped (already computed) stages never ran
            seen_stages.add(sid)
            for k in keys:
                tot[k] += st[k]
        ex = job["props"].get("spark.sql.execution.id")
        if ex is not None and int(ex) not in seen_exec:
            seen_exec.add(int(ex))
            tot["files"] += log["executions"].get(int(ex), {}).get("files", 0)
    return tot


def job_intervals(log: dict, job_ids) -> list[tuple[float, float]]:
    """(start, end) of each finished job, in epoch seconds."""
    return [
        (log["jobs"][j]["start"] / 1e3, log["jobs"][j]["end"] / 1e3)
        for j in job_ids
        if log["jobs"][j]["end"] is not None
    ]


# -- streaming progress ----------------------------------------------------


def progress_recorder():
    """A ``StreamingQueryListener`` that keeps each progress report as a
    dict in its ``progress`` list."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressRecorder(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressRecorder()
