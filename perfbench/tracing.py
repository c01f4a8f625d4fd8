"""Traced-run collection: spans from the benchmark's own calls, Spark's
event log, and a StreamingQueryListener.

Nothing here runs inside a timer. Spans are kept in memory, the listener
only appends progress records, and the event log is parsed after the
session has stopped and its file is closed.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

EVENT_LOG_CONFS = {
    "spark.eventLog.enabled": "true",
    # Spark 4 defaults to a rolling, zstd-compressed log; the zstandard
    # module is not available to read it, so write it plain
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


@dataclass
class Span:
    """One timed call into the program: ``name`` is the registry entry,
    artifact builder or live query, ``kind`` which of the three it is."""

    name: str
    kind: str
    start_ms: float
    end_ms: float = 0.0
    construct_ms: float = 0.0
    phases: dict = field(default_factory=dict)
    stray_builds: int = 0

    @property
    def wall_ms(self) -> float:
        return self.end_ms - self.start_ms


def now_ms() -> float:
    return time.time() * 1000.0


class ProgressLog(StreamingQueryListener):
    """Every streaming progress event, reduced to plain numbers."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        dur = dict(p.durationMs or {})
        start = iso_ms(p.timestamp)
        states = p.stateOperators or []
        self.progress.append(
            {
                "start_ms": start,
                "dur": dur,
                "state_rows": sum(s.numRowsTotal for s in states),
                "state_bytes": sum(s.memoryUsedBytes for s in states),
                "state_commit_ms": sum(s.commitTimeMs for s in states),
                "dropped": sum(s.numRowsDroppedByWatermark for s in states),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def iso_ms(ts: str) -> float:
    """Epoch milliseconds of a progress event's UTC timestamp."""
    from datetime import datetime, timezone

    dt = datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp() * 1000.0


def plan_phases(df) -> dict:
    """Catalyst phase times (ms) for ``df``'s plan. Forces optimization and
    physical planning on the DataFrame's own QueryExecution; call it after
    the timed run so the extra planning stays outside the timer."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# --- event log --------------------------------------------------------------


def read_event_log(path: str) -> dict:
    """Jobs, with their stages and task rollups, from a plain event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    py_row_accs: set[int] = set()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind in ("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
                        "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"):
                _python_row_accumulators(ev.get("sparkPlanInfo") or {}, py_row_accs)
            elif kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "start_ms": ev["Submission Time"],
                    "end_ms": ev["Submission Time"],
                    "group": props.get("spark.jobGroup.id"),
                    "stages": list(ev.get("Stage IDs", [])),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], _new_stage())
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                st["tasks"] += 1
                st["task_ms"].append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                st["gc_ms"] += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                inp = m.get("Input Metrics") or {}
                st["input_bytes"] += inp.get("Bytes Read", 0)
                st["input_rows"] += inp.get("Records Read", 0)
                for acc in info.get("Accumulables", []):
                    _python_metric(st, acc, py_row_accs)
    for sid, st in stages.items():
        jid = stage_job.get(sid)
        if jid is not None:
            jobs[jid].setdefault("stage_rollups", []).append(st)
    return {"jobs": jobs}


def _new_stage() -> dict:
    return {
        "tasks": 0, "task_ms": [], "run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0,
        "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
        "input_bytes": 0, "input_rows": 0, "py_rows": 0, "py_bytes": 0, "py_ms": 0.0,
    }


PYTHON_NODE = re.compile(r"InPandas|Python|InArrow")


def _python_row_accumulators(node: dict, out: set[int]) -> None:
    """Accumulator ids of the output-row metric of every Python-runner
    node (ArrowEvalPython, MapInPandas, FlatMapGroupsInPandas...) in a SQL
    plan; the metric's name alone is shared with every other operator."""
    if PYTHON_NODE.search(node.get("nodeName", "")):
        for m in node.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for child in node.get("children", []):
        _python_row_accumulators(child, out)


def _python_metric(st: dict, acc: dict, py_row_accs: set[int]) -> None:
    """Python-runner SQL metrics, summed over task updates."""
    name = acc.get("Name") or ""
    try:
        upd = float(acc.get("Update"))
    except (TypeError, ValueError):
        return
    if name == "data returned from Python workers":
        st["py_bytes"] += upd
    elif name == "time to run Python workers":
        st["py_ms"] += upd
    elif acc.get("ID") in py_row_accs:
        st["py_rows"] += upd


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute_jobs(spans: list[Span], log: dict) -> dict[int, list[dict]]:
    """Jobs per span index. A job belongs to the span whose wall interval
    holds its submission time: batch jobs also carry the entry name as
    their job group, streaming jobs run on the query's own thread and are
    found by time window alone."""
    out: dict[int, list[dict]] = {i: [] for i in range(len(spans))}
    order = sorted(range(len(spans)), key=lambda i: spans[i].start_ms)
    for job in log["jobs"].values():
        for i in order:
            sp = spans[i]
            if sp.start_ms <= job["start_ms"] <= sp.end_ms:
                out[i].append(job)
                break
    return out


def median_or_zero(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def span_rollup(span: Span, jobs: list[dict]) -> dict:
    """Per-op layer numbers: construct, Catalyst phases, job time, driver
    gap and executor totals. The driver gap is the wall time outside
    construction and outside every job that ran after it, so construct +
    gap + job time account for the wall exactly when, as for every lazy
    entry, no job runs during construction."""
    inside = [
        (max(j["start_ms"], span.start_ms), min(j["end_ms"], span.end_ms))
        for j in jobs
    ]
    construct_end = span.start_ms + span.construct_ms
    after_construct = [(max(s, construct_end), e) for s, e in inside if e > construct_end]
    job_ms = _union_ms(inside)
    job_after_ms = _union_ms(after_construct)
    stages = [st for j in jobs for st in j.get("stage_rollups", [])]
    return {
        "wall_ms": span.wall_ms,
        "construct_ms": span.construct_ms,
        "job_ms": job_ms,
        "driver_gap_ms": max(0.0, span.wall_ms - span.construct_ms - job_after_ms),
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(st["tasks"] for st in stages),
        "run_ms": sum(st["run_ms"] for st in stages),
        "cpu_ms": sum(st["cpu_ms"] for st in stages),
        "gc_ms": sum(st["gc_ms"] for st in stages),
        "shuffle_write": sum(st["shuffle_write"] for st in stages),
        "shuffle_read": sum(st["shuffle_read"] for st in stages),
        "spill": sum(st["spill"] for st in stages),
        "input_bytes": sum(st["input_bytes"] for st in stages),
        "input_rows": sum(st["input_rows"] for st in stages),
        "py_rows": sum(st["py_rows"] for st in stages),
        "py_bytes": sum(st["py_bytes"] for st in stages),
        "py_ms": sum(st["py_ms"] for st in stages),
        **{f"{k}_ms": v for k, v in span.phases.items()},
    }


def event_log_file(log_dir: str, app_id: str) -> str:
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path) and os.path.exists(path + ".inprogress"):
        path += ".inprogress"
    return path
