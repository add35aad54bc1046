"""Spark event-log parser: per-call job, stage, task and SQL-metric totals.

The benchmark labels every call with ``SparkContext.setJobDescription``
(``perfbench:<span id>``).  Spark copies that description into each job's
properties and into each SQL execution's description, which ties jobs,
stages, tasks and plan metrics back to the call that caused them.

SQL metric values are summed from the per-task accumulator updates and
the driver-side accumulator updates; each accumulator id is named by the
plan node that owns it, from the execution's initial plan and every AQE
plan update.  The log may be rolling and zstd-compressed
(``eventlog_v2_*/events_*.zstd``); pyarrow's zstd stream reads it.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import Counter, defaultdict
from dataclasses import dataclass, field

import pyarrow as pa

__all__ = ["CallStats", "read_events", "parse", "PYTHON_NODES", "LABEL_PREFIX"]

LABEL_PREFIX = "perfbench:"

# Physical operators that run Python workers over Arrow batches.
PYTHON_NODES = frozenset(
    {
        "ArrowEvalPython",
        "BatchEvalPython",
        "MapInPandas",
        "MapInArrow",
        "PythonMapInArrow",
        "FlatMapGroupsInPandas",
        "FlatMapGroupsInArrow",
        "FlatMapCoGroupsInPandas",
        "FlatMapCoGroupsInArrow",
        "AggregateInPandas",
        "ArrowAggregatePython",
        "WindowInPandas",
        "ArrowWindowPython",
    }
)

_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class CallStats:
    """Everything the log says about one labelled call."""

    jobs: list[tuple[int, float, float]] = field(default_factory=list)  # id, start, end
    stages: list[tuple[int, int, float, float]] = field(default_factory=list)  # id, job, start, end
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    shuffle_write_s: float = 0.0
    shuffle_read_bytes: int = 0
    fetch_wait_s: float = 0.0
    result_bytes: int = 0
    write_bytes: int = 0
    write_records: int = 0
    cache_stored_bytes: int = 0
    unpersists: int = 0
    # (node name, metric name) -> value, times already in seconds
    sql: Counter = field(default_factory=Counter)
    # node name -> count in the executed (final AQE) plans
    nodes: Counter = field(default_factory=Counter)


def _event_files(log_dir: str) -> list[str]:
    files = glob.glob(f"{log_dir}/**/events_*", recursive=True)
    if not files:
        files = [
            p
            for p in glob.glob(f"{log_dir}/*")
            if os.path.isfile(p) and not os.path.basename(p).startswith(".")
        ]

    def order(p: str) -> tuple:
        m = re.search(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0)

    return sorted(files, key=order)


def read_events(log_dir: str):
    """Yield every event (a dict) of every application log under
    ``log_dir``, rolled files in order."""
    for path in _event_files(log_dir):
        codec = "zstd" if path.endswith(".zstd") else None
        with pa.input_stream(path, compression=codec) as f:
            for line in f.read().decode("utf-8").splitlines():
                if line:
                    yield json.loads(line)


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", ()):
        yield from _walk(child)


def _label(desc: str | None) -> int | None:
    if desc and desc.startswith(LABEL_PREFIX):
        return int(desc[len(LABEL_PREFIX) :])
    return None


def parse(events) -> dict[int, CallStats]:
    """Fold an event stream into one :class:`CallStats` per call label."""
    calls: dict[int, CallStats] = defaultdict(CallStats)
    acc_owner: dict[int, tuple[str, str, str]] = {}  # id -> (node, metric, type)
    exec_call: dict[int, int] = {}
    exec_plan: dict[int, dict] = {}
    stage_call: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    job_call: dict[int, int] = {}
    job_start: dict[int, float] = {}
    acc_sums: dict[int, Counter] = defaultdict(Counter)
    current: int | None = None  # call of the most recent job start

    def learn_plan(exec_id: int, plan: dict) -> None:
        exec_plan[exec_id] = plan
        for node in _walk(plan):
            for m in node.get("metrics", ()):
                acc_owner[m["accumulatorId"]] = (node["nodeName"], m["name"], m["metricType"])

    for ev in events:
        kind = ev["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerSQLExecutionStart":
            call = _label(ev.get("description"))
            if call is not None:
                exec_call[ev["executionId"]] = call
            learn_plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            learn_plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind == "SparkListenerSQLAdaptiveSQLMetricUpdates":
            for m in ev.get("sqlPlanMetrics", ()):
                acc_owner.setdefault(m["accumulatorId"], ("?", m["name"], m["metricType"]))
        elif kind == "SparkListenerDriverAccumUpdates":
            call = exec_call.get(ev["executionId"])
            if call is not None:
                for acc_id, value in ev["accumUpdates"]:
                    acc_sums[call][acc_id] += value
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            call = _label(props.get("spark.job.description"))
            if call is None:
                exec_id = props.get("spark.sql.execution.id")
                call = exec_call.get(int(exec_id)) if exec_id is not None else None
            if call is None:
                current = None
                continue
            current = call
            job_call[ev["Job ID"]] = call
            job_start[ev["Job ID"]] = ev["Submission Time"] / 1e3
            for sid in ev["Stage IDs"]:
                stage_call.setdefault(sid, call)
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_call:
                calls[job_call[jid]].jobs.append((jid, job_start[jid], ev["Completion Time"] / 1e3))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            call = stage_call.get(info["Stage ID"])
            if call is not None and "Submission Time" in info:
                calls[call].stages.append(
                    (
                        info["Stage ID"],
                        stage_job[info["Stage ID"]],
                        info["Submission Time"] / 1e3,
                        info["Completion Time"] / 1e3,
                    )
                )
        elif kind == "SparkListenerTaskEnd":
            call = stage_call.get(ev["Stage ID"])
            if call is None:
                continue
            c = calls[call]
            m = ev.get("Task Metrics") or {}
            c.tasks += 1
            c.task_s += m.get("Executor Run Time", 0) / 1e3
            c.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            c.gc_s += m.get("JVM GC Time", 0) / 1e3
            c.spill_bytes += m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics", {})
            c.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            c.shuffle_write_records += sw.get("Shuffle Records Written", 0)
            c.shuffle_write_s += sw.get("Shuffle Write Time", 0) / 1e9
            sr = m.get("Shuffle Read Metrics", {})
            c.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1e3
            if ev.get("Task Type") == "ResultTask":
                c.result_bytes += m.get("Result Size", 0)
            out = m.get("Output Metrics", {})
            c.write_bytes += out.get("Bytes Written", 0)
            c.write_records += out.get("Records Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                if acc.get("Metadata") == "sql" and "Update" in acc:
                    acc_sums[call][acc["ID"]] += int(acc["Update"])
        elif kind == "SparkListenerBlockUpdated":
            info = ev["Block Updated Info"]
            if current is not None and info["Block ID"].startswith("rdd_"):
                calls[current].cache_stored_bytes += info["Memory Size"] + info["Disk Size"]
        elif kind == "SparkListenerUnpersistRDD":
            if current is not None:
                calls[current].unpersists += 1

    for exec_id, call in exec_call.items():
        plan = exec_plan.get(exec_id)
        if plan is not None:
            calls[call].nodes.update(n["nodeName"] for n in _walk(plan))
    for call, sums in acc_sums.items():
        for acc_id, value in sums.items():
            node, metric, mtype = acc_owner.get(acc_id, ("?", "?", "sum"))
            calls[call].sql[(node, metric)] += value * _TIME_SCALE.get(mtype, 1)
    return dict(calls)
