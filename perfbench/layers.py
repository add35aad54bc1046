"""Per-layer metrics of a traced run.

Joins the Python-side spans (calls, wrapped public functions, plan
phases) with the event-log totals of each call, adds job and stage spans
under the innermost Python span that was open when each job was
submitted, and reduces everything to the ``per_layer`` metrics of
BENCHMARK.json: the mean per measured call.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.eventlog import PYTHON_NODES, CallStats
from perfbench.tracing import Span, Tracer, covered, self_time
from perfbench.workloads import OP_SUBSET

__all__ = ["PER_LAYER", "add_spark_spans", "layer_metrics", "plan_phase_spans", "self_times"]

# (name, unit, better) — the per_layer list of BENCHMARK.json, in order.
PER_LAYER: list[tuple[str, str, str]] = [
    ("session.start_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("catalog.register_views_s", "s", "lower"),
    ("queries.build_s", "s", "lower"),
    ("spark.plan.parse_s", "s", "lower"),
    ("spark.plan.analyze_s", "s", "lower"),
    ("spark.plan.optimize_s", "s", "lower"),
    ("spark.plan.physical_s", "s", "lower"),
    ("spark.sched.jobs", "count", "lower"),
    ("spark.sched.stages", "count", "lower"),
    ("spark.sched.tasks", "count", "lower"),
    ("spark.sched.idle_s", "s", "lower"),
    ("spark.exec.task_s", "s", "lower"),
    ("spark.exec.cpu_s", "s", "lower"),
    ("spark.exec.gc_s", "s", "lower"),
    ("spark.exec.core_busy", "ratio", "higher"),
    ("spark.scan.bytes", "bytes", "lower"),
    ("spark.scan.files", "count", "lower"),
    ("spark.scan.rows", "count", "lower"),
    ("spark.scan.time_s", "s", "lower"),
    ("spark.shuffle.write_bytes", "bytes", "lower"),
    ("spark.shuffle.write_records", "count", "lower"),
    ("spark.shuffle.write_s", "s", "lower"),
    ("spark.shuffle.read_bytes", "bytes", "lower"),
    ("spark.shuffle.fetch_wait_s", "s", "lower"),
    ("spark.broadcast.bytes", "bytes", "lower"),
    ("spark.broadcast.build_s", "s", "lower"),
    ("spark.python.run_s", "s", "lower"),
    ("spark.python.start_s", "s", "lower"),
    ("spark.python.bytes_sent", "bytes", "lower"),
    ("spark.python.bytes_returned", "bytes", "lower"),
    ("spark.python.nodes", "count", "lower"),
    ("spark.cache.stored_bytes", "bytes", "lower"),
    ("spark.cache.unpersists", "count", "lower"),
    ("spark.cache.scans", "count", "lower"),
    ("spark.spill.bytes", "bytes", "lower"),
    ("spark.fetch.result_bytes", "bytes", "lower"),
    ("spark.fetch.rows", "count", "lower"),
    ("spark.write.bytes", "bytes", "lower"),
    ("spark.write.records", "count", "lower"),
    ("spark.write.files", "count", "lower"),
    ("etl.pipeline.run_range_s", "s", "lower"),
    ("etl.pipeline.staging_s", "s", "lower"),
    ("etl.writer.write_tables_s", "s", "lower"),
    ("etl.writer.merge_entity_table_s", "s", "lower"),
    ("sources.checkpoint.resume_s", "s", "lower"),
    ("etl.ingest.call_s", "s", "lower"),
    ("etl.ingest.python_routes", "count", "lower"),
    ("etl.ingest.compressed_bytes", "bytes", "lower"),
    ("etl.ingest.rows", "count", "higher"),
    *[(f"operators.{e}_s", "s", "lower") for e in OP_SUBSET],
    ("trace.attributed_min", "ratio", "higher"),
    ("trace.attributed_p50", "ratio", "higher"),
    ("trace.lap_s", "s", "lower"),
]

# Spans that only group others; they name no layer of their own.
_CONTAINERS = frozenset({"spark.collect"})

# QueryPlanningTracker phase -> span name.
PHASES = {
    "parsing": "spark.plan.parse",
    "analysis": "spark.plan.analyze",
    "optimization": "spark.plan.optimize",
    "planning": "spark.plan.physical",
}

# Spans whose durations are per-layer metrics under their own name + "_s".
_TIMED_SPANS = frozenset(
    {
        "catalog.register_views",
        "queries.build",
        "etl.pipeline.run_range",
        "etl.writer.write_tables",
        "etl.writer.merge_entity_table",
        "sources.checkpoint.resume",
        *PHASES.values(),
    }
)

_SQL = {
    "spark.scan.bytes": ("Scan", "size of files read"),
    "spark.scan.files": ("Scan", "number of files read"),
    "spark.scan.rows": ("Scan", "number of output rows"),
    "spark.scan.time_s": ("Scan", "scan time"),
    "spark.broadcast.bytes": ("BroadcastExchange", "data size"),
    "spark.broadcast.build_s": ("BroadcastExchange", "time to build"),
    "spark.python.run_s": ("", "time to run Python workers"),
    "spark.python.start_s": ("", "time to start Python workers"),
    "spark.python.bytes_sent": ("", "data sent to Python workers"),
    "spark.python.bytes_returned": ("", "data returned from Python workers"),
    "spark.write.files": ("", "number of written files"),
}


def plan_phase_spans(tracer: Tracer, call: Span, df) -> None:
    """Add the planning phases Spark tracked for ``df`` as children of
    ``call``.  Read from outside after the call returned."""
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        name = PHASES.get(kv._1())
        if name:
            ph = kv._2()
            tracer.add(name, ph.startTimeMs() / 1e3, ph.endTimeMs() / 1e3, call.id)


def _by_parent(tracer: Tracer) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = defaultdict(list)
    for s in tracer.spans:
        if s.parent is not None:
            out[s.parent].append(s)
    return out


def _descendants(by_parent: dict[int, list[Span]], span: Span) -> list[Span]:
    out, todo = [], list(by_parent.get(span.id, ()))
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(by_parent.get(s.id, ()))
    return out


def _sql(stats: CallStats, node_prefix: str, metric: str) -> float:
    return sum(v for (node, m), v in stats.sql.items() if m == metric and node.startswith(node_prefix))


def add_spark_spans(tracer: Tracer, call: Span, stats: CallStats) -> None:
    """Job spans under the innermost Python span open at submission,
    stage spans under their job, and a ``spark.fetch`` span from the last
    job's end to the end of the call's collect, if it has one."""
    py = [call] + [s for s in _descendants(_by_parent(tracer), call) if not s.name.startswith("spark.plan.")]
    job_span = {}
    for jid, start, end in stats.jobs:
        host = max((s for s in py if s.start <= start <= s.end), key=lambda s: s.start, default=call)
        job_span[jid] = tracer.add("spark.job", start, end, host.id, job=jid)
    for sid, jid, start, end in stats.stages:
        parent = job_span.get(jid)
        tracer.add("spark.stage", start, end, parent.id if parent else call.id, stage=sid)
    collect = [s for s in py if s.name == "spark.collect"]
    if collect:
        last = max((e for _, _, e in stats.jobs), default=collect[-1].start)
        tracer.add("spark.fetch", max(last, collect[-1].start), collect[-1].end, collect[-1].id)


def attributed(by_parent: dict[int, list[Span]], call: Span) -> float:
    """Share of the call's wall covered by named layer spans below it."""
    layers = [s for s in _descendants(by_parent, call) if s.name not in _CONTAINERS]
    if call.dur <= 0:
        return 1.0
    return covered([(s.start, s.end) for s in layers], call.start, call.end) / call.dur


def self_times(tracer: Tracer, calls: list[Span]) -> dict[str, float]:
    """Total self time per span name over the calls and everything below
    them; the calls' own self time is reported under their names."""
    by_parent = _by_parent(tracer)
    out: dict[str, float] = defaultdict(float)
    for call in calls:
        for s in [call] + _descendants(by_parent, call):
            out[s.name] += self_time(s, by_parent.get(s.id, []))
    return dict(out)


def layer_metrics(
    tracer: Tracer,
    calls: list[tuple[Span, object]],
    log: dict[int, CallStats],
    cores: int,
) -> dict[str, float]:
    """The per_layer metrics: per-call means over the measured calls."""
    by_parent = _by_parent(tracer)
    totals: dict[str, float] = defaultdict(float)
    entry_durs: dict[str, list[float]] = defaultdict(list)
    python_routes = set()
    shares = []
    for span, call in calls:
        st = log.get(span.id, CallStats())
        for s in _descendants(by_parent, span):
            if s.name in _TIMED_SPANS:
                totals[s.name + "_s"] += s.dur
            if s.name == "etl.pipeline.run_range":
                py_children = [c for c in by_parent.get(s.id, []) if not c.name.startswith("spark.")]
                totals["etl.pipeline.staging_s"] += self_time(s, py_children)
        stage_wall = covered(
            [(a, b) for _, _, a, b in st.stages], span.start, span.end
        )
        totals["spark.sched.jobs"] += len(st.jobs)
        totals["spark.sched.stages"] += len(st.stages)
        totals["spark.sched.tasks"] += st.tasks
        totals["spark.sched.idle_s"] += span.dur - stage_wall
        totals["spark.exec.task_s"] += st.task_s
        totals["spark.exec.cpu_s"] += st.cpu_s
        totals["spark.exec.gc_s"] += st.gc_s
        totals["spark.exec.core_busy"] += st.task_s / (stage_wall * cores) if stage_wall else 0.0
        for name, (node, metric) in _SQL.items():
            totals[name] += _sql(st, node, metric)
        totals["spark.shuffle.write_bytes"] += st.shuffle_write_bytes
        totals["spark.shuffle.write_records"] += st.shuffle_write_records
        totals["spark.shuffle.write_s"] += st.shuffle_write_s
        totals["spark.shuffle.read_bytes"] += st.shuffle_read_bytes
        totals["spark.shuffle.fetch_wait_s"] += st.fetch_wait_s
        n_python = sum(n for node, n in st.nodes.items() if node in PYTHON_NODES)
        totals["spark.python.nodes"] += n_python
        totals["spark.cache.stored_bytes"] += st.cache_stored_bytes
        totals["spark.cache.unpersists"] += st.unpersists
        totals["spark.cache.scans"] += st.nodes.get("InMemoryTableScan", 0)
        totals["spark.spill.bytes"] += st.spill_bytes
        totals["spark.fetch.result_bytes"] += st.result_bytes
        totals["spark.fetch.rows"] += span.attrs.get("rows", 0)
        totals["spark.write.bytes"] += st.write_bytes
        totals["spark.write.records"] += st.write_records
        if "compressed_bytes" in call.attrs:
            totals["etl.ingest.call_s"] += span.dur
            totals["etl.ingest.compressed_bytes"] += call.attrs["compressed_bytes"]
            totals["etl.ingest.rows"] += call.attrs["rows"]
            if n_python:
                python_routes.add(call.name)
            span.attrs["route"] = "python" if n_python else "jvm"
        entry_durs[call.name].append(span.dur)
        shares.append(attributed(by_parent, span))

    n = len(calls)
    out = {name: totals.get(name, 0.0) / n for name, _, _ in PER_LAYER}
    out["etl.ingest.python_routes"] = float(len(python_routes))
    for e in OP_SUBSET:
        durs = entry_durs.get(e)
        out[f"operators.{e}_s"] = statistics.fmean(durs) if durs else 0.0
    out["trace.attributed_min"] = min(shares)
    out["trace.attributed_p50"] = statistics.median(shares)
    return out
