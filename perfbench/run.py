"""Repository benchmark: one closed-loop client per workload on local Spark.

    python3 perfbench/run.py --workload etl_write --seed 1 --seconds 5 --trace 0

A run generates its inputs from the seed, sets up three times (session
start + per-session preparation + one fixed call; the first set-up also
launches the JVM), runs the workload's untimed warm-up laps, then runs
whole laps until ``--seconds`` have passed.  Every call's output is checked, outside
the timed intervals.  The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics of README.md with ``--trace 1``
(Spark event log on, public functions wrapped in spans).  All files go to
``.perfbench/<workload>/`` under the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (name, unit, better) — the end_to_end list of BENCHMARK.json, in order.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("lap_s", "s", "lower"),
]

SETUPS = 3


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """``pid -> (parent pid, command name, resident bytes)`` from /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            with open(f"/proc/{entry}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while being read
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        out[int(entry)] = (ppid, comm, pages * page)
    return out


def _descendants(table: dict[int, tuple[int, str, int]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled from /proc.  ``parts`` keeps the
    peak of each kind of process: this driver, the JVM, everything else."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.parts = {"driver": 0, "jvm": 0, "workers": 0}
        self._stop_event = threading.Event()

    def sample(self) -> None:
        me = os.getpid()
        table = _proc_table()
        now = dict.fromkeys(self.parts, 0)
        for pid in [me, *_descendants(table, me)]:
            if pid in table:
                _, comm, nbytes = table[pid]
                now["driver" if pid == me else "jvm" if comm == "java" else "workers"] += nbytes
        self.peak = max(self.peak, sum(now.values()))
        for kind, nbytes in now.items():
            self.parts[kind] = max(self.parts[kind], nbytes)

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.sample()
            self._stop_event.wait(self.interval)

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=5)
        self.sample()


def _host_ticks() -> dict[str, float]:
    """Seconds this machine's CPUs spent waiting on I/O and stolen by the
    hypervisor, from /proc/stat (diagnostics for noisy runs)."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    tick = os.sysconf("SC_CLK_TCK")
    return {"iowait_s": int(cpu[5]) / tick, "steal_s": int(cpu[8]) / tick}


def start_session(work: str, cores: int, log_dir: str | None):
    from etl_rust_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.driver.memory": "2g",
        # A heap touched in full at launch keeps the JVM's resident size
        # independent of when the collector runs (peak_rss_mb).
        "spark.driver.extraJavaOptions": f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if log_dir:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.logBlockUpdates.enabled": "true",
            }
        )
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_confs=confs
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while _descendants(_proc_table(), os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in _descendants(_proc_table(), os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    while _descendants(_proc_table(), os.getpid()) and time.monotonic() < deadline + 10:
        time.sleep(0.1)


class Runner:
    """Runs and checks calls, counting attempts and failures."""

    def __init__(self, tracer, trace: bool):
        self.tracer = tracer
        self.trace = trace
        self.attempted = 0
        self.failed: list[str] = []

    def call(self, spark, call):
        from perfbench.eventlog import LABEL_PREFIX
        from perfbench.layers import plan_phase_spans
        from perfbench.workloads import QueryResult

        sc = spark.sparkContext
        sc.setJobDescription(f"{LABEL_PREFIX}{len(self.tracer.spans)}")
        result, error = None, None
        with self.tracer.span(call.name) as span:
            try:
                result = call.run(spark, self.tracer)
            except Exception as exc:  # a failed call is counted, not fatal
                error = exc
        sc.setJobDescription(None)
        self.attempted += 1
        ok = False
        if error is None:
            try:
                ok = bool(call.check(result))
            except Exception as exc:
                error = exc
        if not ok:
            self.failed.append(f"{call.name}: {error!r}" if error else f"{call.name}: wrong result")
        if isinstance(result, QueryResult):
            span.attrs["rows"] = len(result.rows)
            if self.trace:
                plan_phase_spans(self.tracer, span, result.df)
        return span


def _summarise(measured, key) -> dict:
    """Per-key call count, median, throughput and the highest percentile
    with at least ten samples beyond it."""
    from perfbench.stats import hi_percentile, median

    groups: dict[str, list] = {}
    for span, call in measured:
        groups.setdefault(key(call), []).append((span.dur, call))
    out = {}
    for k, items in groups.items():
        durs = [d for d, _ in items]
        p50 = median(durs)
        row = {"n": len(durs), "p50_s": p50, "per_s": len(durs) / sum(durs)}
        hi = hi_percentile(durs)
        if hi:
            row["hi_percentile"], row["hi_s"] = hi
        attrs = items[0][1].attrs
        if len({c.attrs.get("blocks") for _, c in items}) == 1 and "blocks" in attrs:
            row["blocks_per_s"] = attrs["blocks"] / p50
        if "raw_bytes" in attrs:
            row["mb_per_s"] = attrs["raw_bytes"] / 1e6 / p50
        out[k] = row
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Python workers import the engine by module path.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    sys.path.insert(0, ROOT)
    import etl_rust_spark  # noqa: F401  (fails fast outside a full checkout)

    from perfbench.stats import median
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Keep every temporary file of Python, its workers and the JVM in the
    # work directory.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None  # forget a temp dir chosen before TMPDIR was set
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    if log_dir:
        os.makedirs(log_dir)
    cores = _cores()

    wl = WORKLOADS[args.workload](args.seed, os.path.join(work, "data"))
    # Inputs are generated while the first session's JVM starts; the first
    # set-up waits for them before preparing.
    generated: list[Exception] = []

    def generate() -> None:
        try:
            wl.generate()
        except Exception as exc:  # re-raised by the first set-up
            generated.append(exc)

    gen = threading.Thread(target=generate, name="generate")
    gen.start()
    tracer = Tracer(f"{args.workload}-{args.seed}")
    run_start, host_start = tracer.now(), _host_ticks()
    runner = Runner(tracer, bool(args.trace))
    sampler = RssSampler()
    sampler.start()
    spark = None
    setups, warmups, warmup_calls, measured, laps = [], [], [], [], []
    try:
        with tracer.span(args.workload, seed=args.seed):
            for _ in range(SETUPS):
                if spark is not None:
                    spark.stop()
                with tracer.span("session.setup"):
                    with tracer.span("session.start") as start:
                        spark = start_session(work, cores, log_dir)
                    gen.join()
                    if generated:
                        raise RuntimeError("input generation failed") from generated[0]
                    with tracer.span("session.prepare") as prepare:
                        wl.prepare(spark)
                    first = runner.call(spark, wl.setup_call())
                # Waiting for the inputs and checking the call are not set-up.
                setups.append(start.dur + prepare.dur + first.dur)
            if args.trace:
                for owner, attr, name in wl.wrap_targets():
                    tracer.wrap(owner, attr, name)
            with tracer.span("session.warmup"):
                for w in range(wl.warmup_laps):
                    with tracer.span("warmup", i=w) as lap:
                        spans = [runner.call(spark, call) for call in wl.warmup(w)]
                    warmups.append(lap.dur)
                    warmup_calls.append({sp.name: sp.dur for sp in spans})
            deadline = tracer.now() + args.seconds
            i = wl.warmup_laps
            while not laps or tracer.now() < deadline:
                calls = wl.lap(i)
                with tracer.span("lap", i=i):
                    spans = [runner.call(spark, call) for call in calls]
                measured.extend(zip(spans, calls))
                # The lap's own calls only: checks between them are not timed.
                laps.append(sum(span.dur for span in spans))
                i += 1
    finally:
        tracer.unwrap_all()
        if spark is not None:
            stop_jvm(spark)
        sampler.stop()

    e2e = {
        "setup_s": median(setups),
        "peak_rss_mb": sampler.peak / 2**20,
        "lap_s": median(laps),
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "laps": len(laps),
        "laps_s": laps,
        "setups_s": setups,
        "warmups_s": warmups,
        "warmup_calls_s": warmup_calls,
        "run_wall_s": tracer.now() - run_start,
        "host": {k: v - host_start[k] for k, v in _host_ticks().items()},
        "peak_rss_mb_by_kind": {k: v / 2**20 for k, v in sampler.parts.items()},
        "groups": _summarise(measured, lambda c: c.group),
        "calls": _summarise(measured, lambda c: c.name),
        "failed_op_ratio": len(runner.failed) / runner.attempted,
        "failed_calls": runner.failed,
    }
    report["figures"] = wl.figures(report["groups"], report["calls"])

    if args.trace:
        from perfbench import eventlog
        from perfbench.layers import PER_LAYER, add_spark_spans, layer_metrics, self_times

        log = eventlog.parse(eventlog.read_events(log_dir))
        for s, _ in measured:
            if s.id in log:
                add_spark_spans(tracer, s, log[s.id])
        metrics = layer_metrics(tracer, measured, log, cores)
        metrics["session.start_s"] = next(s.dur for s in tracer.spans if s.name == "session.start")
        metrics["session.warmup_s"] = next(s.dur for s in tracer.spans if s.name == "session.warmup")
        metrics["trace.lap_s"] = median(laps)
        report["self_s"] = self_times(tracer, [s for s, _ in measured])
        report["routes"] = {c.name: s.attrs["route"] for s, c in measured if "route" in s.attrs}
        tracer.dump(os.path.join(work, "spans.jsonl"))
        out = {n: {"value": metrics[n], "unit": u} for n, u, _ in PER_LAYER}
    else:
        out = {n: {"value": e2e[n], "unit": u} for n, u, _ in END_TO_END}
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    for bulky in ("data", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, bulky), ignore_errors=True)
    print(json.dumps(report))
    result = {
        "correct": not runner.failed,
        "attempted": runner.attempted,
        "failed": len(runner.failed),
        "metrics": out,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
