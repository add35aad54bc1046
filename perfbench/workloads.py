"""The two closed-loop workloads and the parts they are made of.

``etl_write`` indexes a synthetic chain (backfill plus resumed tail
appends) and ingests a JSONL corpus through two codec routes;
``analytics_read`` runs declared queries and LLM-operator entries
against DuckDB-checked results.  Each workload turns its seed into
inputs (:meth:`Workload.generate`), prepares a fresh session
(:meth:`Workload.prepare`) and hands out laps: a fixed list of calls in a
seeded order.  A call runs one user-visible operation and returns what
:meth:`Call.check` needs to prove its output correct; checks and oracle
results are computed outside every timed interval.

Sizes are chosen so that a whole run (JVM start, three set-ups, the
warm-up laps and the measured laps) fits the benchmark's time budget on a
4-core machine; see README.md for the figures.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable, NamedTuple

import numpy as np

from perfbench import inputs

__all__ = ["Call", "QueryResult", "Workload", "WORKLOADS"]

# Declared queries timed per lap: aggregation (dq04), 5-way star join
# with broadcasts (dq08), anti join (dq11), as-of join in its engine form
# (dq13), top-N window (dq16) and the dynamic-JSON boundary (dq30).  A
# cold pass over all 40 takes ~30 s on a 4-core machine, more than a run
# can afford next to the operators.
DQ_SUBSET = ("dq04", "dq08", "dq11", "dq13", "dq16", "dq30")
# One operator entry per family: dedup (curate: exact + near-dup behind a
# persist barrier) and similarity (ann_topk: LSH/IVF/PQ in one Arrow
# pass).  The text family (multimodal_features, ~2 s a lap and the most
# variable entry from run to run) does not fit the run budget.
OP_SUBSET = ("op_curate", "op_ann_topk")

TABLES_SF = 0.01
CHAIN_BACKFILL = 2000
CHAIN_TAIL = 100
CHAIN_TAILS = 1
CORPUS_DOCS = 4000
CORPUS_SHARDS = 8


@dataclass
class Call:
    """One operation of a lap: ``run(spark, tracer)`` is timed,
    ``check(result)`` is not.  ``group`` names the kind of operation the
    report summarises it under (query, op, backfill, tail, ingest)."""

    name: str
    group: str
    run: Callable[[Any, Any], Any]
    check: Callable[[Any], bool]
    attrs: dict = field(default_factory=dict)


class QueryResult(NamedTuple):
    """What an entry call returns: the collected rows, their column names
    and the DataFrame, whose planning phases a traced run reads."""

    rows: list
    columns: list[str]
    df: Any


class Workload:
    name = ""
    why = ""
    # Untimed laps between the set-ups and the measured laps.
    warmup_laps = 1

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work = work_dir
        self.rng = np.random.default_rng([seed, 7])

    def generate(self) -> None:
        """Write the seeded inputs and compute expected results."""

    def prepare(self, spark) -> None:
        """Per-session program set-up, timed as part of ``setup_s``."""

    def lap(self, i: int) -> list[Call]:
        raise NotImplementedError

    def warmup(self, i: int) -> list[Call]:
        """The calls of untimed warm-up lap ``i``."""
        return self.lap(i)

    def setup_call(self) -> Call:
        """The call each set-up ends with: the same one every time."""
        raise NotImplementedError

    def wrap_targets(self) -> list[tuple[object, str, str]]:
        """``(owner, attribute, span name)`` of the public functions the
        traced run wraps."""
        return []

    def figures(self, groups: dict, calls: dict) -> dict[str, float | None]:
        """The workload's own named figures, from the per-group and
        per-call summaries of the measured calls."""
        return {}


def _duck_hashes(sf_dir: str, oracle: dict[str, str]) -> dict[str, str]:
    from etl_rust_spark.functions.hashing import canonical_hash
    from tests.oracle import duck_connect, run_duck

    con = duck_connect(sf_dir)
    con.execute("SET enable_progress_bar = false")
    try:
        return {name: canonical_hash(*run_duck(con, sql)) for name, sql in oracle.items()}
    finally:
        con.close()


def _result_hash(result: QueryResult) -> str:
    from etl_rust_spark.functions.hashing import canonical_hash

    return canonical_hash([tuple(r) for r in result.rows], result.columns)


class AnalyticsRead(Workload):
    """Declared queries and operator entries of ``__spark_entry__.queries()``
    over the generated tables, each hash-checked against its DuckDB
    oracle.  A lap runs every entry once, in a seeded order."""

    name = "analytics_read"
    why = "read path: declared queries and LLM-operator entries; planner, shuffles and Python workers busy, writer idle"
    entries = DQ_SUBSET + OP_SUBSET

    def generate(self) -> None:
        import __spark_entry__

        self.sf_dir = os.path.join(self.work, "tables")
        inputs.write_tables(self.seed, TABLES_SF, self.sf_dir)
        self.runners = {n: __spark_entry__.queries()[n] for n in self.entries}
        oracle = __spark_entry__.oracle_sql()
        self.expected = _duck_hashes(self.sf_dir, {n: oracle[n] for n in self.entries})

    def prepare(self, spark) -> None:
        from etl_rust_spark.catalog import register_views

        register_views(spark, self.sf_dir, force=True)

    def wrap_targets(self):
        import __spark_entry__

        return [(__spark_entry__, "register_views", "catalog.register_views")]

    def _call(self, name: str) -> Call:
        runner = self.runners[name]
        group = "query" if name.startswith("dq") else "op"

        def run(spark, tracer):
            with tracer.span("queries.build" if group == "query" else "operators.build"):
                df = runner(spark, self.sf_dir)
            with tracer.span("spark.collect"):
                rows = df.collect()
            return QueryResult(rows, df.columns, df)

        return Call(name, group, run, lambda res: _result_hash(res) == self.expected[name])

    def setup_call(self) -> Call:
        return self._call(self.entries[0])

    def figures(self, groups, calls):
        return {
            "query_s_p50": groups["query"]["p50_s"],
            "query_s_hi": groups["query"].get("hi_s"),
            "queries_per_s": groups["query"]["per_s"],
            "op_dedup_s": calls["op_curate"]["p50_s"],
            "op_similarity_s": calls["op_ann_topk"]["p50_s"],
        }

    def lap(self, i: int) -> list[Call]:
        return [self._call(self.entries[j]) for j in self.rng.permutation(len(self.entries))]


class _ChainIndex(Workload):
    """``run_range`` over ``SyntheticChain``: backfill a fresh seeded
    block range into an empty parquet sink, then append tail batches with
    ``resume=True``."""

    def generate(self) -> None:
        self.base = inputs.chain_base(self.seed)

    def wrap_targets(self):
        from etl_rust_spark.etl import pipeline

        return [
            (pipeline, "run_range", "etl.pipeline.run_range"),
            (pipeline, "write_tables", "etl.writer.write_tables"),
            (pipeline, "merge_entity_table", "etl.writer.merge_entity_table"),
            (pipeline, "pick_up_from_previous_range", "sources.checkpoint.resume"),
        ]

    def lap(self, i: int) -> list[Call]:
        from etl_rust_spark.etl import pipeline
        from etl_rust_spark.sources.chain import SyntheticChain

        # Every lap indexes the same seeded range into a fresh sink: the
        # same work each lap, and generated code that Spark can reuse.
        start = self.base
        sink = os.path.join(self.work, f"sink-{i}")
        shutil.rmtree(os.path.join(self.work, f"sink-{i - 1}"), ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)
        chain = SyntheticChain()
        calls = []
        for k in range(CHAIN_TAILS + 1):
            end = start + CHAIN_BACKFILL + k * CHAIN_TAIL

            def run(spark, tracer, end=end):
                return pipeline.run_range(spark, chain, start, end, sink, resume=True)

            calls.append(
                Call(
                    "backfill" if k == 0 else "tail",
                    "backfill" if k == 0 else "tail",
                    run,
                    lambda stats, end=end: _check_sink(sink, start, end, stats),
                    attrs={"blocks": CHAIN_BACKFILL if k == 0 else CHAIN_TAIL},
                )
            )
        return calls


def _check_sink(sink: str, start: int, end: int, stats) -> bool:
    """Chain sink invariants after a ``run_range`` call, read with DuckDB:
    one ``blocks`` row per indexed block, unique ``(block_index,
    tx_index)`` in ``transactions``, unique entity keys, and the call's
    ``RunStats.records`` equal to what the sink holds for the buckets it
    rewrote (fact tables) or in total (entity tables)."""
    import duckdb

    from etl_rust_spark.etl.writer import DEFAULT_BUCKET_SIZE

    con = duckdb.connect()
    try:
        def one(sql: str) -> tuple:
            return con.execute(sql).fetchone()

        def src(t: str) -> str:
            return f"read_parquet('{sink}/{t}/**/*.parquet', hive_partitioning=true)"

        n, d, lo, hi = one(f"SELECT count(*), count(DISTINCT block_index), min(block_index), max(block_index) FROM {src('blocks')}")
        if (n, d, lo, hi) != (end - start, end - start, start, end - 1):
            return False
        n, d = one(f"SELECT count(*), count(DISTINCT (block_index, tx_index)) FROM {src('transactions')}")
        if n != d:
            return False
        for table, key in (("accounts", "pubkey"), ("tokens", "mint")):
            n, d = one(f"SELECT count(*), count(DISTINCT {key}) FROM read_parquet('{sink}/{table}/*.parquet')")
            if n != d or stats.records.get(table) != n:
                return False
        b_lo, b_hi = stats.start // DEFAULT_BUCKET_SIZE, (stats.end - 1) // DEFAULT_BUCKET_SIZE
        for table, count in stats.records.items():
            if table in ("accounts", "tokens"):
                continue
            (n,) = one(f"SELECT count(*) FROM {src(table)} WHERE block_bucket BETWEEN {b_lo} AND {b_hi}")
            if n != count:
                return False
        return True
    finally:
        con.close()


class _CorpusIngest(Workload):
    """``etl.ingest.ingest_corpus`` of seeded JSONL shards to parquet,
    through each codec route once per lap, in a seeded order."""

    def generate(self) -> None:
        from etl_rust_spark.functions.hashing import canonical_hash

        self.corpus = inputs.write_corpus(self.seed, CORPUS_DOCS, CORPUS_SHARDS, os.path.join(self.work, "corpus"))
        tbl = self.corpus.pop("table")
        cols = tbl.column_names
        self.expected = canonical_hash(list(zip(*(tbl.column(c).to_pylist() for c in cols))), cols)
        # read_corpus picks the in-repo Python zstd decoder by the path
        # string's suffix, so the glob goes to Python; the gz directory
        # goes to Spark's own codec.
        self.routes = {
            "zst_glob": (self.corpus["zst_glob"], self.corpus["zst_bytes"]),
            "gz_dir": (self.corpus["gz_dir"], self.corpus["gz_bytes"]),
        }

    def wrap_targets(self):
        from etl_rust_spark.etl import ingest

        return [(ingest, "read_corpus", "etl.ingest.read_corpus")]

    def _call(self, route: str) -> Call:
        from etl_rust_spark.etl import ingest

        path, nbytes = self.routes[route]
        out = os.path.join(self.work, f"out-{route}")

        def run(spark, tracer):
            return ingest.ingest_corpus(spark, path, out), out

        attrs = {"compressed_bytes": nbytes, "raw_bytes": self.corpus["raw_bytes"], "rows": self.corpus["docs"]}
        return Call(route, "ingest", run, self._check, attrs)

    def setup_call(self) -> Call:
        return self._call("gz_dir")

    def lap(self, i: int) -> list[Call]:
        names = list(self.routes)
        return [self._call(names[j]) for j in self.rng.permutation(len(names))]

    def _check(self, result) -> bool:
        import pyarrow.parquet as pq

        from etl_rust_spark.functions.hashing import canonical_hash

        n, out = result
        tbl = pq.read_table(out)
        cols = tbl.column_names
        rows = list(zip(*(tbl.column(c).to_pylist() for c in cols)))
        return n == self.corpus["docs"] == len(rows) and canonical_hash(rows, cols) == self.expected


class EtlWrite(Workload):
    """A chain-index lap followed by a corpus-ingest lap."""

    name = "etl_write"
    why = "write path: chain backfill plus resumed tail appends, then corpus ingest by two codec routes; planner mostly idle"
    # The JIT is still compiling the chain pipeline in its second lap
    # (~10 % slower and twice as variable as the third), so the chain
    # warms for two laps; ingest is warm after one.
    warmup_laps = 2

    def __init__(self, seed: int, work_dir: str):
        super().__init__(seed, work_dir)
        self.chain = _ChainIndex(seed, os.path.join(work_dir, "chain"))
        self.ingest = _CorpusIngest(seed, os.path.join(work_dir, "ingest"))

    def generate(self) -> None:
        self.chain.generate()
        self.ingest.generate()

    def wrap_targets(self):
        return self.chain.wrap_targets() + self.ingest.wrap_targets()

    def setup_call(self) -> Call:
        return self.ingest.setup_call()

    def figures(self, groups, calls):
        return {
            "index_blocks_per_s": groups["backfill"]["blocks_per_s"],
            "tail_batch_s_p50": groups["tail"]["p50_s"],
            "tail_batch_s_hi": groups["tail"].get("hi_s"),
            "ingest_zst_mb_per_s": calls["zst_glob"]["mb_per_s"],
            "ingest_gz_mb_per_s": calls["gz_dir"]["mb_per_s"],
        }

    def lap(self, i: int) -> list[Call]:
        return self.chain.lap(i) + self.ingest.lap(i)

    def warmup(self, i: int) -> list[Call]:
        return self.lap(i) if i == 0 else self.chain.lap(i)


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (EtlWrite, AnalyticsRead)}
