"""End-to-end batch extraction pipeline (reference §3.1 ``index-range``).

Reference lifecycle: parse range → connect per-table sinks → worker pool
fetches blocks over JSON-RPC → deserialize → transform → publish each
table with backoff (/root/reference/src/main.rs:391-429 and
src/example_config/mod.rs:17-25).

Spark-first lifecycle (one logical plan, Catalyst-scheduled):

1. ``block_range`` — distributed index source (S-01).
2. ``chain.fetch`` — raw responses; a real config does batched RPC in
   ``mapPartitions`` here (S-04/S-07); retries are task retries.
3. **Raw staging**: the raw frame is written once to
   ``{out}/_raw`` parquet.  The reference fetches each block exactly
   once and fans records out in memory; naively re-using the fetch
   DataFrame for 7 table writes would re-fetch the node 7×.  Staging
   keeps the once-only fetch guarantee, gives a replayable audit log,
   and every table derivation becomes a columnar scan with pushdown.
4. ``chain.transform`` over the staged raw → 7 table DataFrames (X-02).
5. Concurrent fan-out, as the reference publishes every table at once
   through one publisher per table: each fact-table write
   (``write_tables``, idempotent block-bucket overwrite) and each entity
   merge (``merge_entity_table``) runs on its own driver thread, so
   their Spark jobs overlap instead of queueing behind each other's
   fixed per-job latency.  The threads inherit the caller's job group
   and description.  ``blocks`` commits alone, after every other sink
   (K-08 + S-08 exactly-once design).

Resume (S-08): ``resume=True`` consults the blocks sink's high-watermark
and skips the already-indexed prefix — the sink is the checkpoint.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from etl_rust_spark.etl.writer import (
    DEFAULT_BUCKET_SIZE,
    merge_entity_table,
    write_tables,
)
from etl_rust_spark.sources.chain import ChainConfig
from etl_rust_spark.sources.checkpoint import (
    pick_up_from_previous_range,
    sink_has_data,
)
from etl_rust_spark.sources.ranges import block_range

__all__ = ["RunStats", "run_range"]


@dataclass
class RunStats:
    """Per-run metrics — the engine's O-01 surface."""

    start: int
    end: int
    raw_blocks: int = 0
    records: dict[str, int] = field(default_factory=dict)

    @property
    def total_records(self) -> int:
        return sum(self.records.values())


def _run_concurrently(
    spark: SparkSession, sinks: dict[str, Callable[[], int]]
) -> dict[str, int]:
    """Run every sink on its own driver thread and return their counts.

    Each thread target is wrapped separately, so each gets its own copy
    of the caller's local properties (job group, description): a shared
    copy would let one thread's SQL execution id leak into another's.
    Waits for every sink before re-raising the first failure in sink
    order, so no job of the call is still running when it returns.
    """
    with ThreadPoolExecutor(max_workers=max(1, len(sinks))) as pool:
        futures = {
            name: pool.submit(inheritable_thread_target(spark)(fn))
            for name, fn in sinks.items()
        }
    return {name: f.result() for name, f in futures.items()}


def run_range(
    spark: SparkSession,
    chain: ChainConfig,
    start: int,
    end: int,
    out_dir: str,
    resume: bool = False,
    reverse: bool = False,
    fmt: str = "parquet",
    layout: str = "block",
    bucket_size: int = DEFAULT_BUCKET_SIZE,
    num_partitions: int | None = None,
) -> RunStats:
    """Extract ``[start, end)`` through ``chain`` into ``out_dir``.

    ``reverse=True`` works the range from ``end - 1`` toward ``start``
    (reference ``--reverse``, /root/reference/src/main.rs:75-83): commit
    order is descending, and a resumed reverse run picks up below the
    contiguous top segment already in the sink (min-side watermark) —
    results are identical to a forward run; only ordering/resume differ.
    """
    if resume:
        start, end = pick_up_from_previous_range(
            spark, f"{out_dir}/blocks", start, end, reverse=reverse
        )
    blocks = block_range(
        spark, start, end, reverse=reverse, num_partitions=num_partitions
    )

    raw_path = f"{out_dir}/_raw"
    raw = chain.fetch(blocks).withColumn(
        "block_bucket", F.expr(f"block_index div {int(bucket_size)}")
    )
    # Dynamic bucket overwrite would drop previously staged blocks that
    # share a bucket with this range (e.g. a resume starting mid-bucket),
    # so fold those rows back into the staging write.  localCheckpoint()
    # materializes them eagerly — Spark cannot otherwise overwrite a path
    # it is still reading from.
    lo, hi = start // bucket_size, (end - 1) // bucket_size
    if sink_has_data(spark, raw_path):
        carried = (
            spark.read.parquet(raw_path)
            .where(f"block_bucket BETWEEN {lo} AND {hi}")
            .where(f"block_index < {start} OR block_index >= {end}")
            .localCheckpoint()
        )
        raw = raw.unionByName(carried)
    # Stage aligned to the same bucket/overwrite discipline as the tables.
    # The write rewrites buckets [lo, hi] whole, so the rows it writes are
    # exactly the staged rows read back below: count them on the write.
    staged_rows = Observation()
    raw.observe(staged_rows, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "dynamic").partitionBy(
        "block_bucket"
    ).parquet(raw_path)

    # Derive tables from every staged block in the buckets this range
    # touches (not just [start, end)): table writes dynamically overwrite
    # whole buckets, so a resume that starts mid-bucket must re-derive the
    # bucket's earlier blocks too or they'd be dropped from the sink.
    # Those buckets hold only what was just written, so its schema is
    # known and the read needs no footer-inference job.
    staged = (
        spark.read.schema(raw.schema)
        .parquet(raw_path)
        .where(f"block_bucket BETWEEN {lo} AND {hi}")
    )
    stats = RunStats(start=start, end=end, raw_blocks=int(staged_rows.get["n"]))
    tables = chain.transform(staged.select("block_index", "response_json"))
    # Entity (first-seen dimension) tables can't use the bucket-overwrite
    # path: their min(block_index) is computed over THIS run's staged
    # buckets, so a key first seen in an earlier run would gain a second
    # row in a later bucket (ADVICE r1).  They upsert via a keyed merge
    # with the existing sink instead.
    entity_keys = getattr(chain, "entity_keys", {})
    entities = {t: tables.pop(t) for t in list(tables) if t in entity_keys}
    # Commit-marker-last discipline (exactly-once fan-out under a
    # mid-batch kill): the blocks table doubles as the resume
    # checkpoint, so it must commit only AFTER every other sink has
    # committed its share of the range.  Written first, a crash between
    # the blocks write and a later table's write would advance the
    # watermark past records the other tables never received, and a
    # resume would skip them forever.  Written last, a crash anywhere in
    # the fan-out leaves the watermark un-advanced; the resumed run
    # re-derives the range and the idempotent bucket overwrite makes
    # partially-committed tables consistent.  The other sinks commit
    # concurrently, in any order; blocks starts only once all of them
    # have finished, and not at all if any failed.  Kill-tested in
    # tests/test_etl.py::test_kill_between_sinks_then_resume_is_exactly_once.
    watermark = {t: tables.pop(t) for t in ("blocks",) if t in tables}

    def fact(name: str) -> Callable[[], int]:
        return lambda: write_tables(
            {name: tables[name]},
            out_dir,
            fmt=fmt,
            layout=layout,
            bucket_size=bucket_size,
        )[name]

    def entity(name: str) -> Callable[[], int]:
        return lambda: merge_entity_table(
            entities[name], f"{out_dir}/{name}", entity_keys[name], fmt=fmt
        )

    sinks = {name: fact(name) for name in tables}
    sinks.update((name, entity(name)) for name in entities)
    stats.records = _run_concurrently(spark, sinks)
    stats.records.update(
        write_tables(
            watermark, out_dir, fmt=fmt, layout=layout, bucket_size=bucket_size
        )
    )
    return stats
