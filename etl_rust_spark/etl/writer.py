"""Multi-table fan-out writer (reference K-01/K-08 + X-06 re-expressed).

The reference opens one sink connection per table and publishes each
record row-by-row with retry/backoff
(/root/reference/src/output/publish.rs:6-11, src/output/jsonl.rs:17-104);
its GCS sink groups records into ``date/hour/{0|30}`` directory keys
(/root/reference/src/output/gcs.rs:91-162).

Spark-first re-expression:

- One ``df.write`` per table — the "connection per table" becomes a
  per-table output directory; Spark's task-level commit protocol replaces
  per-record retry (a failed task re-runs; committed files never repeat).
- **Idempotency** replaces at-least-once retry: every table is
  partitioned by ``block_bucket = block_index div bucket_size`` and
  written with dynamic partition overwrite, so re-running a range
  rewrites exactly the buckets it covers — same input, same output,
  no duplicates.  This is the exactly-once fan-out design from
  SURVEY §7's watch list.
- The GCS time-bucket layout is ``layout="time"``: derived
  ``d/h/half`` partition columns (identical rule to DQ-44), written
  with ``partitionBy("d", "h", "half")``.
- Record counts (reference O-01 Prometheus counters) come from the
  ``Observation`` API — metrics ride the write action itself, no second
  count job over the data.

Scale notes (100 TB): ``bucket_size`` controls output file granularity —
pick so one bucket ≈ 128 MB–1 GB per table; dynamic partition overwrite
touches only affected partitions' metadata; JSONL is an edge format
(line-parseable downstream), parquet is the internal default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from etl_rust_spark.sources.checkpoint import sink_has_data

__all__ = ["time_bucket_cols", "write_table", "write_tables", "merge_entity_table"]

DEFAULT_BUCKET_SIZE = 1000


def time_bucket_cols(df: DataFrame, ts_col: str) -> DataFrame:
    """Derive the reference's GCS partition key columns (X-06, DQ-44).

    ``d`` = ISO date, ``h`` = hour, ``half`` = 0 for minutes 0-29 else 30
    — the exact rule at /root/reference/src/output/gcs.rs:105-115.
    """
    return (
        df.withColumn("d", F.col(ts_col).cast("date").cast("string"))
        .withColumn("h", F.hour(ts_col))
        .withColumn("half", F.when(F.minute(ts_col) < 30, F.lit(0)).otherwise(F.lit(30)))
    )


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    layout: str = "block",
    ts_col: str | None = None,
    bucket_size: int = DEFAULT_BUCKET_SIZE,
) -> int:
    """Write one table; returns the number of records written.

    ``layout="block"``: partition by ``block_bucket`` (requires a
    ``block_index`` column) with dynamic overwrite → idempotent re-runs.
    ``layout="time"``: the GCS ``d/h/half`` layout (requires ``ts_col``).
    ``layout="flat"``: no partitioning (small dimension tables).
    """
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("n_records"))
    writer_df = df
    partition_cols: list[str] = []
    if layout == "block":
        writer_df = df.withColumn(
            "block_bucket", F.expr(f"block_index div {int(bucket_size)}")
        )
        partition_cols = ["block_bucket"]
    elif layout == "time":
        if not ts_col:
            raise ValueError("layout='time' requires ts_col")
        writer_df = time_bucket_cols(df, ts_col)
        partition_cols = ["d", "h", "half"]
    elif layout != "flat":
        raise ValueError(f"unknown layout {layout!r}")

    writer = writer_df.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    )
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    if fmt == "parquet":
        writer.parquet(path)
    elif fmt == "jsonl":
        # K-01 edge format: one JSON object per line (Spark's json writer
        # is JSONL by construction).
        writer.json(path)
    else:
        raise ValueError(f"unknown format {fmt!r}")
    return int(obs.get["n_records"])


def merge_entity_table(
    df: DataFrame, path: str, key_col: str, fmt: str = "parquet"
) -> int:
    """Upsert an entity (dimension) table keeping the min-``block_index``
    row per ``key_col``; returns rows in the merged table.

    Entity tables (first-seen accounts/tokens) derive "first seen" from
    whatever range the current run covers, so a per-run bucket write
    duplicates a key whose true first sighting was in an earlier,
    non-staged bucket (ADVICE r1).  The merge reads the existing sink,
    unions the new derivation, and keeps one row per key — the classic
    dimension-upsert compaction.  Entity tables are O(distinct entities)
    (orders of magnitude smaller than facts), so a full rewrite per run
    is the right trade; on a lakehouse table format (Delta/Iceberg) this
    becomes a MERGE and the rewrite is avoided.

    When the sink exists, ``localCheckpoint`` materializes the merged
    frame eagerly — Spark cannot overwrite a path it is still reading
    from; an existing sink that cannot be read (corrupt file, missing
    column) raises rather than being replaced.  An absent sink needs
    no checkpoint.  The row count rides the write as an ``Observation``
    (no count job).
    """
    if fmt not in ("parquet", "jsonl"):
        raise ValueError(f"unknown format {fmt!r}")
    spark = df.sparkSession
    exists = sink_has_data(spark, path)
    merged = df
    if exists:
        existing = (
            spark.read.parquet(path) if fmt == "parquet" else spark.read.json(path)
        )
        merged = df.unionByName(existing.select(*df.columns))
    w = Window.partitionBy(key_col).orderBy(F.col("block_index"))
    out = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if exists:
        out = out.localCheckpoint()
    obs = Observation()
    writer = out.observe(obs, F.count(F.lit(1)).alias("n_records")).write.mode(
        "overwrite"
    )
    if fmt == "parquet":
        writer.parquet(path)
    else:
        writer.json(path)
    return int(obs.get["n_records"])


def write_tables(
    tables: dict[str, DataFrame],
    out_dir: str,
    fmt: str = "parquet",
    layout: str = "block",
    bucket_size: int = DEFAULT_BUCKET_SIZE,
) -> dict[str, int]:
    """Fan one transform output out to per-table sinks (K-08).

    Returns per-table record counts — the engine's publish metrics
    (reference O-01).  Tables lacking ``block_index`` fall back to a
    flat layout.
    """
    counts: dict[str, int] = {}
    for name, df in tables.items():
        ts_col = "block_timestamp" if "block_timestamp" in df.columns else None
        t_layout = layout
        if layout == "time" and ts_col is None:
            t_layout = "block" if "block_index" in df.columns else "flat"
        elif layout == "block" and "block_index" not in df.columns:
            t_layout = "flat"
        counts[name] = write_table(
            df,
            f"{out_dir}/{name}",
            fmt=fmt,
            layout=t_layout,
            ts_col=ts_col,
            bucket_size=bucket_size,
        )
    return counts
