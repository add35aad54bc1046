"""Resume-from-previous-run range adjustment (reference S-08).

The reference scans ``./indexed_blocks/`` marker files and advances the
range start past the max completed index — or shrinks the end when
reversing — panicking when the range is already done
(/root/reference/src/main.rs:186-238).

Spark-first re-expression: the *sink itself* is the checkpoint.  The
high-watermark is ``max(block_index)`` over the already-written blocks
table — one aggregate over parquet footer statistics (min/max pruning
makes this a metadata-only scan), no side-channel marker files to drift
out of sync with the data.  Streaming jobs get this for free from the
Structured Streaming checkpoint dir instead (streaming/pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

__all__ = [
    "data_files",
    "sink_has_data",
    "sink_high_watermark",
    "reverse_resume_end",
    "pick_up_from_previous_range",
]


def _hidden(name: str) -> bool:
    # Spark's file-index rule: ``_``/``.`` names are commit markers,
    # summaries and in-flight ``_temporary`` output, except partition
    # directories such as ``_c=1``.
    return (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


def data_files(spark: SparkSession, path: str):
    """Yield the names of the data files a Spark read of ``path`` would
    scan: the files ``path`` (a glob allowed) matches, and the files
    under the directories it matches, skipping hidden names below them.

    Listed through the Hadoop FileSystem API, so any scheme the session
    can read works.  A missing path yields nothing.
    """
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())

    def walk(statuses):
        for st in statuses:
            if st.isDirectory():
                yield from walk(
                    c for c in fs.listStatus(st.getPath())
                    if not _hidden(c.getPath().getName())
                )
            else:
                yield st.getPath().getName()

    yield from walk(fs.globStatus(root) or ())


def sink_has_data(spark: SparkSession, path: str) -> bool:
    """True when ``path`` holds at least one data file a Spark read would
    scan.  A missing path, or one holding only markers or the
    ``_temporary`` leftovers of a crashed first write, is absent.

    Callers read an existing sink without a blanket ``except``: a
    corrupt file or a schema mismatch in a sink that does exist raises
    instead of passing for a first run.
    """
    return next(data_files(spark, path), None) is not None


def sink_high_watermark(spark: SparkSession, blocks_path: str) -> int | None:
    """Max committed ``block_index`` in the sink, or None if empty/absent."""
    if not sink_has_data(spark, blocks_path):
        return None
    df = spark.read.parquet(blocks_path)
    row = df.agg(F.max("block_index").alias("hw")).collect()[0]
    return row["hw"]


def reverse_resume_end(
    spark: SparkSession, blocks_path: str, start: int, end: int
) -> int | None:
    """Min of the CONTIGUOUS top segment of committed indices in
    ``[start, end)`` — i.e. the largest ``m`` with all of ``[m, end)``
    present — or None if ``end - 1`` itself is not committed.

    A reverse run completes blocks from the top down, so its resume
    point is this contiguous-segment minimum, NOT ``max(block_index)``
    (the round-1 bug, ADVICE r1): with max() a crashed reverse run
    would resume at ``end - 1`` and re-extract nearly everything, and
    blocks left by an earlier *forward* run lower in the sink could
    clamp the range below the actually-unindexed region, silently
    skipping blocks.  Mirrors the reference's walk down the sorted
    completed list (/root/reference/src/main.rs:186-238).

    Cost: indices-only distinct + one global-window pass — a resume-time
    metadata operation over 8-byte keys, not a data-plane scan.
    """
    if not sink_has_data(spark, blocks_path):
        return None
    df = spark.read.parquet(blocks_path)
    idx = (
        df.select("block_index")
        .where((F.col("block_index") >= start) & (F.col("block_index") < end))
        .distinct()
    )
    w = Window.orderBy(F.desc("block_index"))
    row = (
        idx.withColumn("rn", F.row_number().over(w))
        .where(F.col("block_index") == end - F.col("rn"))
        .agg(F.min("block_index").alias("m"))
        .collect()[0]
    )
    return row["m"]


def pick_up_from_previous_range(
    spark: SparkSession,
    blocks_path: str,
    start: int,
    end: int | None,
    reverse: bool = False,
) -> tuple[int, int | None]:
    """Adjusted ``(start, end)`` skipping the already-indexed prefix.

    Matches the reference's semantics including the hard error when the
    requested range has already been fully indexed.
    """
    if reverse:
        if end is None:
            raise ValueError("reverse resume requires an explicit end")
        m = reverse_resume_end(spark, blocks_path, start, end)
        if m is None:
            return start, end
        if m <= start:
            raise RuntimeError(
                f"range [{start}, {end}) already fully indexed (reverse low-watermark {m})"
            )
        return start, m
    hw = sink_high_watermark(spark, blocks_path)
    if hw is None:
        return start, end
    new_start = max(start, hw + 1)
    if end is not None and new_start >= end:
        raise RuntimeError(
            f"range [{start}, {end}) already fully indexed (high-watermark {hw})"
        )
    return new_start, end
