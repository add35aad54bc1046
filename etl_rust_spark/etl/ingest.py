"""Corpus ingestion: external document feeds → the canonical
``documents`` table shape.

The analytics/curation operators all run against the declared
``documents`` schema (catalog.SCHEMAS); this module is the on-ramp for
real corpora arriving as JSONL or CSV (the universal interchange
formats for text datasets):

- explicit schema at the read (the engine's no-inference rule — the
  reference compiles its schemas, SURVEY §1.2; a malformed line fails
  loudly in PERMISSIVE-with-corrupt-column mode and is counted),
- canonicalization: id/text extraction from configurable field names,
  ``n_chars`` derived, ``lang``/``source`` defaulted when absent,
- dedupe-safe ids: when the feed has no id field, a deterministic
  60-bit content hash of the text stands in (stable across re-ingests,
  unlike ``monotonically_increasing_id`` which depends on partition
  layout).

Scale: a pure scan→project→write; ingestion parallelism is file-split
parallelism, and the output is written with the same block-bucket
idempotency discipline as every other sink when ``bucket_size`` is set.
Compression: ``.gz``/``.bz2`` and ``.zst`` (``.jsonl.zst`` is the
HuggingFace shard format) decode on Spark's built-in JVM codecs, for a
glob of shards and a directory alike; ``.xz``, which Spark ships no
codec for, routes through a per-file-parallel Python path (stdlib lzma).
The route follows the files a path resolves to, so a glob and a
directory of ``.xz`` shards route alike; a path mixing ``.xz`` with
other codecs is refused.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_rust_spark.operators.hashes import MINHASH_P, spark_h
from etl_rust_spark.sources.checkpoint import data_files

__all__ = ["read_corpus", "ingest_corpus"]

_FORMATS = ("jsonl", "csv", "avro", "warc")

# Extensions Spark cannot decode: xz has no bundled codec, yet it is a
# common archive format for corpus shards, so it routes through a
# binaryFile scan + Arrow-batched stdlib-lzma decode.  .gz/.bz2/.zst
# stay on Spark's built-in JVM codecs (for zstd ~5x the throughput of
# the in-repo Python decoder, and no Python worker).
_PYTHON_CODEC_EXTS = (".xz",)


def _python_codec_needed(spark: SparkSession, path: str) -> bool:
    """Route by the files ``path`` resolves to (a glob, a directory or a
    file), not by its own suffix: Spark's reader would turn every line
    of an ``.xz`` shard into a dropped corrupt record."""
    xz = {n.endswith(_PYTHON_CODEC_EXTS) for n in data_files(spark, path)}
    if len(xz) > 1:
        raise ValueError(
            f"corpus path {path!r} mixes {'/'.join(_PYTHON_CODEC_EXTS)} shards "
            "with other files; read them separately"
        )
    return xz == {True}


def _read_jsonl_python_codec(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """JSONL shards in a format Spark has no codec for (.xz): per-FILE
    parallel decompress + line split in one Arrow kernel, then
    ``from_json`` with the same PERMISSIVE corrupt-record spill as the
    native reader.  A shard is decoded as a unit — the standard posture
    for non-seekable container compression (same note as the Avro
    path); corpus suppliers shard for exactly this reason."""
    import pandas as pd

    def gen(batches):
        import lzma

        for pdf in batches:
            for blob in pdf["content"]:
                data = lzma.decompress(bytes(blob))
                lines = data.decode("utf-8", "replace").splitlines()
                if lines:
                    yield pd.DataFrame({"line": lines})

    lines = (
        spark.read.format("binaryFile")
        .load(path)
        .select("content")
        .mapInPandas(gen, "line string")
    )
    parsed = lines.select(
        F.from_json(
            "line", schema, {"columnNameOfCorruptRecord": "_corrupt_record"}
        ).alias("r")
    ).select("r.*")
    # from_json signals an unparseable line through the spill column
    # when it is declared in the schema — identical downstream filter.
    return parsed


def read_corpus(
    spark: SparkSession,
    path: str,
    fmt: str = "jsonl",
    id_field: str | None = "doc_id",
    text_field: str = "text",
    lang_field: str | None = "lang",
    source_field: str | None = "source",
    default_source: str = "ingest",
) -> DataFrame:
    """Read an external corpus into the canonical documents shape:
    ``(doc_id long, text string, lang string, source string,
    n_chars long)``.

    ``id_field=None`` derives ``doc_id`` from the text content hash
    (60-bit, stable across re-ingests and partitionings).  Rows with
    NULL/empty text are dropped (counted by comparing counts upstream
    if needed); a ``_corrupt_record`` column, if the reader produced
    one, is filtered and dropped.
    """
    if fmt not in _FORMATS:
        raise ValueError(f"unknown corpus format {fmt!r} (use one of {_FORMATS})")
    if fmt == "warc":
        # Web archives produce the canonical shape directly (URL as
        # source, content-hash ids) — field-name knobs don't apply.
        from etl_rust_spark.etl.warc import read_warc, warc_to_documents

        return warc_to_documents(read_warc(spark, path))
    if fmt == "avro":
        # Avro Object Container Files via the jar-free spec codecs
        # (functions/wireformats.py) — parallelism is per FILE (each
        # container decodes as a unit); at real scale the spark-avro jar
        # adds sync-marker split parallelism, this is the portable path.
        import pandas as pd

        from etl_rust_spark.functions.wireformats import read_avro_container

        wanted = [text_field] + [
            c for c in (id_field, lang_field, source_field) if c
        ]
        out_schema = T.StructType(
            [T.StructField(text_field, T.StringType())]
            + [
                T.StructField(c, T.LongType() if c == id_field else T.StringType())
                for c in wanted[1:]
            ]
        )

        def gen(batches):
            for pdf in batches:
                for blob in pdf["content"]:
                    _, recs = read_avro_container(bytes(blob))
                    rows = pd.DataFrame.from_records(recs) if recs else pd.DataFrame()
                    for c in wanted:
                        if c not in rows.columns:
                            rows[c] = None
                    yield rows[wanted]

        raw = (
            spark.read.format("binaryFile")
            .load(path)
            .select("content")
            .mapInPandas(gen, out_schema)
        )
    elif fmt == "jsonl":
        # JSON matches schema fields BY NAME — declare exactly what we
        # consume plus the corrupt-record spill column.
        fields = [T.StructField(text_field, T.StringType())]
        if id_field:
            fields.append(T.StructField(id_field, T.LongType()))
        if lang_field:
            fields.append(T.StructField(lang_field, T.StringType()))
        if source_field:
            fields.append(T.StructField(source_field, T.StringType()))
        fields.append(T.StructField("_corrupt_record", T.StringType()))
        if _python_codec_needed(spark, path):
            raw = _read_jsonl_python_codec(spark, path, T.StructType(fields))
        else:
            raw = spark.read.schema(T.StructType(fields)).option(
                "columnNameOfCorruptRecord", "_corrupt_record"
            ).json(path)
        raw = raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    else:
        # CSV with an explicit schema binds BY POSITION, so read by
        # header (all strings) and cast below — absent optional columns
        # are added as NULLs to keep the same downstream path.
        raw = spark.read.option("header", "true").csv(path)
        for c in filter(None, (id_field, lang_field, source_field)):
            if c not in raw.columns:
                raw = raw.withColumn(c, F.lit(None).cast("string"))
    raw = raw.filter(F.col(text_field).isNotNull() & (F.col(text_field) != ""))
    if id_field:
        doc_id = F.col(id_field).cast("long")
    else:
        key = f"concat('ingest:', {text_field})"
        doc_id = F.expr(f"{spark_h(x=key)} % {MINHASH_P}").cast("long")
    return raw.select(
        doc_id.alias("doc_id"),
        F.col(text_field).alias("text"),
        (F.col(lang_field) if lang_field else F.lit(None).cast("string")).alias("lang"),
        F.coalesce(
            F.col(source_field) if source_field else F.lit(None).cast("string"),
            F.lit(default_source),
        ).alias("source"),
        F.length(text_field).cast("long").alias("n_chars"),
    )


def ingest_corpus(
    spark: SparkSession,
    path: str,
    out: str,
    fmt: str = "jsonl",
    **read_kwargs,
) -> int:
    """Read + write as parquet in the canonical shape; returns the row
    count (one Observation, no second scan)."""
    from pyspark.sql import Observation

    obs = Observation()
    df = read_corpus(spark, path, fmt, **read_kwargs).observe(
        obs, F.count(F.lit(1)).alias("n")
    )
    df.write.mode("overwrite").parquet(out)
    return int(obs.get["n"])
