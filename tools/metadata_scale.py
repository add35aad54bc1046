#!/usr/bin/env python
"""Driver-memory ceiling measurement for the interop metadata walks
(VERDICT r10 #4): build a synthetic N-file Delta checkpoint and an
N-entry Iceberg manifest chain, then measure wall time and PEAK driver
memory (tracemalloc) for snapshot planning + pruning.

The claim under test: checkpoint decode is STREAMED (record batches,
action columns projected), so peak memory is the live adds dict alone
— O(files_live), never O(files x decode-copies).

Usage: python tools/metadata_scale.py [N] [--spark]  (default 100_000)
Prints one JSON line; paste the numbers into SCALE.md.

--spark additionally A/Bs the r12 Spark-side planning route (delta
checkpoint decode via JVM toJSON streaming; iceberg manifest decode
fanned over executors) against the driver-side walk at the same N.
"""

from __future__ import annotations

import json
import sys
import time
import tracemalloc
import uuid
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def build_delta(root: Path, n: int) -> str:
    """A Delta log whose version 0 is ONE classic checkpoint with n
    add actions (the log-cleaned shape: no JSON commits below it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = root / "delta"
    log = t / "_delta_log"
    log.mkdir(parents=True)
    schema = pa.schema([
        ("protocol", pa.struct([("minReaderVersion", pa.int32()),
                                ("minWriterVersion", pa.int32())])),
        ("metaData", pa.struct([
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string()),
                                  ("options", pa.map_(pa.string(),
                                                      pa.string()))])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string()))])),
        ("add", pa.struct([
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string())])),
    ])
    sch_str = json.dumps({"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}},
    ]})
    rows = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
         "metaData": None, "add": None},
        {"protocol": None, "add": None,
         "metaData": {"id": str(uuid.uuid4()),
                      "format": {"provider": "parquet", "options": []},
                      "schemaString": sch_str, "partitionColumns": [],
                      "configuration": []}},
    ] + [
        {"protocol": None, "metaData": None,
         "add": {"path": f"part-{i:07d}.parquet",
                 "partitionValues": [], "size": 1 << 20,
                 "modificationTime": 0, "dataChange": True,
                 "stats": json.dumps({"numRecords": 1000,
                                      "minValues": {"k": i * 1000},
                                      "maxValues": {"k": i * 1000 + 999}})}}
        for i in range(n)
    ]
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   log / f"{0:020d}.checkpoint.parquet")
    (log / "_last_checkpoint").write_text(json.dumps({"version": 0}))
    return str(t)


def build_iceberg(root: Path, n: int, per_manifest: int = 10_000) -> str:
    """An Iceberg table whose one snapshot references n data files
    split across ceil(n/per_manifest) manifests."""
    from etl_rust_spark.functions.wireformats import write_avro_container

    t = root / "ice"
    md = t / "metadata"
    md.mkdir(parents=True)
    entry_schema = {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {"name": "lower_bounds", "type": ["null", {
                        "type": "array", "items": {
                            "type": "record", "name": "kv", "fields": [
                                {"name": "key", "type": "int"},
                                {"name": "value", "type": "bytes"},
                            ]}}]},
                    {"name": "upper_bounds", "type": ["null", {
                        "type": "array", "items": {
                            "type": "record", "name": "kv2", "fields": [
                                {"name": "key", "type": "int"},
                                {"name": "value", "type": "bytes"},
                            ]}}]},
                ]}},
        ],
    }
    mf_schema = {
        "type": "record", "name": "manifest_file", "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "partition_spec_id", "type": "int"},
            {"name": "added_snapshot_id", "type": "long"},
        ],
    }
    import struct

    def kb(v):  # iceberg single-value bound serialization for long
        return struct.pack("<q", v)

    mfs = []
    for m0 in range(0, n, per_manifest):
        mp = md / f"manifest-{m0}.avro"
        write_avro_container(str(mp), [
            {"status": 1, "snapshot_id": 1000, "data_file": {
                "content": 0,
                "file_path": f"data/f{i:07d}.parquet",
                "file_format": "PARQUET",
                "record_count": 1000, "file_size_in_bytes": 1 << 20,
                "lower_bounds": [{"key": 1, "value": kb(i * 1000)}],
                "upper_bounds": [{"key": 1,
                                  "value": kb(i * 1000 + 999)}]}}
            for i in range(m0, min(m0 + per_manifest, n))
        ], entry_schema, codec="deflate")
        mfs.append({"manifest_path": "file://" + str(mp),
                    "manifest_length": mp.stat().st_size,
                    "partition_spec_id": 0, "added_snapshot_id": 1000})
    lp = md / "snap-1000.avro"
    write_avro_container(str(lp), mfs, mf_schema, codec="deflate")
    meta = {
        "format-version": 2,
        "table-uuid": str(uuid.uuid4()),
        "location": "file://" + str(t),
        "last-updated-ms": 1_000,
        "last-column-id": 1,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": [
            {"id": 1, "name": "k", "required": False, "type": "long"},
        ]}],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "snapshots": [{"snapshot-id": 1000, "timestamp-ms": 1_000,
                       "manifest-list": "file://" + str(lp),
                       "summary": {"operation": "append"},
                       "schema-id": 0}],
        "current-snapshot-id": 1000,
        "snapshot-log": [{"snapshot-id": 1000, "timestamp-ms": 1_000}],
    }
    (md / "v1.metadata.json").write_text(json.dumps(meta))
    (md / "version-hint.text").write_text("1")
    return str(t)


def measured(fn):
    # wall first (tracemalloc slows allocation-heavy code 3-10x),
    # then a second run traced for the honest peak
    t0 = time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t0
    tracemalloc.start()
    fn()
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    return out, round(wall, 3), round(peak / 1e6, 1)


def main() -> None:
    import tempfile

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    root = Path(tempfile.mkdtemp(prefix="meta_scale_"))
    delta = build_delta(root, n)
    ice = build_iceberg(root, n)

    from etl_rust_spark.deltalake import delta_snapshot, delta_table_files
    from etl_rust_spark.iceberg import iceberg_snapshot, iceberg_table_files

    snap, t_snap, mem_snap = measured(lambda: delta_snapshot(delta))
    assert len(snap["adds"]) == n
    hit, t_prune, mem_prune = measured(
        lambda: delta_table_files(delta, prune=[("k", 5_000, 5_500)])
    )
    isnap, t_ice, mem_ice = measured(lambda: iceberg_snapshot(ice))
    assert len(isnap["files"]) == n
    ihit, t_iprune, mem_iprune = measured(
        lambda: iceberg_table_files(ice, prune=[("k", 5_000, 5_500)])
    )
    ckpt_mb = round(sum(
        p.stat().st_size for p in (Path(delta) / "_delta_log").iterdir()
    ) / 1e6, 1)
    out = {
        "n_files": n,
        "delta_checkpoint_mb": ckpt_mb,
        "delta_snapshot_sec": t_snap,
        "delta_snapshot_peak_mb": mem_snap,
        "delta_prune_sec": t_prune,
        "delta_prune_hits": len(hit),
        "iceberg_snapshot_sec": t_ice,
        "iceberg_snapshot_peak_mb": mem_ice,
        "iceberg_listfiles_sec": t_iprune,
        "n_listed": len(ihit),
    }
    if "--spark" in sys.argv:
        from etl_rust_spark import get_spark

        spark = get_spark(app_name="metadata-scale", master="local[8]", shuffle_partitions=8)
        spark.sparkContext.setLogLevel("ERROR")
        # warm the JVM/session once so the A/B measures the plan, not
        # session start-up
        spark.range(1).collect()
        dsnap, t_dsp, mem_dsp = measured(
            lambda: delta_snapshot(delta, spark=spark,
                                   spark_plan_threshold=0))
        assert len(dsnap["adds"]) == n
        isnap2, t_isp, mem_isp = measured(
            lambda: iceberg_snapshot(ice, spark=spark,
                                     spark_plan_threshold_bytes=0))
        assert len(isnap2["files"]) == n
        # the structural number: survivors-only pruned planning — the
        # driver materializes O(kept), never the live set
        dhit, t_dpp, mem_dpp = measured(
            lambda: delta_table_files(
                delta, prune=[("k", 5_000, 5_500)], spark=spark,
                spark_plan_threshold=0))
        assert dhit == hit
        ihit2, t_ipp, mem_ipp = measured(
            lambda: iceberg_table_files(
                ice, prune=[("k", 5_000, 5_500)], spark=spark,
                spark_plan_threshold_bytes=0))
        out.update({
            "delta_snapshot_spark_sec": t_dsp,
            "delta_snapshot_spark_driver_peak_mb": mem_dsp,
            "iceberg_snapshot_spark_sec": t_isp,
            "iceberg_snapshot_spark_driver_peak_mb": mem_isp,
            "delta_pruned_plan_spark_sec": t_dpp,
            "delta_pruned_plan_spark_driver_peak_mb": mem_dpp,
            "delta_pruned_plan_spark_hits": len(dhit),
            "iceberg_pruned_plan_spark_sec": t_ipp,
            "iceberg_pruned_plan_spark_driver_peak_mb": mem_ipp,
            "iceberg_pruned_plan_spark_hits": len(ihit2),
        })
    print(json.dumps(out))


if __name__ == "__main__":
    main()
