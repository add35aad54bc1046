"""Tests for the batch ETL pipeline: fan-out writes, idempotency, resume,
time-bucket layout, goldens (reference §3.1 / S-08 / S-09 / X-06 parity)."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_rust_spark.etl import check_golden, create_test_set, run_range, write_tables
from etl_rust_spark.sources.chain import SyntheticChain, TABLE_NAMES


@pytest.fixture(scope="module")
def chain():
    return SyntheticChain()


def _read_blocks(spark, out):
    return spark.read.parquet(f"{out}/blocks")


def test_run_range_end_to_end(spark, chain, tmp_path):
    out = str(tmp_path / "sink")
    stats = run_range(spark, chain, 0, 30, out, bucket_size=10)
    assert stats.raw_blocks == 30
    for t in TABLE_NAMES:
        assert stats.records[t] > 0
    blocks = _read_blocks(spark, out)
    assert blocks.count() == 30
    assert blocks.select("block_index").distinct().count() == 30
    # Fan-out consistency: written transactions match blocks' tx_count sum.
    tx_total = blocks.agg(F.sum("tx_count")).collect()[0][0]
    assert spark.read.parquet(f"{out}/transactions").count() == tx_total


def test_run_range_idempotent_rerun(spark, chain, tmp_path):
    out = str(tmp_path / "sink")
    first = run_range(spark, chain, 0, 20, out, bucket_size=10)
    second = run_range(spark, chain, 0, 20, out, bucket_size=10)
    assert first.records == second.records
    blocks = _read_blocks(spark, out)
    assert blocks.count() == 20
    assert blocks.select("block_index").distinct().count() == 20


def test_run_range_resume_mid_bucket(spark, chain, tmp_path):
    out = str(tmp_path / "sink")
    run_range(spark, chain, 0, 15, out, bucket_size=10)
    # Resume: picks up at 15 (hw=14), re-derives bucket 1 wholly.
    stats = run_range(spark, chain, 0, 30, out, resume=True, bucket_size=10)
    assert stats.start == 15
    blocks = _read_blocks(spark, out)
    assert blocks.count() == 30
    assert blocks.select("block_index").distinct().count() == 30
    # Fully-indexed resume errors like the reference (S-08 panic).
    with pytest.raises(RuntimeError):
        run_range(spark, chain, 0, 30, out, resume=True, bucket_size=10)


def test_kill_between_sinks_then_resume_is_exactly_once(spark, chain, tmp_path, monkeypatch):
    """VERDICT r5 #7 (adversarial exactly-once): kill the run BETWEEN two
    table sinks mid-batch, restart with resume — every table must end up
    with no duplicate and no missing rows vs an uninterrupted run.

    Two kill points: (a) mid-fan-out (some fact tables committed, blocks
    checkpoint not yet written), (b) just before the final blocks write
    (every other sink committed).  Both rely on the commit-marker-last
    discipline: the watermark table commits after all other sinks, so a
    resumed run re-derives the un-watermarked range and the idempotent
    bucket overwrite heals partial commits.
    """
    from etl_rust_spark.etl import writer as writer_mod
    from etl_rust_spark.sources.checkpoint import sink_has_data

    # Uninterrupted reference run.
    ref_out = str(tmp_path / "ref")
    run_range(spark, chain, 0, 30, ref_out, bucket_size=10)

    real_write_table = writer_mod.write_table

    for kill_table in ("instructions", "blocks"):
        out = str(tmp_path / f"sink_{kill_table}")

        def killing(df, path, **kw):
            if path.endswith(f"/{kill_table}"):
                raise RuntimeError(f"simulated kill before {kill_table} sink")
            return real_write_table(df, path, **kw)

        monkeypatch.setattr(writer_mod, "write_table", killing)
        with pytest.raises(RuntimeError, match="simulated kill"):
            run_range(spark, chain, 0, 30, out, bucket_size=10)
        # the kill really happened mid-batch: blocks (the checkpoint)
        # must NOT have committed
        assert not sink_has_data(spark, f"{out}/blocks")
        monkeypatch.setattr(writer_mod, "write_table", real_write_table)

        stats = run_range(spark, chain, 0, 30, out, resume=True, bucket_size=10)
        assert stats.start == 0  # watermark never advanced past the kill
        for t in TABLE_NAMES:
            got = sorted(map(str, spark.read.parquet(f"{out}/{t}").collect()))
            want = sorted(map(str, spark.read.parquet(f"{ref_out}/{t}").collect()))
            assert got == want, f"{t} diverged after kill-before-{kill_table}"


def _drain_listener_bus(spark):
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def test_failed_sink_waits_for_running_sinks(spark, chain, tmp_path, monkeypatch):
    """Sinks commit concurrently, one driver thread each.  A sink that
    fails while another is still running makes run_range raise only once
    every sink has finished: no job of the call outlives it, and the
    blocks checkpoint never commits."""
    import threading

    from etl_rust_spark.etl import writer as writer_mod

    real_write_table = writer_mod.write_table
    failed = threading.Event()
    finished = []

    def patched(df, path, **kw):
        table = path.rsplit("/", 1)[1]
        if table == "instructions":
            failed.set()
            raise RuntimeError("simulated sink failure")
        if table == "transactions":
            # Still running when the other sink fails: its jobs start
            # only after the failure.
            assert failed.wait(120)
            n = real_write_table(df, path, **kw)
            finished.append(table)
            return n
        return real_write_table(df, path, **kw)

    monkeypatch.setattr(writer_mod, "write_table", patched)
    out = tmp_path / "sink"
    with pytest.raises(RuntimeError, match="simulated sink failure"):
        run_range(spark, chain, 0, 30, str(out), bucket_size=10)
    _drain_listener_bus(spark)
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    assert finished == ["transactions"]
    assert (out / "transactions" / "block_bucket=2").is_dir()
    # A dynamic-overwrite commit writes no _SUCCESS marker, so check
    # that blocks wrote nothing at all.
    assert not (out / "blocks" / "_SUCCESS").exists()
    assert not (out / "blocks").exists()


def _call_jobs(spark, group, fn):
    """Run ``fn`` under job group ``group``; return the ids of the jobs
    it launched, asserting that every one of them carries the group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    spark.range(1).collect()  # marker: the latest job belongs to no group
    _drain_listener_bus(spark)
    before = max(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "run_range under test")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    _drain_listener_bus(spark)
    assert max(tracker.getJobIdsForGroup(None)) == before  # none lost the group
    ids = sorted(tracker.getJobIdsForGroup(group))
    assert ids == list(range(before + 1, before + 1 + len(ids)))
    return ids


def test_run_range_jobs_carry_caller_group_and_count(spark, chain, tmp_path):
    """Every job of a run_range call, sink threads included, belongs to
    the caller's job group; and the job count of a fresh-sink backfill
    and of a resumed tail is pinned, so a re-added count job or an
    eager checkpoint of an absent sink fails here."""
    out = str(tmp_path / "sink")
    backfill = _call_jobs(
        spark, "etl-backfill", lambda: run_range(spark, chain, 0, 30, out, bucket_size=10)
    )
    tail = _call_jobs(
        spark,
        "etl-tail",
        lambda: run_range(spark, chain, 0, 40, out, resume=True, bucket_size=10),
    )
    assert (len(backfill), len(tail)) == (10, 20)


def test_corrupt_staged_raw_raises_instead_of_dropping_blocks(spark, chain, tmp_path):
    """A staged raw bucket that cannot be read is a failure, not a first
    run: folding nothing back in would overwrite the bucket without its
    earlier blocks and drop them from every table."""
    out = tmp_path / "sink"
    run_range(spark, chain, 0, 15, str(out), bucket_size=10)
    part = next((out / "_raw" / "block_bucket=1").glob("*.parquet"))
    part.write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="block_bucket=1"):
        run_range(spark, chain, 15, 20, str(out), bucket_size=10)
    blocks = _read_blocks(spark, str(out))
    assert sorted(r.block_index for r in blocks.collect()) == list(range(15))


def test_entity_sink_schema_mismatch_raises_instead_of_replacing(spark, chain, tmp_path):
    """An existing entity sink the merge cannot read is not an absent
    sink: the merge raises and leaves it as it was."""
    out = tmp_path / "sink"
    run_range(spark, chain, 0, 10, str(out), bucket_size=10)
    accounts = str(out / "accounts")
    legacy = str(tmp_path / "legacy")
    spark.read.parquet(accounts).drop("owner").write.parquet(legacy)
    spark.read.parquet(legacy).write.mode("overwrite").parquet(accounts)
    n = spark.read.parquet(accounts).count()
    with pytest.raises(Exception, match="owner"):
        run_range(spark, chain, 10, 20, str(out), bucket_size=10)
    kept = spark.read.parquet(accounts)
    assert kept.count() == n and "owner" not in kept.columns
    assert not (out / "blocks" / "block_bucket=1").exists()


def test_absent_sink_means_no_data_files(spark, tmp_path):
    """A crashed first write (markers and _temporary leftovers only)
    counts as absent, so resume starts over; any data file is present."""
    from etl_rust_spark.sources.checkpoint import sink_has_data

    path = tmp_path / "blocks"
    assert not sink_has_data(spark, str(path))
    (path / "_temporary" / "0").mkdir(parents=True)
    (path / "_temporary" / "0" / "part-0.parquet").write_bytes(b"x")
    (path / ".hidden").write_bytes(b"x")
    assert not sink_has_data(spark, str(path))
    (path / "block_bucket=0").mkdir()
    assert not sink_has_data(spark, str(path))
    (path / "block_bucket=0" / "part-0.parquet").write_bytes(b"x")
    assert sink_has_data(spark, str(path))


def test_entity_tables_unique_across_runs(spark, chain, tmp_path):
    # ADVICE r1: accounts/tokens derive first-seen from ONLY the current
    # run's buckets — two disjoint runs used to produce duplicate
    # pubkey/mint rows.  The entity merge must keep exactly one row per
    # key, equal to what a single full-range run derives.
    out = str(tmp_path / "sink")
    run_range(spark, chain, 0, 10, out, bucket_size=10)
    run_range(spark, chain, 10, 20, out, bucket_size=10)

    full = str(tmp_path / "full")
    run_range(spark, chain, 0, 20, full, bucket_size=10)

    for table, key in (("accounts", "pubkey"), ("tokens", "mint")):
        inc = spark.read.parquet(f"{out}/{table}")
        assert inc.count() == inc.select(key).distinct().count(), table
        one = spark.read.parquet(f"{full}/{table}")
        assert sorted(tuple(r) for r in inc.collect()) == sorted(
            tuple(r) for r in one.collect()
        ), table


def test_run_range_reverse_resume(spark, chain, tmp_path):
    out = str(tmp_path / "sink")
    # Simulate a crashed reverse run over [0, 30) that only finished the
    # top bucket [20, 30); the reverse resume must pick up with end=20.
    run_range(spark, chain, 20, 30, out, bucket_size=10)
    stats = run_range(
        spark, chain, 0, 30, out, resume=True, reverse=True, bucket_size=10
    )
    assert stats.end == 20
    blocks = _read_blocks(spark, out)
    assert blocks.count() == 30
    assert blocks.select("block_index").distinct().count() == 30
    # Fully-indexed reverse resume errors like the reference.
    with pytest.raises(RuntimeError):
        run_range(spark, chain, 0, 30, out, resume=True, reverse=True, bucket_size=10)


def test_cli_curate_end_to_end(spark, tmp_path, capsys):
    """The `curate` verb: parquet corpus in → curated parquet + JSON
    report out, with PII scrubbing applied to the surviving rows."""
    import json as _json

    from etl_rust_spark.__main__ import main

    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (1, base),
        (2, base + " x"),                        # near-dup of 1 → dropped
        (3, base),                                # exact dup of 1 → dropped
        (4, "mail me at a@b.com " + base[:40]),   # survives, gets scrubbed
    ]
    src = str(tmp_path / "corpus")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(src)
    out = str(tmp_path / "curated")
    rc = main([
        "curate", src, "--out", out,
        "--near-dup-threshold", "0.5", "--scrub-pii",
    ])
    assert rc == 0
    report = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["input"] == 4 and report["kept"] == 2
    got = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert set(got) == {1, 4}
    assert "<EMAIL>" in got[4].text and got[4].n_email == 1


def test_cli_curate_c4_flag(spark, tmp_path, capsys):
    """--c4-clean: boilerplate lines cut and sentence-less pages dropped
    before the rest of the pipeline."""
    import json as _json

    from etl_rust_spark.__main__ import main

    good = (
        "the quick brown fox jumps over the lazy dog far away today.\n"
        "the dog wakes up and chases the fox across the green field.\n"
        "both rest under the old oak tree for the whole long afternoon."
    )
    rows = [(1, good + "\nHome | About | Contact"), (2, "login\nsignup")]
    src = str(tmp_path / "corpus_c4")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(src)
    out = str(tmp_path / "curated_c4")
    rc = main(["curate", src, "--out", out, "--c4-clean",
               "--near-dup-threshold", "0.5"])
    assert rc == 0
    report = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report == {"input": 2, "kept": 1, "removed": 1}
    got = spark.read.parquet(out).collect()
    assert len(got) == 1 and "Home | About" not in got[0].text


def test_cli_index_range_reverse(spark, chain, tmp_path):
    # --reverse is reachable from the CLI (reference src/main.rs:75-83)
    # and the genesis guard rejects a reverse range ending at 0.
    import json as _json

    from etl_rust_spark.__main__ import main

    out = str(tmp_path / "cli_sink")
    rc = main(["index-range", "5", "15", "--out", out, "--reverse"])
    assert rc == 0
    assert _read_blocks(spark, out).count() == 10
    with pytest.raises(ValueError):
        main(["index-range", "0", "0", "--out", out, "--reverse"])


def test_time_layout_dq44_dirs(spark, chain, tmp_path):
    out = str(tmp_path / "sink")
    run_range(spark, chain, 0, 20, out, layout="time")
    # blocks has block_timestamp → GCS-style d=/h=/half= directories.
    parts = {p.name.split("=")[0] for p in Path(f"{out}/blocks").glob("d=*")}
    assert parts == {"d"}
    halves = {p.name for p in Path(f"{out}/blocks").glob("d=*/h=*/half=*")}
    assert all(h.startswith("half=") for h in halves) and halves
    # instructions has no timestamp → falls back to block buckets.
    assert list(Path(f"{out}/instructions").glob("block_bucket=*"))


def test_jsonl_sink(spark, chain, tmp_path):
    out = str(tmp_path / "sink")
    run_range(spark, chain, 0, 5, out, fmt="jsonl", layout="flat")
    lines = []
    for f in Path(f"{out}/blocks").glob("*.json"):
        lines += [ln for ln in f.read_text().splitlines() if ln.strip()]
    assert len(lines) == 5
    assert all(ln.startswith("{") for ln in lines)


def test_goldens_roundtrip(spark, chain, tmp_path):
    base = create_test_set(spark, chain, 3, 9, "mini", dir=str(tmp_path))
    diffs = check_golden(spark, chain, base)
    assert set(diffs) == set(TABLE_NAMES)
    assert all(v == 0 for v in diffs.values()), diffs


def test_write_tables_counts_match(spark, chain, tmp_path):
    from etl_rust_spark.sources.ranges import block_range

    raw = chain.fetch(block_range(spark, 0, 10))
    tables = chain.transform(raw)
    counts = write_tables(tables, str(tmp_path / "w"), bucket_size=5)
    for t in TABLE_NAMES:
        assert counts[t] == spark.read.parquet(str(tmp_path / "w" / t)).count()


def test_committed_golden_fixture(spark, chain):
    """The frozen fixture in tests/examples pins the transform across
    rounds: any change to SyntheticChain or the transform that alters
    output rows fails here (reference tests/README.md idiom)."""
    base = Path(__file__).parent / "examples" / "committed_3_9"
    diffs = check_golden(spark, chain, str(base))
    assert set(diffs) == set(TABLE_NAMES)
    assert all(v == 0 for v in diffs.values()), diffs


def test_ingest_corpus_jsonl_and_content_ids(spark, tmp_path):
    """JSONL feed → canonical documents shape: explicit schema, corrupt
    lines dropped, n_chars derived, content-hash ids stable across
    re-ingests when the feed has no id field."""
    import json as _json

    from etl_rust_spark.etl.ingest import ingest_corpus, read_corpus

    src = tmp_path / "feed.jsonl"
    lines = [
        _json.dumps({"text": "hello world", "lang": "en", "source": "crawl"}),
        _json.dumps({"text": "bonjour le monde", "lang": "fr"}),
        "{not valid json",
        _json.dumps({"text": ""}),  # empty text dropped
    ]
    src.write_text("\n".join(lines))
    out = str(tmp_path / "docs")
    n = ingest_corpus(spark, str(src), out, id_field=None)
    assert n == 2
    got = {r.text: r for r in spark.read.parquet(out).collect()}
    assert set(got) == {"hello world", "bonjour le monde"}
    assert got["hello world"].n_chars == 11 and got["hello world"].source == "crawl"
    assert got["bonjour le monde"].source == "ingest"  # defaulted
    # schema matches the catalog contract
    from etl_rust_spark.catalog import SCHEMAS

    assert [f.name for f in spark.read.parquet(out).schema] == [
        f.name for f in SCHEMAS["documents"]
    ]
    # content-hash ids are re-ingest-stable
    ids1 = sorted(r.doc_id for r in read_corpus(spark, str(src), id_field=None).collect())
    ids2 = sorted(r.doc_id for r in read_corpus(spark, str(src), id_field=None).collect())
    assert ids1 == ids2


def test_ingest_corpus_csv_with_ids(spark, tmp_path):
    from etl_rust_spark.etl.ingest import read_corpus

    src = tmp_path / "feed.csv"
    src.write_text("doc_id,text,lang,source\n7,alpha beta,en,web\n9,gamma,de,books\n")
    got = {r.doc_id: r for r in read_corpus(spark, str(src), fmt="csv").collect()}
    assert got[7].text == "alpha beta" and got[9].source == "books"


def test_cli_ingest_corpus(spark, tmp_path, capsys):
    import json as _json

    from etl_rust_spark.__main__ import main

    src = tmp_path / "feed.jsonl"
    src.write_text(
        '{"text": "one doc here", "lang": "en"}\n{"text": "two docs here"}\n'
    )
    out = str(tmp_path / "docs")
    rc = main(["ingest-corpus", str(src), "--out", out, "--no-id-field"])
    assert rc == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["documents"] == 2
    assert spark.read.parquet(out).count() == 2


def test_cli_dedup_media(spark, tmp_path, capsys):
    import json as _json

    import numpy as np

    from etl_rust_spark.__main__ import main
    from etl_rust_spark.operators import mediacodec as mc
    from etl_rust_spark.operators import multimodal

    rng = np.random.default_rng(22)
    img = rng.integers(0, 200, size=(10, 10, 3), dtype=np.uint8)
    bright = np.clip(img.astype(np.float64) * 1.2, 0, 255).astype(np.uint8)
    tone = np.sin(2 * np.pi * 440 * np.arange(4000) / 8000) * 0.5
    frames = [rng.integers(0, 200, size=(8, 8, 3), dtype=np.uint8) for _ in range(3)]
    rows = [
        (1, "image", bytearray(mc.encode_png(img)), ("image/png", 10, 10, None, "u1")),
        (2, "image", bytearray(mc.encode_png(bright)), ("image/png", 10, 10, None, "u2")),
        (3, "audio", bytearray(mc.encode_wav(tone, 8000)), ("audio/wav", None, None, 500, "u3")),
        (4, "audio", bytearray(mc.encode_wav(tone * 0.5, 8000)), ("audio/wav", None, None, 500, "u4")),
        (5, "video", bytearray(mc.encode_avi(frames)), ("video/avi", 8, 8, 120, "u5")),
        (6, "video", bytearray(mc.encode_avi(frames[::-1])), ("video/avi", 8, 8, 120, "u6")),
    ]
    assets = str(tmp_path / "assets")
    multimodal.make_asset_df(spark, rows).write.parquet(assets)
    out = str(tmp_path / "pairs")
    rc = main(["dedup-media", assets, "--out", out])
    assert rc == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep == {"image": 1, "audio": 1, "video": 1}
    pairs = {(r["modality"], r["aid"], r["bid"]) for r in spark.read.parquet(out).collect()}
    assert pairs == {("image", 1, 2), ("audio", 3, 4), ("video", 5, 6)}


def test_cli_profile(spark, tmp_path, capsys):
    """The `profile` verb: one JSON line per column."""
    import json as _json

    from etl_rust_spark.__main__ import main

    src = str(tmp_path / "ptab")
    spark.createDataFrame(
        [(1, "x"), (2, None), (2, "y")], ["k", "s"]
    ).write.parquet(src)
    rc = main(["profile", src, "--exact-ndv"])
    assert rc == 0
    lines = [
        _json.loads(l) for l in capsys.readouterr().out.strip().splitlines()
    ]
    got = {d["col_name"]: d for d in lines}
    assert got["k"]["n_distinct"] == 2 and got["s"]["n_null"] == 1


def test_cli_diff(spark, tmp_path, capsys):
    """The `diff` verb: JSON summary + optional per-key parquet."""
    import json as _json

    from etl_rust_spark.__main__ import main

    old = str(tmp_path / "snap_a")
    new = str(tmp_path / "snap_b")
    spark.createDataFrame(
        [(1, "x"), (2, "y")], ["k", "s"]
    ).write.parquet(old)
    spark.createDataFrame(
        [(1, "x"), (2, "Y"), (3, "z")], ["k", "s"]
    ).write.parquet(new)
    out = str(tmp_path / "d")
    rc = main(["diff", old, new, "--keys", "k", "--out", out])
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary == {"added": 1, "removed": 0, "changed": 1}
    got = {r.k: r.diff for r in spark.read.parquet(out).collect()}
    assert got == {2: "changed", 3: "added"}


def test_read_corpus_gzip_jsonl(spark, tmp_path):
    """Real feeds arrive compressed: the JSONL reader must consume
    .jsonl.gz transparently (Spark's codec-by-extension), including the
    corrupt-record spill path."""
    import gzip
    import json as _json

    from etl_rust_spark.etl.ingest import read_corpus

    p = tmp_path / "feed.jsonl.gz"
    lines = [
        _json.dumps({"doc_id": 1, "text": "alpha beta"}),
        _json.dumps({"doc_id": 2, "text": "gamma delta"}),
        "{not json at all",
    ]
    with gzip.open(p, "wt", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    out = read_corpus(spark, str(p), fmt="jsonl", lang_field=None, source_field=None)
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 2}
    assert rows[1].text == "alpha beta" and rows[1].n_chars == 10
    assert rows[2].source == "ingest"


def test_read_corpus_avro_container(spark, tmp_path):
    """fmt='avro': jar-free Object Container File ingestion, both
    codecs, canonical documents projection, content-hash ids."""
    from etl_rust_spark.etl.ingest import read_corpus
    from etl_rust_spark.functions.wireformats import write_avro_container

    schema = {
        "type": "record",
        "name": "doc",
        "fields": [
            {"name": "doc_id", "type": "long"},
            {"name": "text", "type": ["null", "string"]},
            {"name": "lang", "type": ["null", "string"]},
        ],
    }
    recs = [
        {"doc_id": 1, "text": "alpha beta", "lang": "en"},
        {"doc_id": 2, "text": None, "lang": "en"},      # dropped (null text)
        {"doc_id": 3, "text": "gamma delta", "lang": None},
    ]
    d = tmp_path / "avro_feed"
    d.mkdir()
    write_avro_container(str(d / "a.avro"), recs[:2], schema, codec="null")
    write_avro_container(str(d / "b.avro"), recs[2:], schema, codec="deflate")
    out = read_corpus(spark, str(d), fmt="avro", source_field=None)
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 3}
    assert rows[1].text == "alpha beta" and rows[1].lang == "en"
    assert rows[3].lang is None and rows[3].source == "ingest"
    assert rows[1].n_chars == 10


def test_cli_dataset_card(spark, tmp_path, capsys):
    import json as _json

    from etl_rust_spark.__main__ import main

    src = str(tmp_path / "card_docs")
    spark.createDataFrame(
        [
            (1, "alpha beta gamma", "en", "web"),
            (2, "delta epsilon", "en", "web"),
            (3, "zeta eta theta iota", "de", "books"),
        ],
        ["doc_id", "text", "lang", "source"],
    ).write.parquet(src)
    rc = main(["card", src])
    assert rc == 0
    card = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert card["n_docs"] == 3 and card["n_tokens"] == 9
    assert card["languages"]["en"]["n_docs"] == 2
    assert card["sources"]["web"]["share_bp"] == 6666
    assert card["chars_p50"] <= card["chars_p95"]
    rc = main(["card", src, "--scripts"])
    assert rc == 0
    card2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert card2["scripts"] == {"latin": 3}


def test_cli_curate_perplexity_filter(spark, tmp_path, capsys):
    import json as _json

    from etl_rust_spark.__main__ import main

    ref_text = "the cat sat on the mat and the dog sat on the rug today"
    ref = str(tmp_path / "ref")
    spark.createDataFrame(
        [(i, ref_text) for i in range(10)], ["doc_id", "text"]
    ).write.parquet(ref)
    src = str(tmp_path / "ppl_corpus")
    spark.createDataFrame(
        [(1, ref_text), (2, "qq zz xx vv kk jj ww yy uu oo pp ll")],
        ["doc_id", "text"],
    ).write.parquet(src)
    out = str(tmp_path / "ppl_out")
    rc = main([
        "curate", src, "--out", out, "--near-dup-threshold", "0.9",
        "--reference", ref, "--max-perplexity", "5",
    ])
    assert rc == 0
    report = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["kept"] == 1
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1}


def test_cli_rollup_build_update_retention(spark, sf_dir, tmp_path, capsys):
    import json as _json

    from etl_rust_spark.catalog import load_table
    from etl_rust_spark.__main__ import main

    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value", "user_id"
    )
    import pyspark.sql.functions as F

    cut = ev.agg(F.max(F.to_date("ts"))).collect()[0][0]
    base = str(tmp_path / "ev_base")
    delta = str(tmp_path / "ev_delta")
    ev.filter(F.to_date("ts") < cut).write.parquet(base)
    ev.filter(F.to_date("ts") >= cut).write.parquet(delta)
    out = str(tmp_path / "roll_state")
    assert main(["rollup", base, "--out", out]) == 0
    n1 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert main(["rollup", delta, "--out", out, "--update"]) == 0
    n2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert n2["rollup_rows"] > n1["rollup_rows"]
    # totals equal a one-shot rollup of everything
    from etl_rust_spark.operators import rollup as r

    got = r.read_rollup(spark, out).agg(F.sum("n")).collect()[0][0]
    assert got == ev.count()
    # retention pass
    assert main([
        "rollup", delta, "--out", out, "--update",
        "--drop-before", str(cut),
    ]) == 0
    n3 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert n3["dropped_partitions"] >= 1


def test_cli_ann_build_update_search(spark, sf_dir, tmp_path, capsys):
    import json as _json

    from etl_rust_spark.catalog import load_table
    from etl_rust_spark.__main__ import main

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = str(tmp_path / "emb_base")
    delta = str(tmp_path / "emb_delta")
    emb.filter("vec_id < 150").write.parquet(base)
    emb.filter("vec_id >= 150 AND vec_id < 170").write.parquet(delta)
    idx = str(tmp_path / "ann_idx")
    assert main(["ann-build", base, "--out", idx, "--n-lists", "8"]) == 0
    r1 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r1 == {"indexed_vectors": 150}
    assert main(["ann-build", delta, "--out", idx, "--update"]) == 0
    r2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r2 == {"indexed_vectors": 170}
    q = str(tmp_path / "q")
    emb.filter("vec_id < 5").write.parquet(q)
    hits_out = str(tmp_path / "hits")
    assert main(["ann-search", idx, q, "--out", hits_out, "--k", "3"]) == 0
    r3 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    hits = spark.read.parquet(hits_out)
    assert r3["hits"] == hits.count() > 0
    assert {r.qid for r in hits.collect()} == {0, 1, 2, 3, 4}
    assert hits.groupBy("qid").count().filter("count > 3").count() == 0


def test_dataset_card_empty_corpus(spark):
    from etl_rust_spark.operators.card import dataset_card

    empty = spark.createDataFrame([], "doc_id: long, text: string, lang: string, source: string")
    card = dataset_card(empty)
    assert card["n_docs"] == 0 and card["n_tokens"] == 0
    assert card["chars_p50"] is None
    assert card["languages"] == {} and card["sources"] == {}


def test_cli_curate_script_filter(spark, tmp_path, capsys):
    import json as _json

    from etl_rust_spark.__main__ import main

    src = str(tmp_path / "scr_corpus")
    spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog here today"),
            (2, "быстрая коричневая лиса прыгает через ленивую собаку здесь"),
        ],
        ["doc_id", "text"],
    ).write.parquet(src)
    out = str(tmp_path / "scr_out")
    rc = main([
        "curate", src, "--out", out,
        "--scripts", "latin", "--near-dup-threshold", "0.9",
    ])
    assert rc == 0
    report = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report == {"input": 2, "kept": 1, "removed": 1}


def test_cli_split_plain_and_leakage_safe(spark, tmp_path, capsys):
    import json as _json

    from etl_rust_spark.__main__ import main

    src = str(tmp_path / "split_corpus")
    spark.createDataFrame(
        [(i, f"document number {i}") for i in range(100)], ["doc_id", "text"]
    ).write.parquet(src)
    out = str(tmp_path / "split_out")
    rc = main(["split", src, "--out", out, "--weights", "train=0.6,val=0.2,test=0.2"])
    assert rc == 0
    counts = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sum(counts.values()) == 100 and counts["train"] > counts["val"]

    pairs = str(tmp_path / "split_pairs")
    spark.createDataFrame([(0, 1), (1, 2)], ["qid", "cid"]).write.parquet(pairs)
    out2 = str(tmp_path / "split_out2")
    rc = main(["split", src, "--out", out2, "--pairs", pairs])
    assert rc == 0
    capsys.readouterr()
    got = {r.doc_id: r.split for r in spark.read.parquet(out2).collect()}
    assert got[0] == got[1] == got[2]  # the chain moved as one unit


def test_cli_ann_ivfpq_build_update_search(spark, sf_dir, tmp_path, capsys):
    import json as _json

    from etl_rust_spark.catalog import load_table
    from etl_rust_spark.__main__ import main

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = str(tmp_path / "pq_base")
    delta = str(tmp_path / "pq_delta")
    emb.filter("vec_id < 150").write.parquet(base)
    emb.filter("vec_id >= 150 AND vec_id < 170").write.parquet(delta)
    idx = str(tmp_path / "pq_idx")
    assert main([
        "ann-build", base, "--out", idx, "--kind", "ivfpq",
        "--n-lists", "8", "--pq-m", "8", "--pq-codes", "8", "--residual",
    ]) == 0
    r1 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r1 == {"indexed_vectors": 150}
    assert main(["ann-build", delta, "--out", idx, "--kind", "ivfpq", "--update"]) == 0
    r2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r2 == {"indexed_vectors": 170}
    q = str(tmp_path / "pq_q")
    emb.filter("vec_id < 5").write.parquet(q)
    hits_out = str(tmp_path / "pq_hits")
    assert main([
        "ann-search", idx, q, "--out", hits_out, "--kind", "ivfpq",
        "--k", "3", "--refine", base,
    ]) == 0
    r3 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    hits = spark.read.parquet(hits_out)
    assert r3["hits"] == hits.count() > 0
    assert {r.qid for r in hits.collect()} == {0, 1, 2, 3, 4}
    assert hits.groupBy("qid").count().filter("count > 3").count() == 0


def test_cli_rollup_theta_and_retention_verb(spark, tmp_path, capsys):
    """`rollup --theta` persists Theta state; `retention` merges to the
    requested period and reads retained/churned/new off sketches alone
    (exact on these small planted sets)."""
    import datetime as _dt
    import json as _json

    from etl_rust_spark.__main__ import main

    UTC = _dt.timezone.utc
    rows = [
        (_dt.datetime(2024, 3, 1 + d, h, tzinfo=UTC), "click", u, float(u))
        for d, users in [(0, range(0, 100)), (1, range(50, 150))]
        for u in users
        for h in (9, 15)  # two events/user/day → hourly buckets merge up
    ]
    src = str(tmp_path / "events_theta")
    spark.createDataFrame(
        rows, "ts timestamp, event_type string, user_id long, value double"
    ).write.parquet(src)
    state = str(tmp_path / "rollup_theta")
    assert main(["rollup", src, "--out", state, "--theta", "--kll"]) == 0
    capsys.readouterr()
    out = str(tmp_path / "retention_out")
    rc = main([
        "retention", state, "--bucket-sec", "86400", "--dims", "", "--out", out,
    ])
    assert rc == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["pairs"] == 1
    r = rep["rows"][0]
    assert (r["users_a"], r["retained"], r["churned"], r["new_users"]) == (
        100, 50, 50, 50,
    )
    assert r["retention_bp"] == 5000
    assert spark.read.parquet(out).count() == 1
    # D2 lag on a 2-day corpus: no pair exists
    capsys.readouterr()
    rc = main([
        "retention", state, "--bucket-sec", "86400", "--dims", "",
        "--periods", "2",
    ])
    assert rc == 0
    rep2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["pairs"] == 0


_CORPUS_SHARD_LINES = [
    '{"doc_id": 1, "text": "alpha beta"}',
    '{"doc_id": 2, "text": "gamma delta"}',
    "{not json at all",
]

_needs_zstd_cli = pytest.mark.skipif(
    __import__("shutil").which("zstd") is None,
    reason="no zstd CLI to produce canonical fixtures",
)


@_needs_zstd_cli
def test_read_corpus_zstd_jsonl(spark, tmp_path):
    """.jsonl.zst (the HuggingFace shard format) decodes on Spark's
    built-in JVM zstd codec, with the same corrupt-record spill as every
    other JSONL route.  Fixtures come from the CANONICAL CLI tool, not
    our own encoder."""
    import subprocess

    from etl_rust_spark.etl.ingest import read_corpus

    payload = ("\n".join(_CORPUS_SHARD_LINES) + "\n").encode()
    raw = tmp_path / "shard.jsonl"
    raw.write_bytes(payload)
    subprocess.run(["zstd", "-q", "-19", str(raw)], check=True)
    zpath = tmp_path / "shard.jsonl.zst"
    assert zpath.exists()
    out = read_corpus(
        spark, str(zpath), fmt="jsonl", lang_field=None, source_field=None
    )
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 2}
    assert rows[1].text == "alpha beta" and rows[2].source == "ingest"


def test_read_corpus_xz_jsonl(spark, tmp_path):
    """.jsonl.xz routes through the stdlib-lzma Python-codec path with
    the same corrupt-record spill semantics as the native reader."""
    import lzma

    from etl_rust_spark.etl.ingest import read_corpus

    payload = ("\n".join(_CORPUS_SHARD_LINES) + "\n").encode()
    xpath = tmp_path / "shard2.jsonl.xz"
    xpath.write_bytes(lzma.compress(payload))
    out2 = read_corpus(
        spark, str(xpath), fmt="jsonl", lang_field=None, source_field=None
    )
    assert {r.doc_id for r in out2.collect()} == {1, 2}


def test_read_corpus_xz_directory_routes_by_its_files(spark, tmp_path):
    """A directory of .jsonl.xz shards takes the Python codec route like
    a glob of them (Spark's reader would drop every line as a corrupt
    record); a path mixing .xz with other codecs raises."""
    import gzip
    import lzma

    from etl_rust_spark.etl.ingest import read_corpus

    d = tmp_path / "xz"
    d.mkdir()
    for s in range(2):
        lines = [f'{{"doc_id": {s * 10 + i}, "text": "doc {s} {i}"}}' for i in range(5)]
        (d / f"part-{s}.jsonl.xz").write_bytes(lzma.compress(("\n".join(lines) + "\n").encode()))
    kw = dict(fmt="jsonl", lang_field=None, source_field=None)
    by_glob = sorted(map(tuple, read_corpus(spark, str(d / "*.jsonl.xz"), **kw).collect()))
    by_dir = sorted(map(tuple, read_corpus(spark, str(d), **kw).collect()))
    assert len(by_glob) == 10
    assert by_dir == by_glob
    (d / "part-2.jsonl.gz").write_bytes(gzip.compress(b'{"doc_id": 99, "text": "z"}\n'))
    with pytest.raises(ValueError, match="mixes"):
        read_corpus(spark, str(d), **kw)


@_needs_zstd_cli
def test_read_corpus_zstd_multi_shard_content_ids(spark, tmp_path):
    """Multiple .zst shards in one directory read per-file parallel;
    content-hash ids stay stable across shard layouts."""
    import json as _json
    import subprocess

    from etl_rust_spark.etl.ingest import read_corpus

    d = tmp_path / "shards"
    d.mkdir()
    for s in range(3):
        p = d / f"part-{s}.jsonl"
        p.write_text(
            "\n".join(
                _json.dumps({"text": f"document {s} {i} payload"})
                for i in range(5)
            )
            + "\n"
        )
        subprocess.run(["zstd", "-q", str(p)], check=True)
        p.unlink()
    got = read_corpus(
        spark, str(d / "*.zst"), fmt="jsonl", id_field=None,
        lang_field=None, source_field=None,
    )
    rows = got.collect()
    assert len(rows) == 15
    assert len({r.doc_id for r in rows}) == 15  # distinct content hashes


def _write_zstd_shards(d, n_shards=3, per_shard=5):
    import json as _json

    import pyarrow as pa

    d.mkdir()
    for s in range(n_shards):
        with pa.output_stream(str(d / f"part-{s}.jsonl.zst"), compression="zstd") as f:
            for i in range(per_shard):
                f.write((_json.dumps({"doc_id": s * 100 + i, "text": f"doc {s} {i}"}) + "\n").encode())


def test_read_corpus_zstd_glob_and_dir_agree(spark, tmp_path):
    """A glob of .jsonl.zst shards and the directory holding them take
    the same JVM codec route and return the same rows."""
    from etl_rust_spark.etl.ingest import read_corpus

    d = tmp_path / "shards"
    _write_zstd_shards(d)
    kw = dict(fmt="jsonl", lang_field=None, source_field=None)
    by_glob = sorted(map(tuple, read_corpus(spark, str(d / "*.jsonl.zst"), **kw).collect()))
    by_dir = sorted(map(tuple, read_corpus(spark, str(d), **kw).collect()))
    assert len(by_glob) == 15
    assert by_glob == by_dir


def test_read_corpus_truncated_zstd_shard_raises(spark, tmp_path):
    """A truncated .zst shard fails the read loudly; it is not read as a
    shorter corpus."""
    from etl_rust_spark.etl.ingest import read_corpus

    d = tmp_path / "shards"
    _write_zstd_shards(d, n_shards=1, per_shard=200)
    shard = d / "part-0.jsonl.zst"
    shard.write_bytes(shard.read_bytes()[:-40])
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        read_corpus(spark, str(d / "*.jsonl.zst"), fmt="jsonl").collect()
