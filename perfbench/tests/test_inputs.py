"""The seed alone decides every generated byte."""

import os

from perfbench import inputs


def _files(d):
    out = {}
    for root, _, names in os.walk(d):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = f.read()
    return out


def test_tables_are_byte_identical_for_one_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    counts = inputs.write_tables(5, 0.001, str(a))
    inputs.write_tables(5, 0.001, str(b))
    inputs.write_tables(6, 0.001, str(c))
    assert _files(a) == _files(b)
    assert _files(a)["lineitem.parquet"] != _files(c)["lineitem.parquet"]
    assert set(counts) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }


def test_corpus_shards_are_byte_identical_for_one_seed(tmp_path):
    a = inputs.write_corpus(3, 300, 4, str(tmp_path / "a"))
    b = inputs.write_corpus(3, 300, 4, str(tmp_path / "b"))
    c = inputs.write_corpus(4, 300, 4, str(tmp_path / "c"))
    fa, fb, fc = (_files(tmp_path / x) for x in "abc")
    assert fa == fb
    assert fa != fc
    assert a["table"].equals(b["table"])
    assert len(fa) == 8  # 4 .zst shards + 4 .gz parts
    assert a["raw_bytes"] == b["raw_bytes"] > a["zst_bytes"]


def test_zst_and_gz_shards_hold_the_same_lines(tmp_path):
    import gzip

    import pyarrow as pa

    inputs.write_corpus(9, 200, 3, str(tmp_path))
    for s in range(3):
        with pa.input_stream(str(tmp_path / "zst" / f"shard-{s:02d}.jsonl.zst"), compression="zstd") as f:
            zst = f.read()
        with gzip.open(tmp_path / "gz" / f"part-{s:02d}.jsonl.gz") as f:
            assert f.read() == zst


def test_chain_base_depends_only_on_seed():
    assert inputs.chain_base(1) == inputs.chain_base(1)
    assert inputs.chain_base(1) != inputs.chain_base(2)
    assert inputs.chain_base(1) % 1_000_000 == 0
