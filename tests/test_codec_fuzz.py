"""Corrupt-input contract for every binary decoder (r7).

Ingest pipelines route per-asset decode failures (multimodal
extract_features drops or flags the row); that only works if a corrupt
or truncated payload raises a CATCHABLE, uniform failure type.  The
contract: every decoder either succeeds or raises ``ValueError`` —
never a bare IndexError / struct.error / KeyError crash, never a hang.

Two generators per decoder: random bytes behind a valid magic
(truncation/garbage structure) and bit-flipped mutations of a VALID
payload (mid-stream corruption — the harder case, since parsing gets
deep before failing).
"""

from __future__ import annotations

import struct
from functools import partial

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from etl_rust_spark.etl.kafka_wire import (
    KafkaWireError,
    compress,
    decode_record_batch,
    decompress,
    encode_record_batch,
)
from etl_rust_spark.etl.warc import iter_warc_records
from etl_rust_spark.operators import mediacodec as mc
from etl_rust_spark.operators.flaccodec import decode_flac, encode_flac
from etl_rust_spark.operators.jpegcodec import decode_jpeg, encode_jpeg

# KafkaWireError is the kafka module's documented failure type — its
# callers catch it the way the media registry catches ValueError
_OK = (ValueError, KafkaWireError)
# (The historical zlib.error grandfather for decode_png is gone:
# r8 wraps PNG's chunk walk + inflate under the uniform ValueError.)

_SETTINGS = dict(max_examples=150, deadline=None)


def _assert_contract(fn, payload):
    try:
        fn(payload)
    except _OK:
        pass


@settings(**_SETTINGS)
@given(st.binary(max_size=400))
def test_jpeg_garbage_after_magic(tail):
    _assert_contract(decode_jpeg, b"\xff\xd8\xff" + tail)


@settings(**_SETTINGS)
@given(st.binary(max_size=400))
def test_flac_garbage_after_magic(tail):
    _assert_contract(decode_flac, b"fLaC" + tail)


@settings(**_SETTINGS)
@given(st.binary(max_size=400))
def test_png_wav_avi_garbage_after_magic(tail):
    _assert_contract(mc.decode_png, b"\x89PNG\r\n\x1a\n" + tail)
    _assert_contract(mc.decode_wav, b"RIFF\x10\x00\x00\x00WAVE" + tail)
    _assert_contract(mc.decode_avi, b"RIFF\x10\x00\x00\x00AVI " + tail)


@settings(**_SETTINGS)
@given(st.binary(max_size=400))
def test_kafka_batch_and_warc_garbage(tail):
    _assert_contract(decode_record_batch, tail)
    _assert_contract(lambda d: list(iter_warc_records(d)), b"WARC/1.0\r\n" + tail)


_JPEG = encode_jpeg(
    (np.arange(24 * 24 * 3, dtype=np.uint8).reshape(24, 24, 3)), 80
)
_FLAC = encode_flac(0.4 * np.sin(np.arange(600) / 9.0), 8000, block_size=256)
_BATCH = encode_record_batch([b"abc", b"defg"], base_timestamp=0)


@settings(**_SETTINGS)
@given(st.integers(0, len(_JPEG) - 1), st.integers(1, 255))
@example(
    pos=169,
    mask=1,
).via('discovered failure')
def test_jpeg_bitflip_never_crashes(pos, mask):
    data = bytearray(_JPEG)
    data[pos] ^= mask
    # JPEG has no integrity check: a flipped byte may decode to wrong
    # pixels (fine) or raise ValueError (fine) — never anything else
    _assert_contract(decode_jpeg, bytes(data))


@settings(**_SETTINGS)
@given(st.integers(0, len(_FLAC) - 1), st.integers(1, 255))
def test_flac_bitflip_never_crashes(pos, mask):
    data = bytearray(_FLAC)
    data[pos] ^= mask
    _assert_contract(decode_flac, bytes(data))


@settings(**_SETTINGS)
@given(st.integers(0, len(_BATCH) - 1), st.integers(1, 255))
def test_kafka_batch_bitflip_is_caught_or_isolated(pos, mask):
    """RecordBatch v2 carries a CRC32C: a flip inside the checksummed
    region must raise; flips in the envelope may truncate-error."""
    data = bytearray(_BATCH)
    data[pos] ^= mask
    try:
        out = decode_record_batch(bytes(data))
    except (ValueError, KafkaWireError):
        return
    # decode succeeded: the flip must have been outside the CRC span
    # in a way that still yields a structurally valid batch (e.g. the
    # baseOffset field) — record values may differ only if the length
    # prefix re-framed the batch, which the CRC would have caught
    assert pos < 21 or out == [(None, b"abc"), (None, b"defg")]


_ADPCM = mc.encode_ima_adpcm(
    0.4 * np.sin(np.arange(600) / 9.0), 8000, block_frames=105
)


@settings(**_SETTINGS)
@given(st.integers(0, len(_ADPCM) - 1), st.integers(1, 255))
def test_adpcm_bitflip_never_crashes(pos, mask):
    """ADPCM has no integrity check: a flip may decode to wrong samples
    (fine) or raise ValueError (bad header/index) — never anything else."""
    data = bytearray(_ADPCM)
    data[pos] ^= mask
    _assert_contract(mc.decode_wav, bytes(data))


@settings(**_SETTINGS)
@given(st.binary(max_size=400))
def test_adpcm_garbage_after_fmt(tail):
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, 8000, 4000, 20, 4, 2, 33)
    head = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(tail)))
    body = head + tail
    _assert_contract(mc.decode_wav, b"RIFF" + struct.pack("<I", len(body)) + body)


@settings(**_SETTINGS)
@given(st.binary(max_size=400))
def test_snappy_garbage_never_crashes(tail):
    snappy = partial(decompress, "snappy")
    _assert_contract(snappy, tail)
    _assert_contract(snappy, b"\x82SNAPPY\x00" + tail)


@settings(**_SETTINGS)
@given(st.binary(max_size=400))
def test_lz4_garbage_never_crashes(tail):
    lz4 = partial(decompress, "lz4")
    _assert_contract(lz4, tail)
    _assert_contract(lz4, struct.pack("<I", 0x184D2204) + tail)


@settings(**_SETTINGS)
@given(st.binary(max_size=400))
def test_zstd_garbage_never_crashes(tail):
    zstd = partial(decompress, "zstd")
    _assert_contract(zstd, tail)
    _assert_contract(zstd, struct.pack("<I", 0xFD2FB528) + tail)


@settings(**_SETTINGS)
@given(st.binary(max_size=400))
def test_bmp_gif_garbage_after_magic(tail):
    _assert_contract(mc.decode_bmp, b"BM" + tail)
    _assert_contract(mc.decode_gif, b"GIF89a" + tail)


@settings(**_SETTINGS)
@given(st.binary(max_size=400))
def test_tiff_garbage_after_magic(tail):
    _assert_contract(mc.decode_tiff, b"II*\x00" + tail)
    _assert_contract(mc.decode_tiff, b"MM\x00*" + tail)


# ---------------------------------------------------------------------------
# Unified registry bit-flip suite (VERDICT r7 #3): every decoder in the
# media/frame registry under the SAME property that caught the JPEG
# crash — a single flipped byte in a VALID payload either decodes
# (possibly to wrong output; most formats carry no integrity check) or
# raises the uniform contract error.  Never an arbitrary exception.
# ---------------------------------------------------------------------------

def _registry_payloads():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (9, 11, 3), dtype=np.uint8)
    samples = 0.3 * np.sin(np.arange(500) / 7.0)
    frames = [
        rng.integers(0, 256, (6, 6, 3), dtype=np.uint8) for _ in range(3)
    ]
    blob = bytes(rng.integers(0, 256, 300, dtype=np.uint8)) + b"aa" * 150
    from etl_rust_spark.operators.webpcodec import decode_webp, encode_webp_lossless

    from etl_rust_spark.operators.jpegcodec import encode_jpeg_progressive

    aiff_pcm = (0.3 * np.sin(np.arange(400) / 6.0) * 32000).astype(">i2")
    comm = (struct.pack(">HIH", 1, 400, 16)
            + struct.pack(">H", 16383 + 12) + (8000 << 51).to_bytes(8, "big"))
    ssnd = struct.pack(">II", 0, 0) + aiff_pcm.tobytes()
    aiff_body = b"AIFF"
    for cc, b in [(b"COMM", comm), (b"SSND", ssnd)]:
        aiff_body += cc + struct.pack(">I", len(b)) + b
    aiff = b"FORM" + struct.pack(">I", len(aiff_body)) + aiff_body

    return [
        ("jpeg_prog", encode_jpeg_progressive(img, 80), decode_jpeg),
        ("aiff", aiff, mc.decode_aiff),
        ("png", mc.encode_png(img), mc.decode_png),
        ("bmp24", mc.encode_bmp(img), mc.decode_bmp),
        ("gif", mc.encode_gif(img), mc.decode_gif),
        ("gif_anim", mc.encode_gif_animated(frames), mc.decode_video),
        ("tiff_ii", mc.encode_tiff(img), mc.decode_tiff),
        ("tiff_packbits", mc.encode_tiff(img, packbits=True), mc.decode_tiff),
        ("webp", encode_webp_lossless(img), decode_webp),
        ("wav_pcm", mc.encode_wav(samples, 8000), mc.decode_wav),
        ("wav_ulaw", mc.encode_g711_wav(samples, 8000, "u"), mc.decode_wav),
        ("wav_alaw", mc.encode_g711_wav(samples, 8000, "a"), mc.decode_wav),
        ("avi", mc.encode_avi(frames), mc.decode_avi),
        *[
            (codec, compress(codec, blob), partial(decompress, codec))
            for codec in ("snappy", "lz4", "zstd")
        ],
    ]


_REGISTRY = _registry_payloads()


@pytest.mark.parametrize(
    "payload,decoder", [(p, d) for _n, p, d in _REGISTRY],
    ids=[n for n, _p, _d in _REGISTRY],
)
@settings(max_examples=120, deadline=None)
@given(st.data())
def test_registry_bitflip_never_crashes(payload, decoder, data):
    pos = data.draw(st.integers(0, len(payload) - 1))
    mask = data.draw(st.integers(1, 255))
    buf = bytearray(payload)
    buf[pos] ^= mask
    _assert_contract(decoder, bytes(buf))


@pytest.mark.parametrize(
    "payload,decoder", [(p, d) for _n, p, d in _REGISTRY],
    ids=[n for n, _p, _d in _REGISTRY],
)
@settings(max_examples=60, deadline=None)
@given(st.data())
def test_registry_truncation_never_crashes(payload, decoder, data):
    cut = data.draw(st.integers(0, len(payload) - 1))
    _assert_contract(decoder, payload[:cut])


def test_wav_zero_channel_count_raises_valueerror():
    """r9s2 fuzz find (pos=22 mask=1 on the wav_ulaw payload): a bit
    flip zeroing the fmt channel count reached `codes.size % n_ch` in
    the G.711 branch — ZeroDivisionError instead of the contract
    ValueError.  Channel count is now validated once for EVERY format
    path; pinned deterministically since the falsifier came from
    st.data() draws an @example cannot replay."""
    payload = next(p for n, p, _d in _REGISTRY if n == "wav_ulaw")
    buf = bytearray(payload)
    buf[22] ^= 1  # fmt n_channels: 1 -> 0
    with pytest.raises(ValueError, match="channel count"):
        mc.decode_wav(bytes(buf))
    # same guard covers the ADPCM and PCM branches
    for fmt_name in ("wav_pcm16", "wav_adpcm"):
        p2 = next((p for n, p, _d in _REGISTRY if n == fmt_name), None)
        if p2 is None:
            continue
        b2 = bytearray(p2)
        b2[22] ^= 1
        _assert_contract(mc.decode_wav, bytes(b2))
