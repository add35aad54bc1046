"""K-05 Kafka wire protocol: golden bytes + in-container round-trips.

Closes VERDICT r6 #2 — until now the Kafka produce path had never
exchanged bytes in this sandbox (no broker, no spark-sql-kafka jar).
:class:`KafkaStubBroker` speaks just enough server-side Kafka protocol
(ApiVersions v0, Metadata v1, Produce v3, Fetch v4) for the jar-free
producer in etl/kafka_wire.py, following the amqp.py stub pattern; the
record batches it stores are the exact bytes a real broker would store.
"""

from __future__ import annotations

import shutil
import socket
import struct
import threading

import pytest

from etl_rust_spark.etl.kafka_wire import (
    KafkaWireClient,
    KafkaWireError,
    crc32c,
    decode_record_batch,
    decode_varint,
    encode_record_batch,
    encode_varint,
)


def _read_exactly(conn: socket.socket, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = conn.recv(n - len(buf))
        if not chunk:
            raise ConnectionError
        buf += chunk
    return buf


def _string(s: str | None) -> bytes:
    if s is None:
        return struct.pack(">h", -1)
    raw = s.encode()
    return struct.pack(">h", len(raw)) + raw


def _read_string(data: bytes, pos: int):
    (n,) = struct.unpack_from(">h", data, pos)
    pos += 2
    if n < 0:
        return None, pos
    return data[pos : pos + n].decode(), pos + n


class KafkaStubBroker:
    """Single-node, partition-0 stub.  Like a real broker it REWRITES
    each appended batch's base_offset to its log position (the CRC
    deliberately starts at the attributes field, so the rewrite is
    checksum-safe) and serves Fetch from the batch containing the
    requested offset; ListOffsets v1 answers earliest (-2) / latest
    (-1)."""

    def __init__(
        self,
        users: dict[str, str] | None = None,
        tls: tuple[str, str] | None = None,
    ):
        # topic → [(base_offset, record_count, patched_batch_bytes)]
        self.logs: dict[str, list[tuple[int, int, bytes]]] = {}
        self.offsets: dict[str, int] = {}
        self.produce_requests = 0
        # users != None puts the listener in SASL mode: every connection
        # must complete SaslHandshake + SaslAuthenticate (PLAIN or a
        # real server-side SCRAM-SHA-256 verification) before any other
        # API; unauthenticated requests drop the connection like a
        # sasl.enabled broker does
        self.users = users
        # tls = (certfile, keyfile) puts the listener in TLS mode: every
        # connection handshakes before the first Kafka frame (an SSL or
        # SASL_SSL listener); a plaintext client is dropped at handshake
        self._tls_ctx = None
        if tls is not None:
            import ssl

            self._tls_ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
            self._tls_ctx.load_cert_chain(*tls)
        self.srv = socket.create_server(("127.0.0.1", 0))
        self.port = self.srv.getsockname()[1]
        threading.Thread(target=self._serve, daemon=True).start()

    def close(self):
        self.srv.close()

    def _serve(self):
        while True:
            try:
                conn, _ = self.srv.accept()
            except OSError:
                return
            threading.Thread(target=self._handle, args=(conn,), daemon=True).start()

    def _handle(self, conn: socket.socket):
        import base64
        import hashlib
        import hmac as hmac_mod
        import os as os_mod

        if self._tls_ctx is not None:
            try:
                conn = self._tls_ctx.wrap_socket(conn, server_side=True)
            except OSError:  # plaintext/garbled client: drop, like a broker
                conn.close()
                return

        authed = self.users is None
        sasl_mech = None
        scram_state = None  # (user, first_bare, server_first, salted)
        scram_hash = hashlib.sha256  # set by the handshake

        def h256(d):
            return scram_hash(d).digest()

        def hm(k, d):
            return hmac_mod.new(k, d, scram_hash).digest()

        try:
            while True:
                (size,) = struct.unpack(">i", _read_exactly(conn, 4))
                req = _read_exactly(conn, size)
                api_key, api_version, corr = struct.unpack_from(">hhi", req, 0)
                _client_id, pos = _read_string(req, 8)
                body = req[pos:]
                if api_key == 17:  # SaslHandshake v1
                    mech, _ = _read_string(body, 0)
                    enabled = ["PLAIN", "SCRAM-SHA-256", "SCRAM-SHA-512"]
                    ok = self.users is not None and mech in enabled
                    if ok:
                        sasl_mech = mech
                        if mech == "SCRAM-SHA-512":
                            scram_hash = hashlib.sha512
                    resp = struct.pack(
                        ">hi", 0 if ok else 33, len(enabled)  # 33 = UNSUPPORTED_SASL_MECHANISM
                    ) + b"".join(_string(m) for m in enabled)
                elif api_key == 36:  # SaslAuthenticate v0
                    (blen,) = struct.unpack_from(">i", body, 0)
                    token = body[4 : 4 + blen]

                    def auth_resp(err, msg, out=b""):
                        return (
                            struct.pack(">h", err) + _string(msg)
                            + struct.pack(">i", len(out)) + out
                        )

                    if sasl_mech == "PLAIN":
                        parts = token.split(b"\x00")
                        u = parts[1].decode() if len(parts) == 3 else ""
                        p = parts[2].decode() if len(parts) == 3 else ""
                        if self.users.get(u) == p and u:
                            authed = True
                            resp = auth_resp(0, None)
                        else:
                            resp = auth_resp(58, "Authentication failed")
                    elif (sasl_mech or "").startswith("SCRAM") and scram_state is None:
                        # client-first: gs2 "n,," + "n=<user>,r=<cnonce>"
                        bare = token[3:]
                        f = dict(kv.split(b"=", 1) for kv in bare.split(b","))
                        user = f[b"n"].decode().replace("=2C", ",").replace("=3D", "=")
                        pw = self.users.get(user)
                        if pw is None:
                            resp = auth_resp(58, "unknown user")
                        else:
                            salt, iters = os_mod.urandom(12), 4096
                            snonce = f[b"r"] + base64.b64encode(os_mod.urandom(9))
                            server_first = (
                                b"r=" + snonce + b",s="
                                + base64.b64encode(salt)
                                + b",i=" + str(iters).encode()
                            )
                            salted = hashlib.pbkdf2_hmac(
                                scram_hash().name, pw.encode(), salt, iters
                            )
                            scram_state = (bare, server_first, salted)
                            resp = auth_resp(0, None, server_first)
                    elif (sasl_mech or "").startswith("SCRAM"):
                        bare, server_first, salted = scram_state
                        wo_proof, proof_b64 = token.rsplit(b",p=", 1)
                        auth_msg = bare + b"," + server_first + b"," + wo_proof
                        stored = h256(hm(salted, b"Client Key"))
                        sig = hm(stored, auth_msg)
                        ckey = bytes(
                            a ^ b
                            for a, b in zip(base64.b64decode(proof_b64), sig)
                        )
                        if h256(ckey) == stored:
                            authed = True
                            v = base64.b64encode(
                                hm(hm(salted, b"Server Key"), auth_msg)
                            )
                            resp = auth_resp(0, None, b"v=" + v)
                        else:
                            resp = auth_resp(58, "SCRAM proof mismatch")
                    else:
                        resp = auth_resp(58, "no prior SaslHandshake")
                elif not authed and api_key != 18:
                    # a sasl.enabled broker drops unauthenticated traffic
                    conn.close()
                    return
                elif api_key == 18:  # ApiVersions v0
                    assert api_version == 0
                    apis = [
                        (0, 0, 7), (1, 0, 11), (2, 0, 5), (3, 0, 12),
                        (17, 0, 1), (18, 0, 3), (36, 0, 2),
                    ]
                    resp = struct.pack(">hi", 0, len(apis)) + b"".join(
                        struct.pack(">hhh", *a) for a in apis
                    )
                elif api_key == 3:  # Metadata v1
                    assert api_version == 1
                    (n,) = struct.unpack_from(">i", body, 0)
                    p = 4
                    names = []
                    for _ in range(n):
                        nm, p = _read_string(body, p)
                        names.append(nm)
                    resp = (
                        struct.pack(">i", 1)  # brokers
                        + struct.pack(">i", 0)
                        + _string("127.0.0.1")
                        + struct.pack(">i", self.port)
                        + _string(None)  # rack
                        + struct.pack(">i", 0)  # controller_id
                        + struct.pack(">i", len(names))
                    )
                    for nm in names:
                        resp += (
                            struct.pack(">h", 0)
                            + _string(nm)
                            + b"\x00"  # is_internal
                            + struct.pack(">i", 1)  # one partition
                            + struct.pack(">hii", 0, 0, 0)
                            + struct.pack(">ii", 1, 0)  # replicas [0]
                            + struct.pack(">ii", 1, 0)  # isr [0]
                        )
                elif api_key == 0:  # Produce v3
                    assert api_version == 3
                    _txn, p = _read_string(body, 0)
                    _acks, _timeout = struct.unpack_from(">hi", body, p)
                    p += 6
                    (n_topics,) = struct.unpack_from(">i", body, p)
                    p += 4
                    resp_topics = b""
                    for _ in range(n_topics):
                        topic, p = _read_string(body, p)
                        (n_parts,) = struct.unpack_from(">i", body, p)
                        p += 4
                        parts = b""
                        for _ in range(n_parts):
                            part, blen = struct.unpack_from(">ii", body, p)
                            p += 8
                            batch = body[p : p + blen]
                            p += blen
                            # a real broker validates the batch CRC
                            n_new = len(decode_record_batch(batch))
                            base = self.offsets.get(topic, 0)
                            # append rewrites base_offset (CRC-safe:
                            # the checksum starts at attributes)
                            patched = struct.pack(">q", base) + batch[8:]
                            self.logs.setdefault(topic, []).append(
                                (base, n_new, patched)
                            )
                            self.offsets[topic] = base + n_new
                            self.produce_requests += 1
                            parts += struct.pack(">ihqq", part, 0, base, -1)
                        resp_topics += (
                            _string(topic) + struct.pack(">i", n_parts) + parts
                        )
                    resp = (
                        struct.pack(">i", n_topics)
                        + resp_topics
                        + struct.pack(">i", 0)  # throttle
                    )
                elif api_key == 2:  # ListOffsets v1
                    assert api_version == 1
                    p = 4  # replica_id
                    (n_topics,) = struct.unpack_from(">i", body, p)
                    p += 4
                    resp_topics = b""
                    for _ in range(n_topics):
                        topic, p = _read_string(body, p)
                        (n_parts,) = struct.unpack_from(">i", body, p)
                        p += 4
                        parts = b""
                        for _ in range(n_parts):
                            part, ts = struct.unpack_from(">iq", body, p)
                            p += 12
                            log = self.logs.get(topic, [])
                            if ts == -2:  # earliest
                                o = log[0][0] if log else 0
                            elif ts == -1:  # latest → log-end offset
                                o = self.offsets.get(topic, 0)
                            else:
                                # timestamp seek: first offset whose
                                # record ts >= requested (real-broker
                                # semantics; -1 when none).  The wire
                                # producer's batches carry delta-0
                                # record timestamps (first == max), so
                                # batch granularity is exact here.
                                o = -1
                                for base, _cnt, blob in log:
                                    (mx,) = struct.unpack_from(">q", blob, 35)
                                    if mx >= ts:
                                        o = base
                                        break
                            parts += struct.pack(">ihqq", part, 0, -1, o)
                        resp_topics += (
                            _string(topic) + struct.pack(">i", n_parts) + parts
                        )
                    resp = struct.pack(">i", n_topics) + resp_topics
                elif api_key == 1:  # Fetch v4
                    assert api_version == 4
                    p = 17  # replica/max_wait/min/max/isolation
                    (n_topics,) = struct.unpack_from(">i", body, p)
                    p += 4
                    resp_topics = b""
                    for _ in range(n_topics):
                        topic, p = _read_string(body, p)
                        (n_parts,) = struct.unpack_from(">i", body, p)
                        p += 4
                        parts = b""
                        for _ in range(n_parts):
                            part, off, _maxb = struct.unpack_from(">iqi", body, p)
                            p += 16
                            # serve whole batches, starting at the batch
                            # CONTAINING the requested offset (the real
                            # broker's contract; clients slice records)
                            stored = b"".join(
                                blob
                                for base, cnt, blob in self.logs.get(topic, [])
                                if base + cnt > off
                            )
                            parts += (
                                struct.pack(
                                    ">ihqq", part, 0,
                                    self.offsets.get(topic, 0),
                                    self.offsets.get(topic, 0),
                                )
                                + struct.pack(">i", 0)  # aborted txns
                                + struct.pack(">i", len(stored))
                                + stored
                            )
                        resp_topics += (
                            _string(topic) + struct.pack(">i", n_parts) + parts
                        )
                    resp = (
                        struct.pack(">i", 0)  # throttle
                        + struct.pack(">i", n_topics)
                        + resp_topics
                    )
                else:
                    raise AssertionError(f"unexpected api_key {api_key}")
                msg = struct.pack(">i", corr) + resp
                conn.sendall(struct.pack(">i", len(msg)) + msg)
        except (ConnectionError, OSError):
            pass
        finally:
            conn.close()


# ---------------------------------------------------------------------------
# Golden bytes
# ---------------------------------------------------------------------------

def test_crc32c_known_vectors():
    # RFC 3720 §B.4 check value
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0


def test_varint_zigzag_roundtrip():
    for v in (0, 1, -1, 2, -2, 127, 128, -128, 300, -300, 2**31, -(2**31), 63):
        data = encode_varint(v)
        got, pos = decode_varint(data, 0)
        assert (got, pos) == (v, len(data))
    # zigzag golden bytes (protobuf/Kafka convention)
    assert encode_varint(0) == b"\x00"
    assert encode_varint(-1) == b"\x01"
    assert encode_varint(1) == b"\x02"
    assert encode_varint(150) == b"\xac\x02"


def test_record_batch_golden_bytes_and_roundtrip():
    batch = encode_record_batch([b"hello", b"world"], base_timestamp=1_700_000_000_000)
    # header fields at fixed offsets
    base_offset, batch_len = struct.unpack_from(">qi", batch, 0)
    epoch, magic, crc = struct.unpack_from(">ibI", batch, 12)
    assert (base_offset, epoch, magic) == (0, 0, 2)
    assert batch_len == len(batch) - 12
    assert crc == crc32c(batch[21:])
    attrs, last_delta, t0, t1, pid, pep, seq, n = struct.unpack_from(
        ">hiqqqhii", batch, 21
    )
    assert (attrs, last_delta, n) == (0, 1, 2)
    assert (pid, pep, seq) == (-1, -1, -1)
    assert t0 == t1 == 1_700_000_000_000
    assert decode_record_batch(batch) == [(None, b"hello"), (None, b"world")]
    # keys survive, and multiple concatenated batches decode in order
    b2 = encode_record_batch([b"v"], keys=[b"k"], base_timestamp=0)
    assert decode_record_batch(batch + b2) == [
        (None, b"hello"), (None, b"world"), (b"k", b"v"),
    ]


def test_record_batch_crc_validation():
    batch = bytearray(encode_record_batch([b"x"], base_timestamp=0))
    batch[-1] ^= 0xFF  # corrupt the last value byte
    with pytest.raises(KafkaWireError, match="CRC32C"):
        decode_record_batch(bytes(batch))


# ---------------------------------------------------------------------------
# Wire round-trips vs the stub broker
# ---------------------------------------------------------------------------

def test_truncated_trailing_batch_is_discarded_not_error():
    """Real brokers end a fetch response with a PARTIAL RecordBatch when
    max_bytes cuts mid-batch; the consumer contract is to discard the
    trailing fragment (and re-fetch from its base offset), not raise.
    CRC-checking the truncated slice raised a spurious KafkaWireError
    before r8 (ADVICE r7)."""
    b1 = encode_record_batch([b"alpha", b"beta"], base_timestamp=0)
    b2 = encode_record_batch([b"gamma"], base_timestamp=0)
    for cut in (1, 12, 20, len(b2) - 1):  # header-only .. one byte short
        got = decode_record_batch(b1 + b2[:cut])
        assert got == [(None, b"alpha"), (None, b"beta")]
    # a COMPLETE stream still decodes both batches
    assert len(decode_record_batch(b1 + b2)) == 3


def test_client_produce_fetch_roundtrip():
    broker = KafkaStubBroker()
    try:
        c = KafkaWireClient("127.0.0.1", broker.port)
        c.connect()
        assert c.api_versions[0][1] >= 3  # Produce v3 negotiated
        assert c.metadata(["blocks"]) == {"blocks": [0]}
        c.publish_batch("blocks", ['{"n": 1}', '{"n": 2}'])
        c.publish("blocks", b'{"n": 3}')
        got = c.fetch("blocks")
        assert [v for _k, v in got] == [b'{"n": 1}', b'{"n": 2}', b'{"n": 3}']
        assert broker.offsets["blocks"] == 3
        c.disconnect()
        assert not c.connected
    finally:
        broker.close()


def test_publish_tables_through_spark_executors(spark):
    """K-05 end-to-end IN-CONTAINER: DataFrames → encode → chunked
    publish from Spark python workers over real sockets → RecordBatch
    v2 bytes on the broker → fetched and decoded back.  The built-in
    format("kafka") writer stays the cluster-scale path (plan-asserted
    in test_sinks.py); this proves the produce path itself."""
    import json

    from etl_rust_spark.etl.kafka_wire import kafka_wire_client_factory
    from etl_rust_spark.etl.sinks import publish_tables

    broker = KafkaStubBroker()
    try:
        df = spark.createDataFrame(
            [(i, f"r{i}") for i in range(25)], ["a", "b"]
        ).repartition(3)
        from etl_rust_spark.etl.sinks import encode_json

        publish_tables(
            {"blocks": df},
            kafka_wire_client_factory("127.0.0.1", broker.port),
            encoder=lambda d: encode_json(d, stamp_ts=True),  # X-09 stamp
            chunk_size=10,
        )
        c = KafkaWireClient("127.0.0.1", broker.port)
        c.connect()
        payloads = [json.loads(v.decode()) for _k, v in c.fetch("blocks")]
        c.disconnect()
        assert sorted(p["a"] for p in payloads) == list(range(25))
        assert all("publish_ts" in p for p in payloads)  # X-09 stamp
        # chunking: 3 partitions x <=10 per batch -> >=3 produce requests
        assert broker.produce_requests >= 3
    finally:
        broker.close()


def test_record_batch_gzip_roundtrip_and_layout():
    """Gzip-compressed RecordBatch v2: attributes codec bit 1, records
    section deflated, logical count preserved, CRC seals the compressed
    bytes, decode inflates transparently."""
    import gzip
    import struct

    vals = [b"x" * 200, b"y" * 200, b"z" * 200]
    plain = encode_record_batch(vals, base_timestamp=7)
    comp = encode_record_batch(vals, base_timestamp=7, compression="gzip")
    assert decode_record_batch(comp) == decode_record_batch(plain)
    assert len(comp) < len(plain) / 2  # the 600 repeated bytes deflate
    (attrs,) = struct.unpack_from(">h", comp, 21)
    assert attrs & 0x07 == 1
    (n,) = struct.unpack_from(">i", comp, 21 + 36)
    assert n == 3  # logical record count, not "1 compressed blob"
    # records section really is a gzip stream holding the plain records
    assert gzip.decompress(comp[61:]) == plain[61:]
    # deterministic bytes (mtime pinned)
    assert comp == encode_record_batch(vals, base_timestamp=7, compression="gzip")


def test_record_batch_gzip_corrupt_stream_raises_wire_error():
    import pytest as _pytest

    comp = bytearray(
        encode_record_batch([b"abc" * 50], base_timestamp=0, compression="gzip")
    )
    comp[70] ^= 0xFF  # inside the deflate stream
    # CRC covers the compressed bytes, so either check may fire — both
    # must surface as KafkaWireError
    with _pytest.raises(KafkaWireError):
        decode_record_batch(bytes(comp))

    # codec 4 (zstd) is implemented: uncompressed bytes stamped zstd must
    # fail the zstd magic check, surfaced as KafkaWireError (not misparse)
    import struct

    from etl_rust_spark.etl.kafka_wire import crc32c

    plain = bytearray(encode_record_batch([b"abc"], base_timestamp=0))
    struct.pack_into(">h", plain, 21, 4)
    # re-seal the CRC so the payload check (not the CRC) is what fires
    struct.pack_into(">I", plain, 17, crc32c(bytes(plain[21:])))
    with _pytest.raises(KafkaWireError, match="zstd"):
        decode_record_batch(bytes(plain))

    # a codec id outside the protocol's table (5) must raise the
    # unknown-codec error, not misparse
    plain = bytearray(encode_record_batch([b"abc"], base_timestamp=0))
    struct.pack_into(">h", plain, 21, 5)
    struct.pack_into(">I", plain, 17, crc32c(bytes(plain[21:])))
    with _pytest.raises(KafkaWireError, match="codec"):
        decode_record_batch(bytes(plain))


def test_snappy_hand_golden_with_copies():
    """Hand-derived raw-snappy stream exercising the copy grammar:
    preamble 12, literal 'ab' (tag 0x04), then a 1-byte-offset copy of
    length 10 at offset 2 (tag (10-4)<<2 | 01 = 0x19, offset byte 0x02)
    — the overlapping-copy RLE trick expands 'ab' to 12 bytes."""
    from etl_rust_spark.etl.kafka_wire import decompress

    assert decompress("snappy", b"\x0c" + b"\x04ab" + b"\x19\x02") == b"ab" * 6
    # 2-byte-offset copy form: literal 'abcd', copy len 4 off 4
    stream = b"\x08" + b"\x0cabcd" + bytes([((4 - 1) << 2) | 2, 4, 0])
    assert decompress("snappy", stream) == b"abcdabcd"


def test_snappy_roundtrip_and_xerial_unwrap():
    import struct

    from etl_rust_spark.etl.kafka_wire import compress, decompress

    for payload in (b"", b"x", b"hello world" * 1000, bytes(range(256)) * 300):
        assert decompress("snappy", compress("snappy", payload)) == payload
    # xerial/java framing: magic + versions + [len, block]...
    block = compress("snappy", b"framed payload")
    framed = (b"\x82SNAPPY\x00" + struct.pack(">ii", 1, 1)
              + struct.pack(">i", len(block)) + block)
    assert decompress("snappy", framed) == b"framed payload"


def test_snappy_corrupt_raises_wire_error():
    import pytest as _pytest

    from etl_rust_spark.etl.kafka_wire import KafkaWireError, decompress

    for bad in (
        b"\x0c\x19\x02",            # copy before any output (offset > len(out))
        b"\xff\xff\xff\xff\xff\xff",  # runaway preamble
        b"\x0c\x04ab",              # inflates to 2, preamble says 12
        b"\x08\xfcabcd",            # literal length runs past end
        b"\x80\x80\x80\x80\x04ab",  # preamble declares 1 GiB, past the bound
    ):
        with _pytest.raises(KafkaWireError):
            decompress("snappy", bad)


def test_record_batch_snappy_roundtrip():
    import struct

    vals = [b"v" * 300, b"w" * 300]
    plain = encode_record_batch(vals, base_timestamp=3)
    comp = encode_record_batch(vals, base_timestamp=3, compression="snappy")
    assert decode_record_batch(comp) == decode_record_batch(plain)
    (attrs,) = struct.unpack_from(">h", comp, 21)
    assert attrs & 0x07 == 2
    assert len(comp) < len(plain)  # the runs compress


def test_lz4_hand_golden_compressed_block():
    """Hand-built frame holding one COMPRESSED block, liblz4's encoding
    of b"abcd" * 10: token 0x4f = 4 literals 'abcd' + match length
    15+12+4 = 31 at offset 4, then token 0x50 = the 5 trailing literals
    'dabcd' the block spec requires (a block must end in literals)."""
    import struct

    from etl_rust_spark.etl.kafka_wire import decompress

    block = bytes.fromhex("4f6162636404000c506461626364")
    frame = (
        struct.pack("<I", 0x184D2204)
        + bytes((0x60, 0x70))  # version, B.Indep; 4MB blocks; no checksums
        + bytes((0x73,))  # header checksum: (xxh32(b"\x60\x70") >> 8) & 0xFF
        + struct.pack("<I", len(block)) + block
        + struct.pack("<I", 0)
    )
    assert decompress("lz4", frame) == b"abcd" * 10


def test_lz4_roundtrip_and_corrupt():
    import pytest as _pytest
    import struct

    from etl_rust_spark.etl.kafka_wire import KafkaWireError, compress, decompress

    for payload in (b"", b"z", b"payload " * 4096):
        assert decompress("lz4", compress("lz4", payload)) == payload
    # b"hello world" as one STORED block with a content checksum
    good = bytes.fromhex("04224d186470b90b00008068656c6c6f20776f726c64000000002266bbce")
    assert decompress("lz4", good) == b"hello world"
    with _pytest.raises(KafkaWireError, match="frameType_unknown"):
        decompress("lz4", b"\x00\x00\x00\x00" + good[4:])
    bad_hc = bytearray(good)
    bad_hc[6] ^= 0xFF
    with _pytest.raises(KafkaWireError, match="headerChecksum_invalid"):
        decompress("lz4", bytes(bad_hc))
    bad_content = bytearray(good)
    struct.pack_into("<I", bad_content, len(bad_content) - 4, 0)
    with _pytest.raises(KafkaWireError, match="contentChecksum_invalid"):
        decompress("lz4", bytes(bad_content))
    with _pytest.raises(KafkaWireError, match="Truncated"):
        decompress("lz4", good[:-8])  # exactly EndMark + content checksum gone
    with _pytest.raises(KafkaWireError, match="Truncated"):
        decompress("lz4", good[:-9])  # cut reaches into the block itself


def test_lz4_frames_have_independent_blocks():
    """Kafka's Java brokers and consumers inflate each lz4 block with no
    earlier-block prefix, so a frame past one 64 KiB block must set
    B.Indep and every block must inflate on its own.  The random tail
    does not compress and goes out as a stored block."""
    import random
    import struct

    import pyarrow as pa

    from etl_rust_spark.etl.kafka_wire import compress, decompress

    data = b"the quick brown fox jumps over the lazy dog. " * 4000
    data += random.Random(3).randbytes(70000)
    frame = compress("lz4", data)
    assert decompress("lz4", frame) == data
    assert frame[:4] == struct.pack("<I", 0x184D2204)
    assert frame[4] & 0x20  # FLG B.Indep
    assert frame[5] == 0x40  # BD: 64 KiB blocks
    raw = pa.Codec("lz4_raw")
    pos, out, stored = 7, bytearray(), 0
    while True:
        (size,) = struct.unpack_from("<I", frame, pos)
        pos += 4
        if size == 0:  # EndMark
            break
        block = frame[pos : pos + (size & 0x7FFFFFFF)]
        pos += len(block)
        want = data[len(out) : len(out) + (1 << 16)]
        if size & 1 << 31:
            stored += 1
            out += block
        else:
            out += raw.decompress(block, decompressed_size=len(want), asbytes=True)
        assert out[-len(want) :] == want
    assert pos == len(frame) and out == data
    assert stored and len(frame) < len(data)


def test_record_batch_lz4_roundtrip():
    import struct

    vals = [b"p" * 300, b"q" * 300]
    plain = encode_record_batch(vals, base_timestamp=5)
    comp = encode_record_batch(vals, base_timestamp=5, compression="lz4")
    assert decode_record_batch(comp) == decode_record_batch(plain)
    (attrs,) = struct.unpack_from(">h", comp, 21)
    assert attrs & 0x07 == 3
    assert len(comp) < len(plain)  # the runs compress


_LZ4_CLI = shutil.which("lz4")
needs_lz4_cli = pytest.mark.skipif(_LZ4_CLI is None, reason="no lz4 CLI")


@needs_lz4_cli
def test_lz4_cli_interop():
    """Frames from the canonical lz4 CLI decode, linked blocks (-BD)
    included, and ``lz4 -d`` inflates this module's frames.  64 KiB
    blocks (-B4) make every input below several blocks long."""
    import random
    import subprocess

    from etl_rust_spark.etl.kafka_wire import compress, decompress

    rng = random.Random(7)
    words = [rng.randbytes(rng.randrange(1, 12)) for _ in range(300)]
    cases = {
        "text": b"the quick brown fox jumps over the lazy dog. " * 5000,
        "words": b" ".join(rng.choice(words) for _ in range(40000)),
        "random": rng.randbytes(70000),
    }
    for args in (["-B4"], ["-B4", "-BD"], ["-B4", "-BD", "--content-size", "-BX"]):
        for name, data in cases.items():
            p = subprocess.run(["lz4", "-c", *args], input=data, capture_output=True)
            assert p.returncode == 0, p.stderr[:300]
            assert decompress("lz4", p.stdout) == data, (args, name)
    for name, data in cases.items():
        p = subprocess.run(
            ["lz4", "-d", "-c"], input=compress("lz4", data), capture_output=True
        )
        assert p.returncode == 0, (name, p.stderr[:300])
        assert p.stdout == data, name


def test_corrupt_frames_keep_address_space_flat():
    """Decoding corrupt lz4/zstd frames must not reserve the output
    bound per call: pyarrow keeps the size of a ``read(n)`` that raises
    as address space, so a bounded read of ``max_out + 1`` bytes would
    grow the process by ~128 MiB per corrupt frame."""
    import os

    from etl_rust_spark.etl.kafka_wire import compress, decompress

    status = "/proc/self/status"
    if not os.path.exists(status):
        pytest.skip("no /proc/self/status")

    def vm_size() -> int:
        with open(status) as f:
            line = next(ln for ln in f if ln.startswith("VmSize:"))
        return int(line.split()[1]) * 1024

    frames = []
    for codec in ("lz4", "zstd"):
        good = compress(codec, b"payload %d " * 2000)
        bad = bytearray(good)
        bad[len(bad) // 2] ^= 0xFF
        frames += [(codec, bytes(bad)), (codec, good[: len(good) // 2])]
    before = vm_size()
    for i in range(200):
        codec, frame = frames[i % len(frames)]
        try:
            decompress(codec, frame)
        except KafkaWireError:
            pass
    assert vm_size() - before < 1 << 30


def test_client_compressed_produce_fetch_roundtrip():
    """Each codec flows through the full socket path: produce a
    compressed batch to the stub broker, fetch the stored bytes back,
    decode transparently."""
    for codec in ("gzip", "snappy", "lz4", "zstd"):
        broker = KafkaStubBroker()
        try:
            c = KafkaWireClient("127.0.0.1", broker.port, compression=codec)
            c.connect()
            c.publish_batch("blocks", ['{"n": 1}' * 30, '{"n": 2}' * 30])
            got = c.fetch("blocks")
            assert [v for _k, v in got] == [
                b'{"n": 1}' * 30, b'{"n": 2}' * 30
            ], codec
            c.disconnect()
        finally:
            broker.close()


def test_list_offsets_and_offset_sliced_fetch():
    """ListOffsets v1 earliest/latest + fetch_records slicing: the
    broker serves whole batches from the one containing the requested
    offset; the client drops records below it.  Broker-side base_offset
    rewrite keeps absolute offsets contiguous across produce requests
    (and stays CRC-valid — decode verifies)."""
    broker = KafkaStubBroker()
    try:
        c = KafkaWireClient("127.0.0.1", broker.port)
        c.publish_batch("t", [b"r0", b"r1", b"r2"])
        c.publish_batch("t", [b"r3", b"r4"])
        assert c.list_offsets("t", timestamp=-2) == 0
        assert c.list_offsets("t", timestamp=-1) == 5
        got = c.fetch_records("t", offset=0)
        assert [(o, v) for o, _k, v in got] == [
            (0, b"r0"), (1, b"r1"), (2, b"r2"), (3, b"r3"), (4, b"r4"),
        ]
        # offset 1 lands INSIDE the first batch: broker returns the
        # whole batch, the client slices r0 off
        assert [v for _o, _k, v in c.fetch_records("t", offset=1)] == [
            b"r1", b"r2", b"r3", b"r4",
        ]
        # offset 3 starts exactly at the second batch
        assert [o for o, _k, _v in c.fetch_records("t", offset=3)] == [3, 4]
        assert c.fetch_records("t", offset=5) == []
        c.disconnect()
    finally:
        broker.close()


def test_offsets_contiguous_across_random_batches():
    """Property: however produces are split into batches (sizes 1..7,
    mixed codecs), broker-assigned absolute offsets are the contiguous
    sequence 0..n-1 and any fetch offset slices exactly."""
    import random

    rng = random.Random(20260814)
    values = [f"v{i}".encode() for i in range(60)]
    broker = KafkaStubBroker()
    try:
        c = KafkaWireClient("127.0.0.1", broker.port)
        i = 0
        codecs = [None, "gzip", "snappy", "lz4", "zstd"]
        while i < len(values):
            n = rng.randint(1, 7)
            c.compression = rng.choice(codecs)
            c.publish_batch("p", values[i : i + n])
            i += n
        assert c.list_offsets("p") == 60
        got = c.fetch_records("p", offset=0)
        assert [o for o, _k, _v in got] == list(range(60))
        assert [v for _o, _k, v in got] == values
        for off in (0, 1, 13, 37, 59, 60):
            sliced = c.fetch_records("p", offset=off)
            assert [o for o, _k, _v in sliced] == list(range(off, 60))
        c.disconnect()
    finally:
        broker.close()


# ---------------------------------------------------------------------------
# SASL (VERDICT r8 #4)
# ---------------------------------------------------------------------------

def test_sasl_plain_and_scram_roundtrip():
    """Authenticated produce/fetch over both mechanisms; the SCRAM leg
    verifies the server signature too (stub computes real RFC 5802
    server-side crypto, not a canned accept)."""
    broker = KafkaStubBroker(users={"svc": "s3cret"})
    try:
        for mech in ("PLAIN", "SCRAM-SHA-256", "SCRAM-SHA-512"):
            c = KafkaWireClient(
                "127.0.0.1", broker.port, sasl_mechanism=mech,
                sasl_username="svc", sasl_password="s3cret",
            )
            c.connect()
            c.publish("t_" + mech.replace("-", ""), b"hello")
            got = c.fetch("t_" + mech.replace("-", ""))
            assert [v for _k, v in got] == [b"hello"]
            c.disconnect()
    finally:
        broker.close()


def test_sasl_wrong_credentials_raise_loudly():
    broker = KafkaStubBroker(users={"svc": "s3cret"})
    try:
        for mech in ("PLAIN", "SCRAM-SHA-256", "SCRAM-SHA-512"):
            c = KafkaWireClient(
                "127.0.0.1", broker.port, sasl_mechanism=mech,
                sasl_username="svc", sasl_password="WRONG",
            )
            with pytest.raises(KafkaWireError, match="SASL|SCRAM|failed"):
                c.connect()
        # unknown user too
        c = KafkaWireClient(
            "127.0.0.1", broker.port, sasl_mechanism="SCRAM-SHA-256",
            sasl_username="nobody", sasl_password="x",
        )
        with pytest.raises(KafkaWireError):
            c.connect()
    finally:
        broker.close()


def test_sasl_required_broker_drops_unauthenticated_traffic():
    """A sasl-mode broker must not serve an unauthenticated client —
    and a client pointed at a non-SASL broker with SASL configured
    fails its handshake instead of silently proceeding."""
    broker = KafkaStubBroker(users={"svc": "s3cret"})
    try:
        c = KafkaWireClient("127.0.0.1", broker.port)  # no SASL configured
        with pytest.raises(KafkaWireError):
            c.connect()          # ApiVersions ok, then Metadata dropped
            c.metadata(["t"])
    finally:
        broker.close()
    plain = KafkaStubBroker()  # no users: SASL not enabled
    try:
        c = KafkaWireClient(
            "127.0.0.1", plain.port, sasl_mechanism="PLAIN",
            sasl_username="svc", sasl_password="s3cret",
        )
        with pytest.raises(KafkaWireError, match="mechanism"):
            c.connect()
    finally:
        plain.close()


def test_sasl_client_option_validation():
    with pytest.raises(ValueError, match="mechanism"):
        KafkaWireClient("h", 1, sasl_mechanism="GSSAPI",
                        sasl_username="u", sasl_password="p")
    with pytest.raises(ValueError, match="username and password"):
        KafkaWireClient("h", 1, sasl_mechanism="PLAIN")


# ---------------------------------------------------------------------------
# TLS (VERDICT r9 #2: SASL_SSL parity — SCRAM protects the password,
# the payload needs the channel encrypted too)
# ---------------------------------------------------------------------------

def test_tls_round_trip_and_wrong_ca_rejected(tls_certs):
    """security.protocol=SSL: encrypted produce/fetch against a TLS
    stub listener; a client trusting a DIFFERENT CA fails certificate
    verification BEFORE any Kafka byte; a plaintext client against the
    TLS listener dies loudly instead of silently downgrading."""
    import ssl

    broker = KafkaStubBroker(tls=(tls_certs["cert"], tls_certs["key"]))
    try:
        c = KafkaWireClient(
            "127.0.0.1", broker.port, security_protocol="SSL",
            ssl_cafile=tls_certs["cert"],
        )
        c.connect()
        c.publish("tls_topic", b'{"n": 1}')
        assert [v for _k, v in c.fetch("tls_topic")] == [b'{"n": 1}']
        c.disconnect()
        # wrong CA: chain verification fails in the handshake
        bad = KafkaWireClient(
            "127.0.0.1", broker.port, security_protocol="SSL",
            ssl_cafile=tls_certs["wrong_ca"],
        )
        with pytest.raises(ssl.SSLCertVerificationError):
            bad.connect()
        # plaintext client to a TLS listener: dropped at handshake
        plain = KafkaWireClient("127.0.0.1", broker.port)
        with pytest.raises((KafkaWireError, OSError)):
            plain.connect()
    finally:
        broker.close()


def test_sasl_ssl_authenticated_and_encrypted(tls_certs):
    """SASL_SSL: the full real-broker posture — TLS handshake first,
    then SCRAM-SHA-256 inside the encrypted channel, then produce."""
    broker = KafkaStubBroker(
        users={"svc": "s3cret"}, tls=(tls_certs["cert"], tls_certs["key"])
    )
    try:
        c = KafkaWireClient(
            "127.0.0.1", broker.port, security_protocol="SASL_SSL",
            sasl_mechanism="SCRAM-SHA-256",
            sasl_username="svc", sasl_password="s3cret",
            ssl_cafile=tls_certs["cert"],
        )
        c.connect()
        c.publish("secure", b"payload")
        assert [v for _k, v in c.fetch("secure")] == [b"payload"]
        c.disconnect()
        # wrong password still fails INSIDE the TLS channel
        bad = KafkaWireClient(
            "127.0.0.1", broker.port, security_protocol="SASL_SSL",
            sasl_mechanism="SCRAM-SHA-256",
            sasl_username="svc", sasl_password="WRONG",
            ssl_cafile=tls_certs["cert"],
        )
        with pytest.raises(KafkaWireError, match="SASL|SCRAM|failed"):
            bad.connect()
    finally:
        broker.close()


def test_tls_client_against_plaintext_listener_fails_loudly():
    import ssl

    broker = KafkaStubBroker()
    try:
        c = KafkaWireClient(
            "127.0.0.1", broker.port, security_protocol="SSL"
        )
        with pytest.raises((ssl.SSLError, KafkaWireError, OSError)):
            c.connect()
    finally:
        broker.close()


def test_security_protocol_option_validation():
    with pytest.raises(ValueError, match="security protocol"):
        KafkaWireClient("h", 1, security_protocol="STARTTLS")
    with pytest.raises(ValueError, match="requires sasl_mechanism"):
        KafkaWireClient("h", 1, security_protocol="SASL_SSL")
    with pytest.raises(ValueError, match="SASL_SSL"):
        KafkaWireClient(
            "h", 1, security_protocol="SSL", sasl_mechanism="PLAIN",
            sasl_username="u", sasl_password="p",
        )
    # back-compat: a bare sasl_mechanism implies SASL_PLAINTEXT
    c = KafkaWireClient("h", 1, sasl_mechanism="PLAIN",
                        sasl_username="u", sasl_password="p")
    assert c.security_protocol == "SASL_PLAINTEXT" and not c.use_tls


def test_kafka_wire_source_reads_over_tls(spark, tls_certs):
    """The kafka_wire DataSource end to end over security.protocol=SSL
    (option names mirror the jar'd connector's ssl.* locations)."""
    from etl_rust_spark.sources.kafka_source import KafkaWireDataSource

    spark.dataSource.register(KafkaWireDataSource)
    broker = KafkaStubBroker(tls=(tls_certs["cert"], tls_certs["key"]))
    try:
        c = KafkaWireClient(
            "127.0.0.1", broker.port, security_protocol="SSL",
            ssl_cafile=tls_certs["cert"],
        )
        c.connect()
        for i in range(3):
            c.publish("enc", b"m%d" % i)
        c.disconnect()
        df = (
            spark.read.format("kafka_wire")
            .option("host", "127.0.0.1").option("port", broker.port)
            .option("topic", "enc")
            .option("security.protocol", "SSL")
            .option("ssl.ca.location", tls_certs["cert"])
            .load()
        )
        assert sorted(bytes(r.value) for r in df.collect()) == [
            b"m0", b"m1", b"m2"
        ]
    finally:
        broker.close()


def test_versioned_table_cdc_publishes_to_kafka(spark, tmp_path):
    """Table change feed → Kafka, end to end against the stub broker:
    publish_table_changes rides KafkaWireClient's QueueClient face, the
    change rows arrive as JSON records on the topic, and the durable
    cursor makes the second run a no-op."""
    import json as _json

    from etl_rust_spark import versions as V
    from etl_rust_spark.streaming.tables import publish_table_changes

    broker = KafkaStubBroker()
    try:
        port = broker.port
        p = str(tmp_path / "t")
        cursor = str(tmp_path / "cur")
        V.write_table_version(
            spark.createDataFrame([(1, 1, "a")], ["k", "ds", "val"]), p, "ds"
        )
        factory = lambda: KafkaWireClient("127.0.0.1", port)  # noqa: E731
        assert publish_table_changes(
            spark, p, ["k"], factory, cursor, topic="tbl"
        ) == 0  # cold start
        V.upsert_table_version(
            spark, p,
            spark.createDataFrame([(2, 2, "b")], ["k", "ds", "val"]),
            keys=["k"], partition_by="ds",
        )
        V.delete_table_version(spark, p, "k = 1")
        assert publish_table_changes(
            spark, p, ["k"], factory, cursor, topic="tbl"
        ) == 2
        c = KafkaWireClient("127.0.0.1", port)
        c.connect()
        recs = [_json.loads(v) for _k, v in c.fetch("tbl")]
        c.disconnect()
        got = {(r["k"], r["_change_type"], r["_commit_version"]) for r in recs}
        assert got == {(2, "insert", 2), (1, "delete", 3)}
        assert publish_table_changes(
            spark, p, ["k"], factory, cursor, topic="tbl"
        ) == 0  # caught up
    finally:
        broker.close()
