"""Real Kafka wire protocol (S9): RecordBatch v2 codec, broker/client
protocol exchange over the five advertised APIs, and the Spark streaming
source end-to-end with corrupt routing, throttling and checkpoint resume.

Parity targets: es-kafka/.../KafkaBlockSource.kt:15-30 (consume + decode),
KafkaSourceTests.kt:37-286 (SerializationException → corrupt routing),
stream/Extensions.kt:10-17 (at-least-once ack, here the offset log).
"""

from __future__ import annotations

import json
import os
import socket
import struct
import time

import pytest

from event_stream_spark.sources.kafkawire import (
    API_PRODUCE,
    ERR_CORRUPT_MESSAGE,
    TS_EARLIEST,
    TS_LATEST,
    KafkaWireBroker,
    KafkaWireClient,
    KafkaWireError,
    KafkaWireStreamReader,
    _bytes,
    _FetchRange,
    _i16,
    _i32,
    _read_varint,
    _string,
    _varint,
    crc32c,
    decode_record_batches,
    encode_record_batch,
    kafka_wire_block_source,
)


def test_crc32c_spec_vectors():
    """RFC 3720 §B.4 / Castagnoli check values."""
    assert crc32c(b"") == 0
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"\x00" * 32) == 0x8A9136AA  # iSCSI all-zeros vector
    assert crc32c(b"\xff" * 32) == 0x62A8AB43  # iSCSI all-ones vector


def test_zigzag_varint_vectors():
    """Protobuf/Kafka zigzag varint encoding vectors + round-trip."""
    vectors = {
        0: b"\x00", -1: b"\x01", 1: b"\x02", -2: b"\x03",
        2: b"\x04", 63: b"\x7e", -64: b"\x7f", 64: b"\x80\x01",
        -65: b"\x81\x01", 300: b"\xd8\x04",
    }
    for n, blob in vectors.items():
        assert _varint(n) == blob, n
        got, pos = _read_varint(blob, 0)
        assert (got, pos) == (n, len(blob))
    for n in (-(1 << 62), -12345, 0, 12345, (1 << 62)):
        got, _pos = _read_varint(_varint(n), 0)
        assert got == n


def test_record_batch_v2_layout_and_roundtrip():
    records = [
        (100, 1650000000000, b"k0", b"v0"),
        (101, 1650000000005, None, b"null-key"),
        (102, 1650000000001, b"k2", None),
    ]
    blob = encode_record_batch(records)
    # fixed-header layout: baseOffset i64 · batchLength i32 ·
    # partitionLeaderEpoch i32 · magic i8(=2)
    assert struct.unpack_from(">q", blob, 0)[0] == 100  # baseOffset
    blen = struct.unpack_from(">i", blob, 8)[0]
    assert 12 + blen == len(blob)  # batchLength covers the rest exactly
    assert blob[16] == 2  # magic
    assert struct.unpack_from(">h", blob, 21)[0] == 0  # attributes: uncompressed
    # recordCount at fixed offset 57 (after crc4+attrs2+delta4+ts8+ts8+
    # pid8+epoch2+seq4 from byte 21)
    assert struct.unpack_from(">i", blob, 57)[0] == 3

    assert decode_record_batches(blob) == records

    # CRC32C integrity: any payload flip is caught
    bad = bytearray(blob)
    bad[-1] ^= 0xFF
    with pytest.raises(KafkaWireError, match="crc32c"):
        decode_record_batches(bytes(bad))

    # concatenated batches decode in sequence; a partial trailing batch
    # (mid-batch fetch cut) is dropped, not an error
    two = encode_record_batch(records) + encode_record_batch(
        [(103, 1650000000009, b"k3", b"v3")]
    )
    assert decode_record_batches(two) == records + [
        (103, 1650000000009, b"k3", b"v3")
    ]
    assert decode_record_batches(two[:-5]) == records


def test_produce_v3_fetch_v4_roundtrip():
    """RecordBatch v2 end-to-end through the broker: Produce v3 appends,
    Fetch v4 serves the log back as v2 batches."""
    broker = KafkaWireBroker()
    client = KafkaWireClient(broker.host, broker.port)
    try:
        assert client.produce(
            "blocks", 0, [(b"k1", b"v1", 1000), (None, b"v2", 2000)]
        ) == 0
        assert client.produce("blocks", 0, [(b"k3", None, 3000)]) == 2

        hw, recs = client.fetch("blocks", 0, 0)
        assert hw == 3
        assert recs == [
            (0, 1000, b"k1", b"v1"),
            (1, 2000, None, b"v2"),
            (2, 3000, b"k3", None),
        ]
    finally:
        client.close()
        broker.close()


def _raw_request(broker, api_key: int, version: int, body: bytes) -> bytes:
    """Send one request on a fresh connection; the broker's answer, or
    b"" when it closed the connection instead."""
    with socket.create_connection((broker.host, broker.port), timeout=10) as s:
        req = _i16(api_key) + _i16(version) + _i32(7) + _string("raw") + body
        s.sendall(_i32(len(req)) + req)
        return s.recv(65536)


def test_broker_client_protocol_exchange():
    broker = KafkaWireBroker(num_partitions=2)
    client = KafkaWireClient(broker.host, broker.port)
    try:
        # exactly the five (api, version) pairs, one version each
        assert client.api_versions() == {
            0: (3, 3), 1: (4, 4), 2: (1, 1), 3: (0, 0), 18: (0, 0),
        }

        md = client.metadata("blocks")
        assert md["brokers"] == [(0, broker.host, broker.port)]
        assert len(md["topics"]["blocks"]["partitions"]) == 2

        base = client.produce(
            "blocks", 0,
            [(b"k1", b"v1", 1000), (None, b"v2", 2000)],
        )
        assert base == 0
        assert client.produce("blocks", 0, [(b"k3", b"v3", 3000)]) == 2
        assert client.produce("blocks", 1, [(b"p1", b"pv", 4000)]) == 0

        assert client.list_offsets("blocks", 0, TS_EARLIEST) == 0
        assert client.list_offsets("blocks", 0, TS_LATEST) == 3
        assert client.list_offsets("blocks", 1, TS_LATEST) == 1

        hw, records = client.fetch("blocks", 0, 1)
        assert hw == 3
        assert records == [(1, 2000, None, b"v2"), (2, 3000, b"k3", b"v3")]

        hw, records = client.fetch("blocks", 0, 3)  # at the head: empty
        assert (hw, records) == (3, [])
        # one TCP connection served every request
        assert broker.connections == 1

        # an unadvertised version is refused (connection closed, no
        # answer), never read with another version's layout: Produce v2
        # has no transactional_id, v4 has v3's layout
        batch = encode_record_batch([(0, 5000, b"x", b"y")])
        topics = _i32(1) + _string("blocks") + _i32(1) + _i32(0) + _bytes(batch)
        v2 = _i16(1) + _i32(10000) + topics
        v4 = _string(None) + v2
        assert _raw_request(broker, API_PRODUCE, 2, v2) == b""
        assert _raw_request(broker, API_PRODUCE, 4, v4) == b""
        assert broker.high_watermark("blocks", 0) == 3
        # the same body at the advertised version is answered
        assert _raw_request(broker, API_PRODUCE, 3, v4) != b""
        assert broker.high_watermark("blocks", 0) == 4
    finally:
        client.close()
        broker.close()


def test_fetch_past_the_log_end_fails_loud():
    """A fetch offset past the high watermark answers OFFSET_OUT_OF_RANGE
    (error 1), and a planned range the log cannot serve fails the read
    instead of ending it early — else the batch would commit its planned
    end offset as read."""
    broker = KafkaWireBroker()
    client = KafkaWireClient(broker.host, broker.port)
    try:
        client.produce("t", 0, [(b"k", b"v", 1000)])
        assert client.fetch("t", 0, 1) == (1, [])  # at the head: empty
        with pytest.raises(KafkaWireError, match="fetch error 1 "):
            client.fetch("t", 0, 9)

        reader = KafkaWireStreamReader(
            {"bootstrap": f"{broker.host}:{broker.port}", "topic": "t"}
        )
        covered = _FetchRange(broker.host, broker.port, "t", 0, 0, 1)
        assert [r[4] for r in reader.read(covered)] == [0]
        rows = []
        short = _FetchRange(broker.host, broker.port, "t", 0, 0, 5)
        with pytest.raises(KafkaWireError, match="before the planned end 5"):
            for row in reader.read(short):
                rows.append(row)
        assert [r[4] for r in rows] == [0]
        past = _FetchRange(broker.host, broker.port, "t", 0, 3, 5)
        with pytest.raises(KafkaWireError, match="fetch error 1 "):
            list(reader.read(past))
    finally:
        client.close()
        broker.close()


def test_stream_reader_stop_closes_its_client():
    """``stop()`` closes the client that ``initialOffset``/``latestOffset``
    opened on the driver: its socket is closed at once, and a dropped
    reader leaves no socket for the garbage collector to find open."""
    import gc
    import warnings

    broker = KafkaWireBroker()
    producer = KafkaWireClient(broker.host, broker.port)
    try:
        producer.produce("t", 0, [(b"k", b"v", 1000)])
        gc.collect()
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always", ResourceWarning)
            reader = KafkaWireStreamReader(
                {"bootstrap": f"{broker.host}:{broker.port}", "topic": "t"}
            )
            assert reader.initialOffset() == {"0": 0}
            assert reader.latestOffset() == {"0": 1}
            sock = reader._client._sock
            reader.stop()
            assert reader._client is None and sock.fileno() == -1
            reader.stop()  # a second stop is a no-op
            del reader, sock
            gc.collect()
    finally:
        producer.close()
        broker.close()
    leaked = [str(w.message) for w in caught if issubclass(w.category, ResourceWarning)]
    assert leaked == []


def _with_compression(batch: bytes, ctype: int) -> bytes:
    """``batch`` with its attributes naming compression ``ctype`` (records
    left as they are) and a CRC32C that matches again."""
    post = bytearray(batch[21:])  # attributes..end
    struct.pack_into(">h", post, 0, ctype)
    return batch[:17] + struct.pack(">I", crc32c(bytes(post))) + bytes(post)


@pytest.mark.parametrize(
    "ctype,name", [(1, "gzip"), (2, "snappy"), (3, "lz4"), (4, "zstd")]
)
def test_compressed_batch_fails_loud_without_poisoning_prior_records(
    ctype, name
):
    """A batch whose attributes name a compression type raises
    ``KafkaWireError`` naming it — an exception, not skipped or misread
    records, so a streaming microbatch that hits it fails and its offsets
    are never committed — and the batch before it still decodes."""
    good = encode_record_batch([(0, 1000, b"k0", b"v0")])
    bad = _with_compression(encode_record_batch([(1, 1000, b"k", b"v")]), ctype)

    match = rf"compressed \({name}, type {ctype}\)"
    with pytest.raises(KafkaWireError, match=match):
        decode_record_batches(bad)
    with pytest.raises(KafkaWireError, match=match):
        decode_record_batches(good + bad)
    assert decode_record_batches(good) == [(0, 1000, b"k0", b"v0")]

    # the broker refuses such a produce whole and appends nothing
    broker = KafkaWireBroker()
    client = KafkaWireClient(broker.host, broker.port)
    try:
        body = (
            _string(None) + _i16(1) + _i32(10000) + _i32(1) + _string("t")
            + _i32(1) + _i32(0) + _bytes(good + bad)
        )
        c = client._request(API_PRODUCE, body)
        c.i32(), c.string(), c.i32(), c.i32()
        assert c.i16() == ERR_CORRUPT_MESSAGE
        assert broker.high_watermark("t", 0) == 0
    finally:
        client.close()
        broker.close()


def _stream_block(height: int) -> bytes:
    return json.dumps({
        "height": height,
        "historical": True,
        "block_events": [],
        "tx_events": [],
        "tx_errors": [],
    }).encode()


def _pump_query(q, done, timeout_s: float = 30.0) -> bool:
    t0 = time.time()
    while time.time() - t0 < timeout_s:
        if done():
            return True
        time.sleep(0.05)
    return False


def test_kafka_wire_spark_source_end_to_end(spark):
    """S9 over the real wire: StreamBlock JSON produced through the Kafka
    protocol arrives via the kafkawire source, decodes with the stock
    fixed-schema path, routes corrupt bytes, and picks up mid-stream
    produces (the poll loop advancing the offset ledger)."""
    broker = KafkaWireBroker()
    client = KafkaWireClient(broker.host, broker.port)
    servers = f"{broker.host}:{broker.port}"
    client.produce("blocks", 0, [
        (f"chain-1.{h}".encode(), _stream_block(h), 1650000000000 + h)
        for h in range(1, 6)
    ])
    client.produce("blocks", 0, [(b"chain-1.x", b"\x00 not json", 1)])

    seen: list[tuple] = []
    df = kafka_wire_block_source(spark, servers, "blocks")
    q = (
        df.select("record_key", "corrupt", "block.height")
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, _id: seen.extend(
            (r["record_key"], r["corrupt"], r["height"]) for r in b.collect()
        ))
        .start()
    )
    try:
        assert _pump_query(q, lambda: len(seen) >= 6), "initial records missing"
        client.produce("blocks", 0, [
            (b"chain-1.7", _stream_block(7), 1650000000007)
        ])
        assert _pump_query(q, lambda: len(seen) >= 7), "mid-stream produce missing"
    finally:
        q.stop()
        client.close()
        broker.close()

    heights = sorted(h for _k, c, h in seen if not c)
    assert heights == [1, 2, 3, 4, 5, 7]
    corrupt = [k for k, c, _h in seen if c]
    assert corrupt == ["chain-1.x"]


def test_kafka_wire_throttle_caps_batches(spark):
    """O7 over the wire: max_offsets_per_trigger bounds each microbatch."""
    broker = KafkaWireBroker()
    client = KafkaWireClient(broker.host, broker.port)
    servers = f"{broker.host}:{broker.port}"
    client.produce("blocks", 0, [
        (str(h).encode(), _stream_block(h), 1000 + h) for h in range(10)
    ])
    batches: list[int] = []
    df = kafka_wire_block_source(
        spark, servers, "blocks", max_offsets_per_trigger=3
    )
    q = (
        df.writeStream.outputMode("append")
        .foreachBatch(lambda b, _id: batches.append(b.count()))
        .start()
    )
    try:
        assert _pump_query(q, lambda: sum(batches) >= 10)
    finally:
        q.stop()
        client.close()
        broker.close()
    assert max(b for b in batches if b) <= 3


def test_kafka_wire_restart_resumes_at_checkpoint(spark, tmp_path):
    """K6 through the offset log: an ``availableNow`` run over
    ``format("kafkawire")`` into the Kafka-fed splay sink, then a second
    run on the same checkpoint after the topic grew.  Each run sees only
    its new records, and the splay directory ends with exactly one file
    per height."""
    from event_stream_spark.sinks.splay import write_kafka_fed_splay_batch
    from event_stream_spark.sources import kafkawire

    kafkawire.register(spark)
    broker = KafkaWireBroker()
    client = KafkaWireClient(broker.host, broker.port)
    out = str(tmp_path / "splay")

    def produce(lo: int, hi: int) -> None:
        client.produce("blocks", 0, [
            (f"chain-1.{h}".encode(), _stream_block(h), 1650000000000 + h)
            for h in range(lo, hi)
        ])

    def run() -> list[int]:
        seen: list[int] = []

        def batch(b, _id):
            seen.extend(
                int(bytes(r.key).split(b".")[1]) for r in b.select("key").collect()
            )
            write_kafka_fed_splay_batch(b, out)

        stream = (
            spark.readStream.format("kafkawire")
            .option("bootstrap", f"{broker.host}:{broker.port}")
            .option("topic", "blocks")
            .load()
        )
        q = (
            stream.writeStream.foreachBatch(batch)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "availableNow run did not finish"
        assert q.exception() is None
        return sorted(seen)

    try:
        produce(1, 11)
        assert run() == list(range(1, 11))
        produce(11, 15)
        assert run() == list(range(11, 15))  # resumed at the checkpoint
    finally:
        client.close()
        broker.close()
    names = [f for _d, _s, fs in os.walk(out) for f in fs]
    assert sorted(names) == [f"{h:010d}.json" for h in range(1, 15)]
