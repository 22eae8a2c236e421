"""Real Kafka wire protocol for the block topic source (S9) — an in-memory
broker and a client speaking the public Kafka binary protocol over a
localhost socket, plus a Structured Streaming source producing stock-
Kafka-shaped rows.

The reference consumes StreamBlock JSON from a topic through a real
consumer (es-kafka/.../KafkaBlockSource.kt:15-30, acks
Extensions.kt:10-17).  The engine's decode/ack semantics already live in
``sources/kafka.py`` (``decode_kafka_records`` + the offset-log ack
contract); this module makes the TRANSPORT real where no broker binary or
Spark Kafka connector jar exists:

- **Framing**: 4-byte length-prefixed request/response; request header
  v1 (api_key, api_version, correlation_id, nullable client_id) —
  responses matched to requests by correlation id.
- **APIs**, one version each, advertised exactly: ApiVersions v0 (key
  18), Metadata v0 (key 3), Produce v3 (key 0), Fetch v4 (key 1) and
  ListOffsets v1 (key 2, -1 latest / -2 earliest).  Any other (api,
  version) closes the connection, as a real broker does, so no request
  is ever read with another version's layout.  A fetch past the high
  watermark answers OFFSET_OUT_OF_RANGE.
- **Record format**: uncompressed RecordBatch v2 — zigzag-varint record
  framing, per-batch CRC32C over attributes..end, base+delta
  offsets/timestamps.  A batch whose attributes name a compression codec
  raises :class:`KafkaWireError` naming it; nothing decodes it wrongly.
- **Spark source** (``format("kafkawire")``): offsets are per-partition
  next-positions ``{partition: n}`` — exactly Kafka's model, so the
  checkpointed offset log gives the same at-least-once ack contract as
  the stock reader (K6); ``max_offsets_per_trigger`` throttles per poll
  (O7).  Executor tasks dial the broker themselves (one connection per
  task), so records never pass through the planning process.

Rows match the stock Kafka reader's schema (key/value binary, topic,
partition, offset, timestamp, timestampType), so ``decode_kafka_records``
composes unchanged — the transport and the semantics stay orthogonal.
"""

from __future__ import annotations

import datetime as dt
import socket
import struct
import threading
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

API_PRODUCE = 0
API_FETCH = 1
API_LIST_OFFSETS = 2
API_METADATA = 3
API_VERSIONS = 18

#: the one version the broker speaks per api key (ApiVersions answers
#: min == max == this)
ADVERTISED_VERSION = {
    API_PRODUCE: 3,
    API_FETCH: 4,
    API_LIST_OFFSETS: 1,
    API_METADATA: 0,
    API_VERSIONS: 0,
}

ERR_NONE = 0
ERR_OFFSET_OUT_OF_RANGE = 1
ERR_CORRUPT_MESSAGE = 2

TS_LATEST = -1
TS_EARLIEST = -2

#: RecordBatch attribute compression types (bits 0-2)
_CODEC_NAMES = {1: "gzip", 2: "snappy", 3: "lz4", 4: "zstd"}


class KafkaWireError(RuntimeError):
    pass


# ---------------------------------------------------------------------------
# primitive codec
# ---------------------------------------------------------------------------

def _i8(v: int) -> bytes:
    return struct.pack(">b", v)


def _i16(v: int) -> bytes:
    return struct.pack(">h", v)


def _i32(v: int) -> bytes:
    return struct.pack(">i", v)


def _i64(v: int) -> bytes:
    return struct.pack(">q", v)


def _string(s: str | None) -> bytes:
    if s is None:
        return _i16(-1)
    raw = s.encode("utf-8")
    return _i16(len(raw)) + raw


def _bytes(b: bytes | None) -> bytes:
    if b is None:
        return _i32(-1)
    return _i32(len(b)) + b


class _Cursor:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def i8(self) -> int:
        v = struct.unpack_from(">b", self.data, self.pos)[0]
        self.pos += 1
        return v

    def i16(self) -> int:
        v = struct.unpack_from(">h", self.data, self.pos)[0]
        self.pos += 2
        return v

    def i32(self) -> int:
        v = struct.unpack_from(">i", self.data, self.pos)[0]
        self.pos += 4
        return v

    def i64(self) -> int:
        v = struct.unpack_from(">q", self.data, self.pos)[0]
        self.pos += 8
        return v

    def string(self) -> str | None:
        n = self.i16()
        if n < 0:
            return None
        s = self.data[self.pos:self.pos + n].decode("utf-8")
        self.pos += n
        return s

    def bytes(self) -> bytes | None:
        n = self.i32()
        if n < 0:
            return None
        b = self.data[self.pos:self.pos + n]
        self.pos += n
        return b


# ---------------------------------------------------------------------------
# RecordBatch v2 (magic=2) — the format every current broker speaks
# ---------------------------------------------------------------------------
#
# Layout (public Kafka protocol, message format v2):
#   baseOffset i64 · batchLength i32 · partitionLeaderEpoch i32 · magic i8(=2)
#   · crc u32 (CRC32C over attributes..end) · attributes i16 ·
#   lastOffsetDelta i32 · baseTimestamp i64 · maxTimestamp i64 ·
#   producerId i64 · producerEpoch i16 · baseSequence i32 · recordCount i32 ·
#   records (each: length varint · attributes i8 · timestampDelta varlong ·
#   offsetDelta varint · keyLen varint · key · valueLen varint · value ·
#   headerCount varint · headers) — all varints ZIGZAG.
#
# The crc is CRC32C (Castagnoli, reflected poly 0x82F63B78).  Table-driven
# pure-python below; a production client would bind a C implementation,
# but batches here are test-sized.

_CRC32C_TABLE = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)
del _i, _c


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = _CRC32C_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def _varint(n: int) -> bytes:
    """Zigzag varint (Kafka record fields)."""
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while z >= 0x80:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)
    return bytes(out)


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    z = shift = 0
    while True:
        if pos >= len(data):
            raise KafkaWireError("varint truncated")
        b = data[pos]
        pos += 1
        z |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (z >> 1) ^ -(z & 1), pos


def encode_record_batch(
    records: list[tuple[int, int, bytes | None, bytes | None]],
) -> bytes:
    """``(offset, timestamp_ms, key, value)`` entries → ONE uncompressed
    RecordBatch v2 (no producer identity, no headers)."""
    if not records:
        return b""
    base_off = records[0][0]
    base_ts = min(ts for _, ts, _, _ in records)
    max_ts = max(ts for _, ts, _, _ in records)
    recs = bytearray()
    for off, ts, key, value in records:
        body = bytearray(b"\x00")  # record attributes
        body += _varint(ts - base_ts)
        body += _varint(off - base_off)
        for blob in (key, value):
            if blob is None:
                body += _varint(-1)
            else:
                body += _varint(len(blob)) + blob
        body += _varint(0)  # headers
        recs += _varint(len(body)) + body
    post_crc = (
        _i16(0)  # attrs: no compression, CREATE_TIME
        + _i32(records[-1][0] - base_off)  # lastOffsetDelta
        + _i64(base_ts) + _i64(max_ts)
        + _i64(-1) + _i16(-1) + _i32(-1)  # producer id/epoch/base sequence
        + _i32(len(records)) + recs
    )
    # batchLength counts everything after itself: leaderEpoch(4) + magic(1)
    # + crc(4) + post_crc
    return (
        _i64(base_off) + _i32(9 + len(post_crc)) + _i32(-1) + _i8(2)
        + struct.pack(">I", crc32c(post_crc)) + post_crc
    )


def decode_record_batches(
    data: bytes,
) -> list[tuple[int, int, bytes | None, bytes | None]]:
    """Concatenated RecordBatch v2 set → ``(offset, ts, key, value)``
    entries.  CRC32C verified per batch; a partial trailing batch (legal in
    Kafka fetch responses) is dropped.  A compressed batch raises."""
    out = []
    pos = 0
    while pos + 12 <= len(data):
        base = struct.unpack_from(">q", data, pos)[0]
        blen = struct.unpack_from(">i", data, pos + 8)[0]
        if blen < 9:  # must at least hold leaderEpoch+magic+crc
            raise KafkaWireError(f"corrupt batch length {blen} at {pos}")
        if pos + 12 + blen > len(data):
            break  # partial trailing batch
        batch = data[pos + 12:pos + 12 + blen]
        pos += 12 + blen
        magic = batch[4]
        if magic != 2:
            raise KafkaWireError(f"expected magic 2, got {magic}")
        crc = struct.unpack_from(">I", batch, 5)[0]
        raw = batch[9:]
        if crc != crc32c(raw):
            raise KafkaWireError(f"crc32c mismatch in batch at {base}")
        c = _Cursor(raw)
        compression = c.i16() & 0x07
        if compression:
            name = _CODEC_NAMES.get(compression, "unknown")
            raise KafkaWireError(
                f"batch at {base} is compressed ({name}, type {compression}); "
                "only uncompressed RecordBatch v2 is read"
            )
        c.i32()  # lastOffsetDelta
        base_ts = c.i64()
        c.i64()  # maxTimestamp
        c.i64()  # producerId
        c.i16()  # producerEpoch
        c.i32()  # baseSequence
        count = c.i32()
        p = c.pos
        for _ in range(count):
            rlen, p = _read_varint(raw, p)
            end = p + rlen
            p += 1  # record attributes
            ts_delta, p = _read_varint(raw, p)
            off_delta, p = _read_varint(raw, p)
            blobs = []
            for _f in range(2):
                n, p = _read_varint(raw, p)
                if n < 0:
                    blobs.append(None)
                else:
                    blobs.append(raw[p:p + n])
                    p += n
            n_headers, p = _read_varint(raw, p)
            for _h in range(n_headers):
                n, p = _read_varint(raw, p)  # header key (non-nullable)
                p += max(n, 0)
                n, p = _read_varint(raw, p)  # header value (nullable)
                p += max(n, 0)
            if p != end:
                raise KafkaWireError("record length mismatch")
            out.append((base + off_delta, base_ts + ts_delta, blobs[0], blobs[1]))
    return out


# ---------------------------------------------------------------------------
# broker
# ---------------------------------------------------------------------------

class KafkaWireBroker:
    """Single-node in-memory broker: auto-created topics, configurable
    partition count, append-only logs.  Thread-per-connection."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0, *,
                 num_partitions: int = 1):
        self._srv = socket.create_server((host, port))
        self.host, self.port = self._srv.getsockname()[:2]
        self.num_partitions = num_partitions
        # topic → partition → list[(timestamp_ms, key, value)]
        self._logs: dict[str, list[list[tuple[int, bytes | None, bytes | None]]]] = {}
        self._lock = threading.Lock()
        self._stopped = threading.Event()
        self._socks: list[socket.socket] = []
        self.connections = 0
        self._handlers = {
            API_VERSIONS: self._api_versions,
            API_METADATA: self._metadata,
            API_PRODUCE: self._produce,
            API_FETCH: self._fetch,
            API_LIST_OFFSETS: self._list_offsets,
        }
        threading.Thread(target=self._accept_loop, daemon=True).start()

    # -- log primitives ----------------------------------------------------
    def _partition(self, topic: str, partition: int):
        log = self._logs.setdefault(
            topic, [[] for _ in range(self.num_partitions)]
        )
        if not 0 <= partition < len(log):
            raise KafkaWireError(f"no partition {partition} for {topic}")
        return log[partition]

    def high_watermark(self, topic: str, partition: int) -> int:
        with self._lock:
            return len(self._partition(topic, partition))

    # -- wire loop ---------------------------------------------------------
    def _accept_loop(self) -> None:
        while not self._stopped.is_set():
            try:
                sock, _ = self._srv.accept()
            except OSError:
                return
            self.connections += 1
            self._socks.append(sock)
            threading.Thread(target=self._serve, args=(sock,), daemon=True).start()

    def _serve(self, sock: socket.socket) -> None:
        try:
            buf = b""
            while not self._stopped.is_set():
                while len(buf) < 4:
                    chunk = sock.recv(65536)
                    if not chunk:
                        return
                    buf += chunk
                n = struct.unpack_from(">i", buf, 0)[0]
                while len(buf) < 4 + n:
                    chunk = sock.recv(65536)
                    if not chunk:
                        return
                    buf += chunk
                req, buf = buf[4:4 + n], buf[4 + n:]
                sock.sendall(self._dispatch(req))
        except (OSError, KafkaWireError, struct.error):
            pass
        finally:
            sock.close()

    def _dispatch(self, req: bytes) -> bytes:
        c = _Cursor(req)
        api_key, api_version = c.i16(), c.i16()
        corr = c.i32()
        c.string()  # client_id
        if ADVERTISED_VERSION.get(api_key) != api_version:
            # a real broker closes the connection on an unsupported
            # request; _serve does on this error
            raise KafkaWireError(f"unsupported api {api_key} v{api_version}")
        resp = _i32(corr) + self._handlers[api_key](c)
        return _i32(len(resp)) + resp

    def _api_versions(self, c: _Cursor) -> bytes:
        return _i16(ERR_NONE) + _i32(len(ADVERTISED_VERSION)) + b"".join(
            _i16(k) + _i16(v) + _i16(v) for k, v in ADVERTISED_VERSION.items()
        )

    def _metadata(self, c: _Cursor) -> bytes:
        n = c.i32()
        names = [c.string() for _ in range(n)]
        with self._lock:
            if not names:
                names = sorted(self._logs)
        brokers = _i32(1) + _i32(0) + _string(self.host) + _i32(self.port)
        topics = bytearray(_i32(len(names)))
        for name in names:
            self._logs.setdefault(
                name, [[] for _ in range(self.num_partitions)]
            )
            parts = b"".join(
                _i16(ERR_NONE) + _i32(p) + _i32(0)
                + _i32(1) + _i32(0) + _i32(1) + _i32(0)  # replicas=[0] isr=[0]
                for p in range(self.num_partitions)
            )
            topics += (
                _i16(ERR_NONE) + _string(name)
                + _i32(self.num_partitions) + parts
            )
        return brokers + bytes(topics)

    def _produce(self, c: _Cursor) -> bytes:
        c.string()  # transactional_id (nullable)
        c.i16()  # acks
        c.i32()  # timeout
        n_topics = c.i32()
        topics = bytearray(_i32(n_topics))
        for _ in range(n_topics):
            name = c.string()
            n_parts = c.i32()
            parts = bytearray(_i32(n_parts))
            for _ in range(n_parts):
                pid = c.i32()
                mset = c.bytes() or b""
                try:
                    records = decode_record_batches(mset)
                except KafkaWireError:
                    err, base = ERR_CORRUPT_MESSAGE, -1
                else:
                    err = ERR_NONE
                    with self._lock:
                        plog = self._partition(name, pid)
                        base = len(plog)
                        plog.extend((ts, key, value) for _o, ts, key, value in records)
                # log_append_time -1: the producer's timestamps are kept
                parts += _i32(pid) + _i16(err) + _i64(base) + _i64(-1)
            topics += _string(name) + bytes(parts)
        return bytes(topics) + _i32(0)  # throttle_time_ms

    def _fetch(self, c: _Cursor) -> bytes:
        c.i32()  # replica_id
        c.i32()  # max_wait
        c.i32()  # min_bytes
        c.i32()  # max_bytes (response-level cap)
        c.i8()  # isolation_level: no transactions, so both levels agree
        n_topics = c.i32()
        topics = bytearray(_i32(n_topics))
        for _ in range(n_topics):
            name = c.string()
            n_parts = c.i32()
            parts = bytearray(_i32(n_parts))
            for _ in range(n_parts):
                pid, off = c.i32(), c.i64()
                max_bytes = c.i32()
                with self._lock:
                    plog = list(self._partition(name, pid))
                hw = len(plog)
                err, records, size = ERR_NONE, [], 0
                if not 0 <= off <= hw:
                    err = ERR_OFFSET_OUT_OF_RANGE
                else:
                    for o in range(off, hw):
                        ts, key, value = plog[o]
                        records.append((o, ts, key, value))
                        size += 26 + len(key or b"") + len(value or b"")
                        if size >= max_bytes:
                            break
                # last_stable_offset == hw (no transactions) and an empty
                # aborted_transactions array
                parts += (
                    _i32(pid) + _i16(err) + _i64(hw) + _i64(hw) + _i32(0)
                    + _bytes(encode_record_batch(records))
                )
            topics += _string(name) + bytes(parts)
        return _i32(0) + bytes(topics)  # throttle_time_ms

    def _list_offsets(self, c: _Cursor) -> bytes:
        c.i32()  # replica_id
        n_topics = c.i32()
        topics = bytearray(_i32(n_topics))
        for _ in range(n_topics):
            name = c.string()
            n_parts = c.i32()
            parts = bytearray(_i32(n_parts))
            for _ in range(n_parts):
                pid = c.i32()
                ts = c.i64()
                offset = self.high_watermark(name, pid) if ts == TS_LATEST else 0
                parts += _i32(pid) + _i16(ERR_NONE) + _i64(-1) + _i64(offset)
            topics += _string(name) + bytes(parts)
        return bytes(topics)

    def close(self) -> None:
        self._stopped.set()
        self._srv.close()
        for sock in self._socks:
            try:
                sock.close()
            except OSError:
                pass


# ---------------------------------------------------------------------------
# client
# ---------------------------------------------------------------------------

class KafkaWireClient:
    """Minimal protocol client: one connection, correlation-id matched
    request/response, the five APIs the broker advertises."""

    def __init__(self, host: str, port: int, client_id: str = "es-spark"):
        self.host, self.port = host, port
        self.client_id = client_id
        self._sock: socket.socket | None = None
        self._corr = 0
        self._lock = threading.Lock()

    def _connect(self) -> socket.socket:
        if self._sock is None:
            self._sock = socket.create_connection(
                (self.host, self.port), timeout=10
            )
        return self._sock

    def _recv(self, sock: socket.socket, buf: bytes, n: int) -> bytes:
        while len(buf) < n:
            chunk = sock.recv(65536)
            if not chunk:
                sock.close()
                self._sock = None
                raise KafkaWireError("connection closed by the broker")
            buf += chunk
        return buf

    def _request(self, api_key: int, body: bytes) -> _Cursor:
        with self._lock:
            sock = self._connect()
            self._corr += 1
            corr = self._corr
            req = (
                _i16(api_key) + _i16(ADVERTISED_VERSION[api_key]) + _i32(corr)
                + _string(self.client_id) + body
            )
            sock.sendall(_i32(len(req)) + req)
            buf = self._recv(sock, b"", 4)
            n = struct.unpack_from(">i", buf, 0)[0]
            buf = self._recv(sock, buf, 4 + n)
            c = _Cursor(buf[4:4 + n])
            got = c.i32()
            if got != corr:
                raise KafkaWireError(f"correlation mismatch {got} != {corr}")
            return c

    def api_versions(self) -> dict[int, tuple[int, int]]:
        c = self._request(API_VERSIONS, b"")
        err = c.i16()
        if err:
            raise KafkaWireError(f"ApiVersions error {err}")
        return {
            k: (lo, hi)
            for k, lo, hi in (
                (c.i16(), c.i16(), c.i16()) for _ in range(c.i32())
            )
        }

    def metadata(self, *topics: str) -> dict:
        """Metadata v0 for one or more topics."""
        body = _i32(len(topics)) + b"".join(_string(t) for t in topics)
        c = self._request(API_METADATA, body)
        n_brokers = c.i32()
        brokers = [
            (c.i32(), c.string(), c.i32()) for _ in range(n_brokers)
        ]
        n_topics = c.i32()
        topics = {}
        for _ in range(n_topics):
            err, name = c.i16(), c.string()
            parts = []
            for _ in range(c.i32()):
                perr, pid, leader = c.i16(), c.i32(), c.i32()
                replicas = [c.i32() for _ in range(c.i32())]
                isr = [c.i32() for _ in range(c.i32())]
                parts.append(
                    {"error": perr, "id": pid, "leader": leader,
                     "replicas": replicas, "isr": isr}
                )
            topics[name] = {"error": err, "partitions": parts}
        return {"brokers": brokers, "topics": topics}

    def produce(self, topic: str, partition: int,
                records: list[tuple[bytes | None, bytes | None, int]]) -> int:
        """``(key, value, timestamp_ms)`` records → base offset assigned
        (Produce v3, one uncompressed RecordBatch v2)."""
        entries = [(i, ts, key, value) for i, (key, value, ts) in enumerate(records)]
        body = (
            _string(None)  # transactional_id
            + _i16(1) + _i32(10000)  # acks=1, timeout
            + _i32(1) + _string(topic)
            + _i32(1) + _i32(partition) + _bytes(encode_record_batch(entries))
        )
        c = self._request(API_PRODUCE, body)
        c.i32()  # topic count (1)
        c.string()
        c.i32()  # partition count (1)
        c.i32()  # partition id
        err = c.i16()
        if err:
            raise KafkaWireError(f"produce error {err}")
        return c.i64()

    def fetch(self, topic: str, partition: int, offset: int,
              max_bytes: int = 1 << 20):
        """Fetch v4 → (high_watermark, [(offset, timestamp, key, value), …]).
        An offset past the high watermark raises (OFFSET_OUT_OF_RANGE);
        one equal to it answers an empty list."""
        body = (
            _i32(-1) + _i32(0) + _i32(0) + _i32(max_bytes)
            + _i8(0)  # isolation_level: read_uncommitted
            + _i32(1) + _string(topic)
            + _i32(1) + _i32(partition) + _i64(offset) + _i32(max_bytes)
        )
        c = self._request(API_FETCH, body)
        c.i32()  # throttle_time
        c.i32()  # topic count
        c.string()
        c.i32()  # partition count
        c.i32()  # partition id
        err = c.i16()
        if err:
            raise KafkaWireError(f"fetch error {err} at offset {offset}")
        hw = c.i64()
        c.i64()  # last_stable_offset
        for _ in range(c.i32()):  # aborted_transactions
            c.i64(), c.i64()
        return hw, decode_record_batches(c.bytes() or b"")

    def list_offsets(self, topic: str, partition: int,
                     ts: int = TS_LATEST) -> int:
        """ListOffsets v1: the latest (``TS_LATEST``) or earliest offset."""
        body = (
            _i32(-1) + _i32(1) + _string(topic)
            + _i32(1) + _i32(partition) + _i64(ts)
        )
        c = self._request(API_LIST_OFFSETS, body)
        c.i32()  # topic count
        c.string()
        c.i32()  # partition count
        c.i32()  # partition id
        err = c.i16()
        if err:
            raise KafkaWireError(f"list_offsets error {err}")
        c.i64()  # timestamp
        return c.i64()

    def close(self) -> None:
        if self._sock is not None:
            self._sock.close()
            self._sock = None


# ---------------------------------------------------------------------------
# Spark streaming source
# ---------------------------------------------------------------------------

SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)


class _FetchRange(InputPartition):
    def __init__(self, host: str, port: int, topic: str, partition: int,
                 start: int, end: int):
        self.host, self.port = host, port
        self.topic, self.partition = topic, partition
        self.start, self.end = start, end


class KafkaWireStreamReader(DataSourceStreamReader):
    """Per-partition next-offset tracking — Kafka's own offset model, so
    the checkpoint log carries the same at-least-once ack contract as the
    stock reader (commit happens only after the sink succeeds)."""

    def __init__(self, options: dict):
        servers = options.get("bootstrap") or options.get(
            "kafka.bootstrap.servers"
        )
        if not servers:
            raise ValueError("kafkawire needs bootstrap (host:port)")
        host, _, port = servers.rpartition(":")
        self.host, self.port = host or "localhost", int(port)
        self.topic = options.get("topic") or options.get("subscribe")
        if not self.topic:
            raise ValueError("kafkawire needs topic")
        self.starting = options.get("starting_offsets", "earliest")
        self.max_per_trigger = int(options.get("max_offsets_per_trigger", 0)) or None
        self._client: KafkaWireClient | None = None
        self._n_parts: int | None = None
        self._last: dict[str, int] = {}  # last offsets reported to the planner

    def _c(self) -> KafkaWireClient:
        if self._client is None:
            self._client = KafkaWireClient(self.host, self.port)
        return self._client

    def _partitions(self) -> int:
        if self._n_parts is None:
            md = self._c().metadata(self.topic)
            self._n_parts = len(md["topics"][self.topic]["partitions"])
        return self._n_parts

    def initialOffset(self) -> dict:
        ts = TS_EARLIEST if self.starting == "earliest" else TS_LATEST
        self._last = {
            str(p): self._c().list_offsets(self.topic, p, ts)
            for p in range(self._partitions())
        }
        return dict(self._last)

    def latestOffset(self) -> dict:
        """Head per partition — THROTTLED here, not in partitions():
        the planner checkpoints whatever this returns as the batch end, so
        clamping later would silently skip the gap (an offset is an ack)."""
        for p in range(self._partitions()):
            head = self._c().list_offsets(self.topic, p, TS_LATEST)
            prev = self._last.get(str(p), 0)
            if self.max_per_trigger is not None:
                head = min(head, prev + self.max_per_trigger)
            self._last[str(p)] = max(prev, head)
        return dict(self._last)

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        out = []
        for p_str, lo in start.items():
            hi = end.get(p_str, lo)
            if hi > lo:
                out.append(_FetchRange(
                    self.host, self.port, self.topic, int(p_str), lo, hi,
                ))
        return out

    def read(self, partition: _FetchRange) -> Iterator[tuple]:
        """Rows at offsets ``[start, end)``.  A log that ends before
        ``end`` raises: the batch must fail, not commit ``end`` as read."""
        client = KafkaWireClient(partition.host, partition.port)
        try:
            offset = partition.start
            while offset < partition.end:
                _hw, records = client.fetch(
                    partition.topic, partition.partition, offset
                )
                if not records:
                    raise KafkaWireError(
                        f"{partition.topic}/{partition.partition} ends at "
                        f"offset {offset}, before the planned end "
                        f"{partition.end}"
                    )
                for off, ts, key, value in records:
                    if off >= partition.end:
                        return
                    stamp = dt.datetime.fromtimestamp(
                        max(ts, 0) / 1000.0, dt.timezone.utc
                    ).replace(tzinfo=None)
                    yield (
                        key, value, partition.topic, partition.partition,
                        off, stamp, 0,
                    )
                    offset = off + 1
        finally:
            client.close()

    def commit(self, end: dict) -> None:
        pass  # the checkpoint offset log is the ack ledger

    def stop(self) -> None:
        """Close the driver-side client that offset planning opened."""
        if self._client is not None:
            self._client.close()
            self._client = None


class KafkaWireDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "kafkawire"

    def schema(self) -> str:
        return SCHEMA

    def streamReader(self, schema) -> DataSourceStreamReader:
        return KafkaWireStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(KafkaWireDataSource)


def kafka_wire_block_source(
    spark,
    servers: str,
    topic: str,
    *,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    drop_corrupt: bool = False,
):
    """S9 over the real wire: stream the topic through the kafkawire
    source and decode with the same fixed-schema path as the stock reader
    (KafkaBlockSource.kt:15-30 parity, transport included)."""
    from event_stream_spark.sources.kafka import decode_kafka_records

    register(spark)
    reader = (
        spark.readStream.format("kafkawire")
        .option("bootstrap", servers)
        .option("topic", topic)
        .option("starting_offsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option(
            "max_offsets_per_trigger", str(max_offsets_per_trigger)
        )
    return decode_kafka_records(reader.load(), drop_corrupt=drop_corrupt)
