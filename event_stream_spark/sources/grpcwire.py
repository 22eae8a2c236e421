"""Real gRPC transport for the polling block source (S10) — unary calls
over actual HTTP/2 framing on a localhost socket.

The reference's gRPC flow (es-grpc/.../flows/grpc/GrpcBlockFlow.kt:26-66)
is the S3/S4 polling composition with the FETCHER swapped to a protobuf
service client (``pbClient.tendermintService.getBlockByHeight``).  Here the
fetcher is the built-in node backend ``backend="grpc"`` behind
``blockstream._make_node``, and this module makes the transport real:

- **HTTP/2**: connection preface, SETTINGS exchange + ACK, HEADERS/DATA/
  trailers per stream, odd client stream ids, PING answered, GOAWAY
  honored — ``sources/http2.py`` (RFC 7540/7541 subset, stdlib only).
- **gRPC framing**: each message is the 5-byte length-prefix (compression
  flag + u32 length) around a protobuf payload; request headers are
  ``:method POST, :path /<service>/<method>, content-type
  application/grpc, te trailers``; the response ends with trailers
  carrying ``grpc-status`` (0 = OK, 5 = NOT_FOUND, 12 = UNIMPLEMENTED)
  per the public gRPC-over-HTTP/2 spec.
- **Protobuf**: the writer helpers below; messages are read with
  ``operators/txmeta.py``'s wire-format reader, which raises on truncated
  input.  The messages are a pragmatic subset of the Tendermint block
  protos — Header{chain_id=1, height=2, time=3, proposer_address=4},
  Data{txs=1 repeated bytes}, Block{header=1, data=2}, and
  Results{height=1, txs_results=2, begin_block_events=3} with
  TxResult{code=1, log=3, events=7}, Event{type=1, attributes=2},
  EventAttribute{key=1, value=2, index=3}.  The full Tendermint proto tree
  is out of scope; the subset carries exactly the fields the shared decode
  path reads.

Service surface (mirrors the cometbft BlockService shape):
``/es.BlockService/GetLatestHeight`` (Empty → {height=1}) and
``/es.BlockService/GetBlockByHeight`` ({height=1} → {block=1, results=2};
results absent when the node has none).

``GrpcBlockServer(node)`` serves an inner content node, as
``rpcnode.RpcNodeServer(node)`` does over HTTP, so every transport returns
the node's own (block_json, block_results_json) pair byte for byte.
``GrpcNode`` keeps ONE HTTP/2 connection per instance and multiplexes
calls as new streams — tasks planned over many heights pay one dial, not
one per height.
"""

from __future__ import annotations

import base64
import json
import socket
import threading

from event_stream_spark.operators.txmeta import _fields
from event_stream_spark.sources.http2 import (
    FLAG_ACK,
    FLAG_END_HEADERS,
    FLAG_END_STREAM,
    FRAME_DATA,
    FRAME_GOAWAY,
    FRAME_HEADERS,
    FRAME_PING,
    FRAME_RST_STREAM,
    FRAME_SETTINGS,
    FRAME_WINDOW_UPDATE,
    PREFACE,
    FrameReader,
    H2ProtocolError,
    HpackDecoder,
    HpackEncoder,
    encode_frame,
)
from event_stream_spark.streaming.retry import retry_node_call

GRPC_OK = 0
GRPC_NOT_FOUND = 5
GRPC_UNIMPLEMENTED = 12


# ---------------------------------------------------------------------------
# protobuf wire coding (writer side of the txmeta.py reader)
# ---------------------------------------------------------------------------

def _varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def pb_varint(field: int, v: int) -> bytes:
    return _tag(field, 0) + _varint(v) if v else b""  # proto3 default elision


def pb_bytes(field: int, v: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(v)) + v if v else b""


def pb_str(field: int, v: str) -> bytes:
    return pb_bytes(field, v.encode("utf-8"))


def pb_msg(field: int, v: bytes) -> bytes:
    """Nested message — emitted even when empty (presence matters)."""
    return _tag(field, 2) + _varint(len(v)) + v


def grpc_frame(message: bytes) -> bytes:
    """The 5-byte gRPC message prefix: compression flag 0 + u32 length."""
    return b"\x00" + len(message).to_bytes(4, "big") + message


def grpc_unframe(data: bytes) -> list[bytes]:
    msgs, pos = [], 0
    while pos < len(data):
        if data[pos] != 0:
            raise ValueError("compressed gRPC message not supported")
        n = int.from_bytes(data[pos + 1:pos + 5], "big")
        msgs.append(data[pos + 5:pos + 5 + n])
        pos += 5 + n
    return msgs


# ---------------------------------------------------------------------------
# the block service messages (pragmatic Tendermint subset)
# ---------------------------------------------------------------------------

def _b64(raw: bytes) -> str:
    return base64.b64encode(raw).decode()


def _scalars(buf: bytes) -> dict:
    """Field number → value; the last occurrence wins, as for proto3
    scalars."""
    return {field: v for field, _w, v in _fields(buf)}


def _encode_event(event: dict) -> bytes:
    return pb_str(1, event["type"]) + b"".join(
        pb_msg(2, pb_bytes(1, base64.b64decode(attr["key"] or ""))
               + pb_bytes(2, base64.b64decode(attr["value"] or ""))
               + pb_varint(3, int(bool(attr.get("index")))))
        for attr in event["attributes"]
    )


def _decode_event(buf: bytes) -> dict:
    etype, attrs = "", []
    for field, _w, v in _fields(buf):
        if field == 1:
            etype = v.decode()
        elif field == 2:
            attr = _scalars(v)
            attrs.append({
                "key": _b64(attr.get(1, b"")),
                "value": _b64(attr.get(2, b"")),
                "index": bool(attr.get(3, 0)),
            })
    return {"type": etype, "attributes": attrs}


def _pair_to_proto(block_json: str, results_json: str | None) -> bytes:
    """The canonical (block_json, block_results_json) pair →
    GetBlockByHeightResponse; missing results leave field 2 absent."""
    block = json.loads(block_json)["result"]["block"]
    hdr = block["header"]
    header = (
        pb_str(1, hdr["chain_id"])
        + pb_varint(2, int(hdr["height"]))
        + pb_str(3, hdr["time"])
        + pb_str(4, hdr["proposer_address"])
    )
    data = b"".join(
        pb_bytes(1, base64.b64decode(tx)) for tx in block["data"]["txs"] or []
    )
    out = pb_msg(1, pb_msg(1, header) + pb_msg(2, data))
    if results_json is None:
        return out
    res = json.loads(results_json)["result"]
    tx_results = b"".join(
        pb_msg(2, pb_varint(1, r["code"]) + pb_str(3, r["log"]) + b"".join(
            pb_msg(7, _encode_event(e)) for e in r["events"] or []
        ))
        for r in res["txs_results"] or []
    )
    begin_events = b"".join(
        pb_msg(3, _encode_event(e)) for e in res.get("begin_block_events") or []
    )
    return out + pb_msg(2, pb_varint(1, int(res["height"])) + tx_results + begin_events)


def _proto_to_pair(payload: bytes, height: int) -> tuple[str, str | None]:
    """GetBlockByHeightResponse → the canonical (block_json,
    block_results_json) pair, key order included, as the JSON backends
    emit it."""
    block_pb, results_pb = b"", None
    for field, _w, v in _fields(payload):
        if field == 1:
            block_pb = v
        elif field == 2:
            results_pb = v

    header, txs = {}, []
    for field, _w, v in _fields(block_pb):
        if field == 1:
            header = _scalars(v)
        elif field == 2:
            txs = [_b64(tx) for f, _w2, tx in _fields(v) if f == 1]
    block = {
        "jsonrpc": "2.0",
        "result": {
            "block": {
                "header": {
                    "chain_id": header.get(1, b"").decode(),
                    "height": str(header.get(2, height)),
                    "time": header.get(3, b"").decode(),
                    "proposer_address": header.get(4, b"").decode(),
                },
                "data": {"txs": txs},
            }
        },
    }
    if results_pb is None:
        return json.dumps(block), None

    results_height, txs_results, begin_events = height, [], []
    for field, _w, v in _fields(results_pb):
        if field == 1:
            results_height = v
        elif field == 2:
            tx_result = {"code": 0, "log": "", "events": []}
            for f2, _w2, v2 in _fields(v):
                if f2 == 1:
                    tx_result["code"] = v2
                elif f2 == 3:
                    tx_result["log"] = v2.decode()
                elif f2 == 7:
                    tx_result["events"].append(_decode_event(v2))
            txs_results.append(tx_result)
        elif field == 3:
            begin_events.append(_decode_event(v))
    results = {
        "jsonrpc": "2.0",
        "result": {
            "height": str(results_height),
            "txs_results": txs_results,
            "begin_block_events": begin_events,
        },
    }
    return json.dumps(block), json.dumps(results)


# ---------------------------------------------------------------------------
# server
# ---------------------------------------------------------------------------

SERVICE = "es.BlockService"


class GrpcBlockServer:
    """A gRPC service over real HTTP/2 frames serving an inner content node
    (as ``rpcnode.RpcNodeServer`` does over HTTP): GetLatestHeight answers
    ``node.head()``, GetBlockByHeight encodes ``node.fetch(h)``, and a
    missing block answers grpc-status NOT_FOUND.  Thread-per-connection;
    streams on a connection are served in arrival order (unary calls — no
    long-lived streams)."""

    def __init__(self, node, host: str = "127.0.0.1", port: int = 0):
        self.node = node
        self._srv = socket.create_server((host, port))
        self.host, self.port = self._srv.getsockname()[:2]
        self.connections = 0
        self.calls = 0
        self.unimplemented = 0
        self._stopped = threading.Event()
        self._socks: list[socket.socket] = []
        threading.Thread(target=self._accept_loop, daemon=True).start()

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
            # client preface then frames
            buf = b""
            while len(buf) < len(PREFACE):
                chunk = sock.recv(65536)
                if not chunk:
                    return
                buf += chunk
            if not buf.startswith(PREFACE):
                sock.close()
                return
            sock.sendall(encode_frame(FRAME_SETTINGS, 0, 0, b""))
            reader = FrameReader()
            dec = HpackDecoder()
            enc = HpackEncoder()
            streams: dict[int, dict] = {}
            frames = reader.feed(buf[len(PREFACE):])
            while not self._stopped.is_set():
                for ftype, flags, sid, payload in frames:
                    if ftype == FRAME_SETTINGS and not flags & FLAG_ACK:
                        sock.sendall(encode_frame(FRAME_SETTINGS, FLAG_ACK, 0, b""))
                    elif ftype == FRAME_PING and not flags & FLAG_ACK:
                        sock.sendall(encode_frame(FRAME_PING, FLAG_ACK, 0, payload))
                    elif ftype == FRAME_GOAWAY:
                        sock.close()
                        return
                    elif ftype == FRAME_HEADERS:
                        if not flags & FLAG_END_HEADERS:
                            raise H2ProtocolError("CONTINUATION not implemented")
                        streams[sid] = {
                            "headers": dict(dec.decode(payload)),
                            "data": b"",
                        }
                        if flags & FLAG_END_STREAM:
                            self._respond(sock, enc, sid, streams.pop(sid))
                    elif ftype == FRAME_DATA:
                        st = streams.get(sid)
                        if st is None:
                            continue
                        st["data"] += payload
                        if flags & FLAG_END_STREAM:
                            self._respond(sock, enc, sid, streams.pop(sid))
                    elif ftype in (FRAME_WINDOW_UPDATE, FRAME_RST_STREAM):
                        pass
                chunk = sock.recv(65536)
                if not chunk:
                    return
                frames = reader.feed(chunk)
        except (OSError, H2ProtocolError, ValueError):
            pass
        finally:
            sock.close()

    def _respond(self, sock, enc: HpackEncoder, sid: int, st: dict) -> None:
        self.calls += 1
        path = st["headers"].get(":path", "")
        msgs = grpc_unframe(st["data"])
        request = _scalars(msgs[0]) if msgs else {}
        if path == f"/{SERVICE}/GetLatestHeight":
            body = pb_varint(1, self.node.head())
        elif path == f"/{SERVICE}/GetBlockByHeight":
            height = request.get(1, 0)
            block, results = self.node.fetch(height)
            if block is None:
                self._send_status(sock, enc, sid, GRPC_NOT_FOUND,
                                  f"no block at height {height}")
                return
            body = _pair_to_proto(block, results)
        else:
            self.unimplemented += 1
            self._send_status(sock, enc, sid, GRPC_UNIMPLEMENTED,
                              f"unknown method {path}")
            return
        resp_headers = enc.encode([
            (":status", "200"),
            ("content-type", "application/grpc"),
        ])
        trailers = enc.encode([("grpc-status", str(GRPC_OK))])
        sock.sendall(
            encode_frame(FRAME_HEADERS, FLAG_END_HEADERS, sid, resp_headers)
            + encode_frame(FRAME_DATA, 0, sid, grpc_frame(body))
            + encode_frame(FRAME_HEADERS, FLAG_END_HEADERS | FLAG_END_STREAM,
                           sid, trailers)
        )

    @staticmethod
    def _send_status(sock, enc: HpackEncoder, sid: int, status: int,
                     message: str) -> None:
        """A trailers-only response: the call ends with ``status``."""
        trailers = enc.encode([
            (":status", "200"),
            ("content-type", "application/grpc"),
            ("grpc-status", str(status)),
            ("grpc-message", message),
        ])
        sock.sendall(encode_frame(
            FRAME_HEADERS, FLAG_END_HEADERS | FLAG_END_STREAM, sid, trailers
        ))

    def close(self) -> None:
        self._stopped.set()
        self._srv.close()
        for sock in self._socks:
            try:
                sock.close()
            except OSError:
                pass


# ---------------------------------------------------------------------------
# client / node backend
# ---------------------------------------------------------------------------

class GrpcStatusError(RuntimeError):
    def __init__(self, status: int, message: str):
        super().__init__(f"grpc-status {status}: {message}")
        self.status = status


class GrpcNode:
    """Node backend speaking real gRPC (``backend="grpc"``, option
    ``grpc_target`` = ``host:port``).

    One HTTP/2 connection per instance, dialed on first use; calls
    multiplex on it as new streams, so a task planned over many heights
    pays one dial.  A transport fault drops the connection and the call is
    retried with backoff on a fresh one (``streaming.retry.retry_node_call``,
    as ``HttpNode`` retries its GETs); a grpc-status error is not retried."""

    def __init__(self, options: dict):
        target = options.get("grpc_target", "localhost:50051")
        host, _, port = target.rpartition(":")
        self.host, self.port = host or "localhost", int(port)
        self._sock: socket.socket | None = None
        self._enc = HpackEncoder()
        self._lock = threading.Lock()

    def _connect(self) -> socket.socket:
        if self._sock is None:
            sock = socket.create_connection((self.host, self.port), timeout=10)
            sock.sendall(PREFACE + encode_frame(FRAME_SETTINGS, 0, 0, b""))
            self._sock = sock
            self._reader = FrameReader()
            self._dec = HpackDecoder()
            self._next_stream = 1
        return self._sock

    def _drop(self) -> None:
        if self._sock is not None:
            self._sock.close()
            self._sock = None

    def _call(self, method: str, request: bytes) -> bytes:
        return retry_node_call(lambda: self._call_once(method, request))

    def _call_once(self, method: str, request: bytes) -> bytes:
        """One unary exchange on a fresh odd stream id.  SETTINGS/PING
        bookkeeping is handled inline; response DATA is collected until the
        trailers frame, then grpc-status is enforced."""
        with self._lock:
            try:
                return self._exchange(method, request)
            except OSError:
                self._drop()
                raise

    def _exchange(self, method: str, request: bytes) -> bytes:
        sock = self._connect()
        sid = self._next_stream
        self._next_stream += 2
        headers = self._enc.encode([
            (":method", "POST"),
            (":scheme", "http"),
            (":path", f"/{SERVICE}/{method}"),
            (":authority", f"{self.host}:{self.port}"),
            ("content-type", "application/grpc"),
            ("te", "trailers"),
        ])
        sock.sendall(
            encode_frame(FRAME_HEADERS, FLAG_END_HEADERS, sid, headers)
            + encode_frame(FRAME_DATA, FLAG_END_STREAM, sid,
                           grpc_frame(request))
        )
        data = b""
        status: int | None = None
        message = ""
        done = False
        while not done:
            chunk = sock.recv(65536)
            if not chunk:
                raise OSError("connection closed mid-call")
            for ftype, flags, fsid, payload in self._reader.feed(chunk):
                if ftype == FRAME_SETTINGS and not flags & FLAG_ACK:
                    sock.sendall(encode_frame(FRAME_SETTINGS, FLAG_ACK, 0, b""))
                elif ftype == FRAME_PING and not flags & FLAG_ACK:
                    sock.sendall(encode_frame(FRAME_PING, FLAG_ACK, 0, payload))
                elif fsid != sid:
                    continue
                elif ftype == FRAME_HEADERS:
                    hdrs = dict(self._dec.decode(payload))
                    if "grpc-status" in hdrs:
                        status = int(hdrs["grpc-status"])
                        message = hdrs.get("grpc-message", "")
                    if flags & FLAG_END_STREAM:
                        done = True
                elif ftype == FRAME_DATA:
                    data += payload
                    if flags & FLAG_END_STREAM:
                        done = True
        if status is None or status != GRPC_OK:
            raise GrpcStatusError(status if status is not None else -1, message)
        msgs = grpc_unframe(data)
        return msgs[0] if msgs else b""

    def head(self) -> int:
        """GetLatestHeight — getLatestBlock().block.header.height
        (GrpcBlockFlow.kt:33)."""
        return _scalars(self._call("GetLatestHeight", b"")).get(1, 0)

    def fetch(self, height: int) -> tuple[str | None, str | None]:
        """GetBlockByHeight(height) → the canonical (block_json,
        block_results_json) pair every backend yields; NOT_FOUND is a
        missing block, ``(None, None)``, like ``HttpNode``'s 404."""
        try:
            body = self._call("GetBlockByHeight", pb_varint(1, height))
        except GrpcStatusError as exc:
            if exc.status == GRPC_NOT_FOUND:
                return None, None
            raise
        return _proto_to_pair(body, height)

    def close(self) -> None:
        if self._sock is not None:
            try:
                self._sock.sendall(encode_frame(FRAME_GOAWAY, 0, 0, b"\x00" * 8))
            except OSError:
                pass
            self._drop()
