"""RFC 6455 WebSocket transport for the push path (S1) — the real framing
layer under the ``wsfeed`` reader.

The reference's live path is a managed *websocket*: an HTTP/1.1 Upgrade
handshake, then masked client frames / unmasked server frames carrying
JSON-RPC ``subscribe`` traffic and pushed events, with reconnect backoff on
drop (es-core/.../stream/flows/WebSocketFlow.kt:65-115, lifecycle
EventStreamService.kt:36-73, subscription validation
NodeEventStream.kt:28-46, backoff Defaults.kt:51-67).  This module speaks
the actual RFC 6455 wire protocol over localhost TCP:

- HTTP Upgrade handshake with ``Sec-WebSocket-Key`` →
  ``Sec-WebSocket-Accept`` (SHA-1 + RFC GUID, base64), version 13 only.
- Frame codec: FIN/opcode/length (7-, 16-, 64-bit forms), client-to-server
  masking (mandatory — an unmasked client frame is a protocol error, close
  1002), fragmentation via continuation frames, interleaved control frames
  (ping/pong/close; control frames must be FIN and ≤125 bytes).
- Subscription is a Tendermint-shaped JSON-RPC call in the first text
  frame: ``{"jsonrpc":"2.0","method":"subscribe","id":"0","params":
  {"query":"tm.event='NewBlock'"}}``; the server acks with a ``result``
  response or refuses with a JSON-RPC ``error`` + close — the relay treats
  a refusal as terminal (the nodeEventStream ``require``), and any
  transport fault as reconnect-with-backoff.
- Pushed events are single text frames carrying the raw message JSON the
  node event stream emits.  The relay writes each frame's text to the feed
  as one line, unparsed: classification — including ``malformed`` for a
  frame that is not one JSON object — and envelope extraction
  (``result.data.value``) live in ``decode.decode_messages``, so a bad
  frame is dropped downstream instead of stopping the relay.

Durable-log resubscribe semantics: the server replays its retained log on
each subscribe (at-least-once delivery)
and the combined flow's height dedup (F5, MultiplexFlow.kt:142-145) makes
it exactly-once downstream.  The relay bridges frames into the offset-
replayable ``wsfeed`` buffer — Structured Streaming sources must be
replayable and a raw socket is not, so the buffer sits between transport
and engine exactly like the reference's 10k-slot channel
(MultiplexFlow.kt:73-80).
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import socket
import threading
import time
import zlib

from event_stream_spark.sources.wsfeed import (
    SUBSCRIPTION_NEW_BLOCK,
    _VALID_SUBSCRIPTIONS,
    append_messages,
    live_message_stream,
    open_connection,
)
from event_stream_spark.streaming.retry import backoff_millis

#: RFC 6455 §1.3 handshake GUID (a protocol constant, not a secret).
_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

OP_CONT, OP_TEXT, OP_BINARY, OP_CLOSE, OP_PING, OP_PONG = (
    0x0, 0x1, 0x2, 0x8, 0x9, 0xA,
)

#: close codes used here (RFC 6455 §7.4.1)
CLOSE_NORMAL = 1000
CLOSE_PROTOCOL_ERROR = 1002
CLOSE_POLICY_VIOLATION = 1008

#: RFC 7692 permessage-deflate, negotiated in the no-context-takeover mode
#: both ways (every message an independent raw-DEFLATE stream — no shared
#: compressor state across messages, so reconnects/replays can't desync)
PMD_OFFER = (
    "permessage-deflate; client_no_context_takeover; server_no_context_takeover"
)


def pmd_deflate(payload: bytes) -> bytes:
    """RFC 7692 §7.2.1 message compression: raw DEFLATE (windowBits −15),
    sync-flushed, with the trailing ``00 00 ff ff`` removed."""
    c = zlib.compressobj(9, zlib.DEFLATED, -15)
    out = c.compress(payload) + c.flush(zlib.Z_SYNC_FLUSH)
    if not out.endswith(b"\x00\x00\xff\xff"):
        raise ProtocolError("deflate sync flush missing the empty block")
    return out[:-4]


def pmd_inflate(data: bytes) -> bytes:
    """Inverse: re-append the flush block and inflate one message."""
    d = zlib.decompressobj(-15)
    try:
        return d.decompress(data + b"\x00\x00\xff\xff") + d.flush()
    except zlib.error as exc:
        raise ProtocolError(f"bad permessage-deflate payload: {exc}") from None


def accept_key(key: str) -> str:
    """``Sec-WebSocket-Accept`` for a client ``Sec-WebSocket-Key``
    (RFC 6455 §4.2.2 step 5.4: base64(SHA1(key + GUID)))."""
    digest = hashlib.sha1((key + _WS_GUID).encode("ascii")).digest()
    return base64.b64encode(digest).decode("ascii")


def _apply_mask(mask: bytes, data: bytes) -> bytes:
    """XOR ``data`` with the 4-byte ``mask`` (§5.3).  The XOR runs as one
    big-int operation — O(n) C-side, no per-byte Python loop."""
    if not data:
        return data
    n = len(data)
    reps = (n + 3) // 4
    keystream = (mask * reps)[:n]
    return (
        int.from_bytes(data, "big") ^ int.from_bytes(keystream, "big")
    ).to_bytes(n, "big")


def encode_frame(
    opcode: int, payload: bytes, *, mask: bool, fin: bool = True,
    rsv1: bool = False,
) -> bytes:
    """Serialize one frame (§5.2).  Client-originated frames set ``mask``;
    ``rsv1`` marks the first frame of a permessage-deflate message."""
    b0 = (0x80 if fin else 0x00) | (0x40 if rsv1 else 0x00) | (opcode & 0x0F)
    n = len(payload)
    head = bytearray([b0])
    mask_bit = 0x80 if mask else 0x00
    if n <= 125:
        head.append(mask_bit | n)
    elif n <= 0xFFFF:
        head.append(mask_bit | 126)
        head += n.to_bytes(2, "big")
    else:
        head.append(mask_bit | 127)
        head += n.to_bytes(8, "big")
    if mask:
        key = os.urandom(4)
        return bytes(head) + key + _apply_mask(key, payload)
    return bytes(head) + payload


class ProtocolError(ValueError):
    """A frame violating RFC 6455 (RSV bits, bad lengths, fragmented or
    oversized control frames, masking-direction violations)."""


class FrameDecoder:
    """Incremental frame parser: ``feed(bytes)`` returns complete frames as
    ``(fin, opcode, payload, masked)`` tuples — or 5-tuples with a trailing
    ``rsv1`` flag when ``extensions_rsv1`` is negotiated (permessage-
    deflate).  Partial input is buffered so byte-at-a-time delivery parses
    identically to one big chunk."""

    def __init__(self, *, extensions_rsv1: bool = False) -> None:
        self._buf = bytearray()
        self._rsv1_ok = extensions_rsv1

    def feed(self, data: bytes) -> list[tuple]:
        self._buf += data
        frames: list[tuple] = []
        while True:
            parsed = self._try_parse()
            if parsed is None:
                return frames
            frames.append(parsed)

    def _try_parse(self) -> tuple | None:
        buf = self._buf
        if len(buf) < 2:
            return None
        b0, b1 = buf[0], buf[1]
        if b0 & 0x30 or (b0 & 0x40 and not self._rsv1_ok):
            raise ProtocolError("nonzero RSV bits without an extension")
        rsv1 = bool(b0 & 0x40)
        fin, opcode = bool(b0 & 0x80), b0 & 0x0F
        masked, len7 = bool(b1 & 0x80), b1 & 0x7F
        pos = 2
        if len7 == 126:
            if len(buf) < pos + 2:
                return None
            n = int.from_bytes(buf[pos:pos + 2], "big")
            pos += 2
        elif len7 == 127:
            if len(buf) < pos + 8:
                return None
            n = int.from_bytes(buf[pos:pos + 8], "big")
            if n >> 63:
                raise ProtocolError("64-bit length with the high bit set")
            pos += 8
        else:
            n = len7
        if opcode >= 0x8 and (not fin or n > 125):
            raise ProtocolError("control frames must be FIN and <= 125 bytes")
        key = b""
        if masked:
            if len(buf) < pos + 4:
                return None
            key = bytes(buf[pos:pos + 4])
            pos += 4
        if len(buf) < pos + n:
            return None
        payload = bytes(buf[pos:pos + n])
        del buf[:pos + n]
        if masked:
            payload = _apply_mask(key, payload)
        if self._rsv1_ok:
            return fin, opcode, payload, masked, rsv1
        return fin, opcode, payload, masked


class _WsIO:
    """Shared send/assemble logic over a connected socket.  ``recv_messages``
    yields complete (possibly defragmented) *data* messages and answers
    pings transparently; close frames surface as ``(OP_CLOSE, payload)``."""

    def __init__(self, sock: socket.socket, *, mask_out: bool,
                 require_masked_in: bool, deflate: bool = False):
        self.sock = sock
        self.mask_out = mask_out
        self.require_masked_in = require_masked_in
        self.deflate = deflate
        self.decoder = FrameDecoder(extensions_rsv1=deflate)
        self._frag_op: int | None = None
        self._frag_parts: list[bytes] = []
        self._frag_compressed = False
        self._send_lock = threading.Lock()
        self.pongs = 0  # pongs received (liveness evidence for tests)
        self.compressed_in = 0  # messages that arrived RSV1-compressed

    def send(self, opcode: int, payload: bytes, *, fin: bool = True) -> None:
        rsv1 = False
        if self.deflate and fin and opcode in (OP_TEXT, OP_BINARY):
            payload = pmd_deflate(payload)
            rsv1 = True
        frame = encode_frame(
            opcode, payload, mask=self.mask_out, fin=fin, rsv1=rsv1
        )
        with self._send_lock:
            self.sock.sendall(frame)

    def send_close(self, code: int) -> None:
        try:
            self.send(OP_CLOSE, code.to_bytes(2, "big"))
        except OSError:
            pass

    def events(self, data: bytes) -> list[tuple[int, bytes]]:
        """Parse raw bytes into complete messages: ``(OP_TEXT|OP_BINARY,
        payload)`` for data, ``(OP_CLOSE, payload)`` for close.  Pings are
        answered inline; pongs are swallowed."""
        out: list[tuple[int, bytes]] = []
        for frame in self.decoder.feed(data):
            fin, opcode, payload, masked = frame[:4]
            rsv1 = frame[4] if len(frame) > 4 else False
            if masked != self.require_masked_in:
                raise ProtocolError(
                    "client frames must be masked, server frames must not"
                )
            if rsv1 and opcode >= 0x8:
                raise ProtocolError("RSV1 on a control frame")
            if opcode == OP_PING:
                self.send(OP_PONG, payload)
            elif opcode == OP_PONG:
                self.pongs += 1
            elif opcode == OP_CLOSE:
                out.append((OP_CLOSE, payload))
            elif opcode in (OP_TEXT, OP_BINARY):
                if self._frag_op is not None:
                    raise ProtocolError("new data frame inside a fragmented message")
                if fin:
                    if rsv1:
                        payload = pmd_inflate(payload)
                        self.compressed_in += 1
                    out.append((opcode, payload))
                else:
                    self._frag_op, self._frag_parts = opcode, [payload]
                    self._frag_compressed = rsv1
            elif opcode == OP_CONT:
                if self._frag_op is None:
                    raise ProtocolError("continuation frame with nothing to continue")
                if rsv1:
                    raise ProtocolError("RSV1 on a continuation frame")
                self._frag_parts.append(payload)
                if fin:
                    whole = b"".join(self._frag_parts)
                    if self._frag_compressed:
                        whole = pmd_inflate(whole)
                        self.compressed_in += 1
                    out.append((self._frag_op, whole))
                    self._frag_op, self._frag_parts = None, []
                    self._frag_compressed = False
            else:
                raise ProtocolError(f"reserved opcode {opcode:#x}")
        return out


def _read_until(sock: socket.socket, marker: bytes, limit: int = 65536) -> tuple[bytes, bytes]:
    """Read until ``marker``; returns (head_without_marker, overrun)."""
    buf = b""
    while marker not in buf:
        if len(buf) > limit:
            raise ProtocolError("handshake too large")
        chunk = sock.recv(65536)
        if not chunk:
            raise OSError("connection closed during handshake")
        buf += chunk
    head, rest = buf.split(marker, 1)
    return head, rest


def _parse_headers(raw: bytes) -> tuple[str, dict[str, str]]:
    lines = raw.decode("latin-1").split("\r\n")
    headers: dict[str, str] = {}
    for line in lines[1:]:
        if ":" in line:
            k, v = line.split(":", 1)
            headers[k.strip().lower()] = v.strip()
    return lines[0], headers


class WebSocketServer:
    """The node's websocket endpoint stand-in, speaking real RFC 6455:
    HTTP Upgrade handshake, JSON-RPC subscribe, retained log replayed on
    every subscribe, ``push``/``drop_connections``/``close`` for tests.
    Thread-per-connection.
    """

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self._srv = socket.create_server((host, port))
        self.host, self.port = self._srv.getsockname()[:2]
        self._log: list[str] = []
        self._clients: list[_WsIO] = []
        self._lock = threading.Lock()
        self._stopped = threading.Event()
        self.subscriptions = 0
        self.refused = 0  # JSON-RPC subscription refusals
        self.handshake_rejections = 0  # HTTP-level 400s
        self.protocol_errors = 0  # frames that violated RFC 6455
        self.deflate_sessions = 0  # permessage-deflate negotiations
        threading.Thread(target=self._accept_loop, daemon=True).start()

    def _accept_loop(self) -> None:
        while not self._stopped.is_set():
            try:
                sock, _ = self._srv.accept()
            except OSError:
                return
            threading.Thread(target=self._serve, args=(sock,), daemon=True).start()

    def _serve(self, sock: socket.socket) -> None:
        try:
            head, overrun = _read_until(sock, b"\r\n\r\n")
            request_line, headers = _parse_headers(head)
            key = headers.get("sec-websocket-key", "")
            ok = (
                request_line.upper().startswith("GET ")
                and headers.get("upgrade", "").lower() == "websocket"
                and "upgrade" in headers.get("connection", "").lower()
                and headers.get("sec-websocket-version") == "13"
                and key != ""
            )
            if not ok:
                self.handshake_rejections += 1
                sock.sendall(
                    b"HTTP/1.1 400 Bad Request\r\n"
                    b"Sec-WebSocket-Version: 13\r\n\r\n"
                )
                sock.close()
                return
            # RFC 7692 negotiation: accept a permessage-deflate offer in
            # the no-context-takeover mode; decline (omit the header — the
            # always-legal fallback) when the client constrains the server
            # window (we only speak windowBits 15)
            offer = headers.get("sec-websocket-extensions", "")
            deflate = (
                "permessage-deflate" in offer
                and "server_max_window_bits" not in offer
            )
            ext = f"Sec-WebSocket-Extensions: {PMD_OFFER}\r\n" if deflate else ""
            sock.sendall(
                (
                    "HTTP/1.1 101 Switching Protocols\r\n"
                    "Upgrade: websocket\r\n"
                    "Connection: Upgrade\r\n"
                    f"Sec-WebSocket-Accept: {accept_key(key)}\r\n"
                    f"{ext}\r\n"
                ).encode("ascii")
            )
            if deflate:
                self.deflate_sessions += 1
            io = _WsIO(
                sock, mask_out=False, require_masked_in=True, deflate=deflate
            )
            # --- first data message must be the JSON-RPC subscribe ---
            sub_req = self._next_data_message(io, overrun)
            if sub_req is None:
                sock.close()
                return
            req = json.loads(sub_req.decode("utf-8"))
            query = (req.get("params") or {}).get("query")
            rpc_id = req.get("id", "0")
            if req.get("method") != "subscribe" or query not in _VALID_SUBSCRIPTIONS:
                self.refused += 1
                io.send(OP_TEXT, json.dumps({
                    "jsonrpc": "2.0", "id": rpc_id,
                    "error": {
                        "code": -32600,
                        "message": f"unsupported subscription type: {query!r}",
                    },
                }).encode())
                io.send_close(CLOSE_POLICY_VIOLATION)
                sock.close()
                return
            io.send(OP_TEXT, json.dumps(
                {"jsonrpc": "2.0", "id": rpc_id, "result": {}}
            ).encode())
            with self._lock:
                # replay the retained log inside the lock so a concurrent
                # push() cannot interleave (no lost or reordered frames)
                for line in self._log:
                    io.send(OP_TEXT, line.encode())
                self._clients.append(io)
                self.subscriptions += 1
            self._pump_client(io)
        except ProtocolError:
            self.protocol_errors += 1
            try:
                _WsIO(sock, mask_out=False, require_masked_in=True).send_close(
                    CLOSE_PROTOCOL_ERROR
                )
            finally:
                sock.close()
        except (OSError, ValueError):
            sock.close()

    def _next_data_message(self, io: _WsIO, initial: bytes) -> bytes | None:
        """Block until one data message arrives (handshake overrun bytes
        first); ``None`` on clean close."""
        pending = io.events(initial) if initial else []
        while True:
            for opcode, payload in pending:
                if opcode == OP_CLOSE:
                    io.send_close(CLOSE_NORMAL)
                    return None
                return payload
            chunk = io.sock.recv(65536)
            if not chunk:
                return None
            pending = io.events(chunk)

    def _pump_client(self, io: _WsIO) -> None:
        """Post-subscribe read loop: answers pings, honors close."""
        try:
            while not self._stopped.is_set():
                chunk = io.sock.recv(65536)
                if not chunk:
                    return
                for opcode, _payload in io.events(chunk):
                    if opcode == OP_CLOSE:
                        io.send_close(CLOSE_NORMAL)
                        return
        except ProtocolError:
            self.protocol_errors += 1
            io.send_close(CLOSE_PROTOCOL_ERROR)
        except OSError:
            pass
        finally:
            io.sock.close()
            with self._lock:
                if io in self._clients:
                    self._clients.remove(io)

    def push(self, messages: list[str | dict]) -> None:
        """Append to the retained log and push to every live subscriber.
        A dict is sent as compact JSON, a string verbatim (so a test can
        push a frame that is not valid JSON)."""
        lines = [
            m if isinstance(m, str) else json.dumps(m, separators=(",", ":"))
            for m in messages
        ]
        with self._lock:
            self._log.extend(lines)
            alive = []
            for io in self._clients:
                try:
                    for line in lines:
                        io.send(OP_TEXT, line.encode())
                    alive.append(io)
                except OSError:
                    io.sock.close()
            self._clients = alive

    def ping(self, payload: bytes = b"") -> list[_WsIO]:
        """Send a ping to every live subscriber (keep-alive probe); returns
        the pinged connections so a test can await their ``pongs``."""
        with self._lock:
            ios = list(self._clients)
        for io in ios:
            try:
                io.send(OP_PING, payload)
            except OSError:
                pass
        return ios

    def drop_connections(self) -> None:
        """Failure injection: hard-close every live client socket (the
        mid-stream websocket drop of BlockDataFlowTest.kt:145-187) —
        deliberately NO close frame, the TCP session just dies."""
        with self._lock:
            for io in self._clients:
                try:
                    io.sock.shutdown(socket.SHUT_RDWR)
                except OSError:
                    pass
                io.sock.close()
            self._clients = []

    def close(self) -> None:
        self._stopped.set()
        self.drop_connections()
        self._srv.close()


#: relay reconnect policy: jittered exponential backoff from 50 ms, capped
#: at 1 s, and the TCP connect timeout
RECONNECT_BASE_BACKOFF_MILLIS = 50.0
RECONNECT_MAX_BACKOFF_MILLIS = 1000.0
CONNECT_TIMEOUT_S = 5.0


class WebSocketRelay:
    """Client half of the websocket lifecycle: Upgrade handshake (always
    offering permessage-deflate) → JSON-RPC subscribe → bridge pushed text
    frames into the wsfeed buffer; reconnect with exponential backoff on
    drop; terminal on refusal (HTTP non-101, bad ``Sec-WebSocket-Accept``,
    or a JSON-RPC error response)."""

    def __init__(
        self,
        host: str,
        port: int,
        feed_path: str,
        *,
        subscription: str = SUBSCRIPTION_NEW_BLOCK,
    ):
        self.host, self.port = host, port
        self.feed_path = feed_path
        self.subscription = subscription
        self.deflate_active = False  # negotiated on the CURRENT connection
        self.connections = 0
        self.error: Exception | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def reconnects(self) -> int:
        return max(0, self.connections - 1)

    def start(self) -> "WebSocketRelay":
        self._thread.start()
        return self

    def _handshake(self, sock: socket.socket) -> bytes:
        """HTTP Upgrade + JSON-RPC subscribe; returns overrun bytes.
        Raises ``ValueError`` (terminal) on refusal, ``OSError``/
        ``ProtocolError`` (retryable) on transport faults."""
        key = base64.b64encode(os.urandom(16)).decode("ascii")
        sock.sendall(
            (
                f"GET /websocket HTTP/1.1\r\n"
                f"Host: {self.host}:{self.port}\r\n"
                "Upgrade: websocket\r\n"
                "Connection: Upgrade\r\n"
                f"Sec-WebSocket-Key: {key}\r\n"
                f"Sec-WebSocket-Extensions: {PMD_OFFER}\r\n"
                "Sec-WebSocket-Version: 13\r\n\r\n"
            ).encode("ascii")
        )
        head, overrun = _read_until(sock, b"\r\n\r\n")
        status_line, headers = _parse_headers(head)
        if " 101 " not in status_line + " ":
            # the endpoint exists but refuses the upgrade — terminal
            raise ValueError(f"websocket upgrade refused: {status_line!r}")
        if headers.get("sec-websocket-accept") != accept_key(key):
            raise ValueError("Sec-WebSocket-Accept mismatch")
        accepted = headers.get("sec-websocket-extensions", "")
        self.deflate_active = "permessage-deflate" in accepted
        if self.deflate_active and "max_window_bits" in accepted:
            # the server demands a window we did not offer — RFC 7692 §7:
            # a client MUST fail the connection on unacceptable params
            raise ValueError("unacceptable permessage-deflate response params")
        return overrun

    def _run(self) -> None:
        attempt = 0
        while not self._stop.is_set():
            sock = None
            try:
                sock = socket.create_connection(
                    (self.host, self.port), timeout=CONNECT_TIMEOUT_S
                )
                overrun = self._handshake(sock)
                io = _WsIO(
                    sock, mask_out=True, require_masked_in=False,
                    deflate=self.deflate_active,
                )
                io.send(OP_TEXT, json.dumps({
                    "jsonrpc": "2.0", "method": "subscribe", "id": "0",
                    "params": {"query": self.subscription},
                }).encode())
                ack, pending = self._await_ack(io, overrun)
                if "error" in ack:
                    # the nodeEventStream require() — terminal, not a fault
                    self.error = ValueError(ack["error"].get("message", "refused"))
                    return
                open_connection(self.feed_path)
                self.connections += 1
                attempt = 0
                self._bridge(io, pending)
            except (OSError, ProtocolError):
                pass  # connect/read fault → backoff + reconnect below
            except ValueError as exc:
                # refusal (non-101, bad Accept, JSON-RPC error) — terminal.
                # ProtocolError subclasses ValueError and is caught ABOVE:
                # a garbled frame is a transport fault, not a refusal.
                if sock is not None:
                    sock.close()
                self.error = exc
                return
            finally:
                if sock is not None:
                    sock.close()
            if self._stop.is_set():
                return
            time.sleep(
                min(
                    backoff_millis(attempt, RECONNECT_BASE_BACKOFF_MILLIS),
                    RECONNECT_MAX_BACKOFF_MILLIS,
                )
                / 1000.0
            )
            attempt += 1

    def _await_ack(
        self, io: _WsIO, initial: bytes
    ) -> tuple[dict, list[tuple[int, bytes]]]:
        """First data message is the JSON-RPC response; frames the server
        pushed right behind it are returned for the bridge loop."""
        pending = io.events(initial) if initial else []
        while True:
            for i, (opcode, payload) in enumerate(pending):
                if opcode == OP_CLOSE:
                    raise OSError("server closed during subscribe")
                return json.loads(payload.decode("utf-8")), pending[i + 1:]
            chunk = io.sock.recv(65536)
            if not chunk:
                raise OSError("connection closed during subscribe")
            pending = io.events(chunk)

    def _bridge(self, io: _WsIO, pending: list[tuple[int, bytes]]) -> None:
        io.sock.settimeout(0.1)  # poll the stop flag between frames
        while not self._stop.is_set():
            # one feed line per frame, text unparsed; raw CR/LF can only be
            # insignificant whitespace in a JSON message, so they become spaces
            lines = [
                p.decode("utf-8", "replace").replace("\r", " ").replace("\n", " ")
                for op, p in pending
                if op == OP_TEXT and p
            ]
            if lines:
                append_messages(self.feed_path, lines)
            if any(op == OP_CLOSE for op, _ in pending):
                io.send_close(CLOSE_NORMAL)
                raise OSError("server sent close")  # reconnect path
            pending = []
            try:
                chunk = io.sock.recv(65536)
            except TimeoutError:
                continue
            if chunk == b"":
                raise OSError("EOF")  # reconnect path
            pending = io.events(chunk)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5.0)


def live_websocket_stream(
    spark,
    host: str,
    port: int,
    feed_path: str,
    *,
    subscription: str = SUBSCRIPTION_NEW_BLOCK,
    **options,
):
    """S1 over real RFC 6455: start the relay, return (stream, relay).
    The DataFrame is the same ``wsfeed`` stream — decode/throttle/dedup
    operators compose unchanged; the caller owns ``relay.stop()``."""
    relay = WebSocketRelay(host, port, feed_path, subscription=subscription).start()
    df = live_message_stream(spark, feed_path, subscription=subscription, **options)
    return df, relay
